"""Crawl benchmark runner.

    python3 crawlperf/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: crawl_bulk, dealer_export (see
NOTES.md). The build step (build.py, its own process) makes the cached
corpus, export input and oracle answers first. Then one process launches
Spark on `local[nproc]` with `task.cpus=2`, sets up seven times (session
start or restart, input load) and reports the median as `setup_s`, runs
the workload's untimed warm-up, then runs timed iterations in a closed loop
until `--seconds` of iteration wall have passed (at least one), checking
every output after its iteration, outside the timed window.

The last stdout line is one JSON object: correct, attempted, failed, and
the end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
The line before it holds the details: posture, per-iteration rates and
check verdicts, and the per-layer numbers of the untraced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from inputs import WORKLOADS, bulk_inputs, cache_dir, corpus_dir, load_json, oracle_key  # noqa: E402

END_TO_END = {
    "urls_per_s": "1/s", "export_rows_per_s": "1/s", "setup_s": "s",
    "peak_rss_mb": "MB", "ckpt_bytes_per_url": "B", "export_bytes_per_row": "B",
}
SETUP_REPEATS = 7
REPLAY_WAVE = 1  # the bulk crawl's detail wave


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def ckpt_counts(ckpt: str) -> dict:
    """Funnel counts from the checkpoint, read with pyarrow."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from workloads import parquet_rows

    c = {"fetched": 0, "fetch_ok": 0, "extract_ok": 0, "outlinks": 0, "frontier": 0}
    for wdir in glob.glob(os.path.join(ckpt, "wave=*")):
        t = pq.read_table(os.path.join(wdir, "fetched"), columns=["fetch_status", "x_status", "x_outlinks_canon"])
        c["fetched"] += t.num_rows
        c["fetch_ok"] += pc.sum(pc.equal(t["fetch_status"], "ok")).as_py() or 0
        c["extract_ok"] += pc.sum(pc.equal(t["x_status"], "ok")).as_py() or 0
        c["outlinks"] += pc.sum(pc.list_value_length(t["x_outlinks_canon"])).as_py() or 0
        c["frontier"] += parquet_rows(os.path.join(wdir, "frontier"))
    return c


def crawl_layers(spark, it: dict, exec0: int, job0: int) -> dict:
    """Per-layer numbers of one untraced crawl: plan metrics, job records
    and checkpoint mtimes and counts. No Spark job is added."""
    from observe import jobs_in_window, jobs_since, sql_metrics_since, summarize_sql, wave_walls

    sql = summarize_sql(sql_metrics_since(spark, exec0))
    jobs = jobs_since(spark, job0)
    ww = wave_walls(it["ckpt"], it["call_starts"])
    per = [jobs_in_window(jobs, w["start"], w["end"]) for w in ww["waves"]]
    c = ckpt_counts(it["ckpt"])
    return {
        "wave_walls": [w["wall_s"] for w in ww["waves"]],
        "plans.wave.fetch_phase_s": sum(w["fetch_s"] for w in ww["waves"]),
        "plans.wave.expand_phase_s": sum(w["expand_s"] for w in ww["waves"]),
        "plans.wave.finalize_s": ww["finalize_s"],
        "plans.wave.jobs_per_wave": _median([p["jobs"] for p in per]),
        "plans.wave.tasks_per_wave": _median([p["tasks"] for p in per]),
        "plans.wave.no_job_s_per_wave": _median([p["no_job_s"] for p in per]),
        "plans.wave.broadcast_build_s": sql["broadcast_build_s"],
        "plans.wave.shuffle_bytes_per_url": sql["shuffle_bytes"] / it["urls"],
        "plans.wave.spill_bytes": sql["spill_bytes"],
        "plans.wave.fetch_hit_ratio": c["fetch_ok"] / c["fetched"],
        "plans.wave.outlinks_per_page": c["outlinks"] / c["fetch_ok"],
        "plans.wave.frontier_dedup_ratio": c["frontier"] / c["outlinks"],
        "functions.extract_pandas.python_run_s": sql["python_run_s"],
        "functions.extract_pandas.worker_start_s": sql["worker_start_s"],
        "functions.extract_pandas.arrow_bytes_per_row": sql["arrow_bytes_sent"] / max(sql["arrow_rows"], 1),
        "functions.extract_pandas.ok_ratio": c["extract_ok"] / c["fetched"],
    }


class Runner:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.cache = cache_dir(root)
        self.scratch = os.path.join(self.cache, f"run-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.verdicts: list[dict] = []
        self.texts = None
        self.is_crawl = args.workload == "crawl_bulk"
        self.rate_key = "urls_per_s" if self.is_crawl else "export_rows_per_s"
        if self.is_crawl:
            self.wl = self._crawl()
        else:
            from workloads import Export

            self.wl = Export(root)
            self.cars = load_json(os.path.join(self.cache, "export_cars.json"))

    def _crawl(self):
        from workloads import Crawl

        inputs = bulk_inputs(self.args.seed, load_json(os.path.join(self.cache, "inputs.json")))
        crawl = Crawl(self.root, inputs)
        crawl.answer = load_json(os.path.join(self.cache, "oracle", oracle_key(inputs) + ".json"))
        return crawl

    def check(self, wl, it: dict) -> None:
        """Run the output checks of one iteration; count it as failed if any fails."""
        from checks import check_crawl, check_sheet, corpus_texts

        if hasattr(wl, "answer"):
            if self.texts is None:
                self.texts = corpus_texts(os.path.join(corpus_dir(self.root), "pages"))
            verdict = check_crawl(it["ckpt"], wl.answer, self.texts)
        else:
            verdict = check_sheet(it["sheet"], self.cars)
        self.attempted += 1
        self.failed += not all(verdict.values())
        self.verdicts.append({"workload": wl.name, **verdict})

    def set_up(self) -> list[float]:
        """Seven set-ups (session start or restart, input load); then the
        workload's untimed warm-up in the last session."""
        import sparkhost

        walls = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = sparkhost.start_spark(self.root, self.scratch, f"crawlperf-{self.args.workload}")
            self.wl.setup(self.spark)
            walls.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.wl.warm_up(self.scratch)
        self.warm_up_s = time.perf_counter() - t0
        return walls

    def timed(self, seconds: float) -> tuple[list[dict], dict]:
        """Closed loop: iterations until `seconds` of iteration wall passed."""
        from observe import ProcSampler, executor_gc_s, last_execution_id, last_job_id

        spark, iters, measured = self.spark, [], 0.0
        gc0 = executor_gc_s(spark)
        with ProcSampler() as ps:
            while True:
                exec0, job0 = last_execution_id(spark), last_job_id(spark)
                it = self.wl.iteration(self.scratch)
                measured += it["wall_s"]
                self.check(self.wl, it)
                if self.is_crawl:
                    it["layers"] = crawl_layers(spark, it, exec0, job0)
                iters.append(it)
                if measured >= seconds:
                    break
        session = {"session.gc_s": executor_gc_s(spark) - gc0, "session.python_workers_peak": ps.peak_python,
                   "peak_rss_mb": ps.peak_rss / 2**20}
        return iters, session

    def end_to_end(self, setups: list[float]) -> tuple[dict, dict]:
        iters, session = self.timed(self.args.seconds)
        values = {k: _median([it[k] for it in iters])
                  for k in ("urls_per_s", "export_rows_per_s", "ckpt_bytes_per_url", "export_bytes_per_row")}
        values["setup_s"] = _median(setups)
        values["peak_rss_mb"] = session["peak_rss_mb"]
        with open(os.path.join(self.cache, "untraced_rates.jsonl"), "a") as f:
            f.write(json.dumps({"workload": self.args.workload, "rate": values[self.rate_key]}) + "\n")
        layers = {}
        if self.is_crawl:
            names = [k for k in iters[0]["layers"] if k != "wave_walls"]
            layers = {k: _median([it["layers"][k] for it in iters]) for k in names}
            layers.update(wave_stats([w for it in iters for w in it["layers"]["wave_walls"]]))
        layers.update({k: v for k, v in session.items() if k.startswith("session.")})
        detail = {"iterations": [{k: v for k, v in it.items() if isinstance(v, (int, float))} for it in iters],
                  "layers": layers}
        return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}, detail

    def traced(self, setups: list[float]) -> tuple[dict, dict]:
        from observe import (
            ProcSampler, Spans, executor_gc_s, last_execution_id, last_job_id, self_times, wave_walls,
        )
        from trace import Replay, kernel_rows_per_s, replay_export, replay_wave

        spark, wl = self.spark, self.wl
        base = untraced_rates(self.cache, self.args.workload)
        if not base:
            base = [it[self.rate_key] for it in self.timed(0)[0]]

        spans = Spans()
        gc0, exec0, job0 = executor_gc_s(spark), last_execution_id(spark), last_job_id(spark)
        with ProcSampler() as ps, spans.span("e2e"):
            it = wl.iteration(self.scratch)
        gc_s = executor_gc_s(spark) - gc0
        self.check(wl, it)
        if self.is_crawl:
            crawl, crawl_it = wl, it
        else:
            crawl = self._crawl()
            crawl.setup(spark)
            exec0, job0 = last_execution_id(spark), last_job_id(spark)
            crawl_it = crawl.iteration(os.path.join(self.scratch, "context"))
            self.check(crawl, crawl_it)
        layers = crawl_layers(spark, crawl_it, exec0, job0)
        walls = layers.pop("wave_walls")
        rp = Replay(spark, spans, self.scratch)
        replay_wave(rp, crawl, crawl_it["ckpt"], REPLAY_WAVE)
        if self.is_crawl:
            ok = os.path.join(self.scratch, "export_input")
            (spark.read.parquet(os.path.join(crawl_it["ckpt"], "wave=*", "fetched"))
             .filter("x_status = 'ok'").write.mode("overwrite").parquet(ok))
            replay_export(rp, spark.read.parquet(ok))
        else:
            replay_export(rp, wl.results)
        kernel = kernel_rows_per_s(os.path.join(corpus_dir(self.root), "pages"))

        replay_id = next(r["id"] for r in spans.rows if r["name"] == "replay.wave")
        replay_children = sum(r["end"] - r["start"] for r in spans.rows if r["parent"] == replay_id)
        wave_wall = wave_walls(crawl_it["ckpt"], crawl_it["call_starts"])["waves"][REPLAY_WAVE]["wall_s"]
        layers.update(wave_stats(walls))
        extra = {"load_s": crawl.load_s, "kernel_rows_per_s": kernel, "gc_s": gc_s,
                 "python_workers_peak": ps.peak_python, "coverage": replay_children / wave_wall,
                 "overhead_frac": 1.0 - it[self.rate_key] / _median(base)}
        metrics = per_layer_metrics(layers, self_times(spans.rows), rp.counts, extra)
        os.makedirs(os.path.join(self.cache, "traces"), exist_ok=True)
        with open(os.path.join(self.cache, "traces", f"{self.args.workload}-seed{self.args.seed}.json"), "w") as f:
            json.dump({"spans": spans.rows, "counts": rp.counts}, f)
        units = per_layer_units()
        return ({k: {"value": metrics[k], "unit": units[k]} for k in units},
                {"counts": rp.counts, "untraced_rates": base, "wave_layers": layers})

    def run(self) -> tuple[dict, dict]:
        import sparkhost

        try:
            setups = self.set_up()
            metrics, detail = (self.traced if self.args.trace else self.end_to_end)(setups)
        finally:
            sparkhost.stop_all(self.spark)
            shutil.rmtree(self.scratch, ignore_errors=True)
        detail.update({"workload": self.args.workload, "seed": self.args.seed, "setup_runs_s": setups,
                       "warm_up_s": self.warm_up_s,
                       "posture": sparkhost.posture(self.root, self.scratch), "checks": self.verdicts})
        return metrics, detail


def per_layer_metrics(wave: dict, spans: dict, n: dict, extra: dict) -> dict:
    """The per-layer table of a traced run.

    wave: per-layer numbers of the untraced-style crawl (crawl_layers plus
    wave_stats); spans: replay self times by span name; n: row counts at
    the replay boundaries; extra: the remaining measurements.
    """
    keep = ("plans.wave.wave_s_p50", "plans.wave.wave_s_tail", "plans.wave.fetch_phase_s",
            "plans.wave.expand_phase_s", "plans.wave.finalize_s", "plans.wave.jobs_per_wave",
            "plans.wave.tasks_per_wave", "plans.wave.no_job_s_per_wave", "plans.wave.broadcast_build_s",
            "plans.wave.shuffle_bytes_per_url", "plans.wave.spill_bytes", "plans.wave.fetch_hit_ratio",
            "plans.wave.outlinks_per_page", "plans.wave.frontier_dedup_ratio",
            "functions.extract_pandas.python_run_s", "functions.extract_pandas.worker_start_s",
            "functions.extract_pandas.arrow_bytes_per_row", "functions.extract_pandas.ok_ratio")
    out = {k: wave[k] for k in keep}
    out.update({
        "sources.synth.load_s": extra["load_s"],
        "operators.seen.anti_join_s": spans["operators.seen.anti_join"],
        "operators.seen.kept_ratio": n["not_seen"] / n["frontier"],
        "operators.seen.seen_rows": n["seen_rows"],
        "operators.robots.apply_s": spans["operators.robots.apply"],
        "operators.robots.kept_ratio": n["allowed"] / n["not_seen"],
        "operators.schedule.rank_s": spans["operators.schedule.rank"],
        "operators.schedule.in_budget_ratio": n["in_budget"] / n["ranked"],
        "plans.wave.expand_s": spans["plans.wave.expand"],
        "plans.wave.merge_s": spans["plans.wave.merge"],
        "functions.extract_pandas.udf_s": spans["functions.extract_pandas.udf"],
        "functions.extract_pandas.kernel_rows_per_s": extra["kernel_rows_per_s"],
        "functions.extract.text_s": spans["functions.extract.text"],
        "functions.derive.typed_s": spans["functions.derive.typed"],
        "functions.derive.tags_s": spans["functions.derive.tags"],
        "functions.derive.eligible_ratio": n["eligible"] / n["export_input"],
        "functions.pricing.matrix_s": spans["functions.pricing.matrix"],
        "functions.pricing.rows_per_car": n["sheet_rows"] / n["priced_cars"],
        "functions.shopify.sheet_s": spans["functions.shopify.sheet"],
        "functions.shopify.write_s": spans["functions.shopify.write"],
        "session.gc_s": extra["gc_s"],
        "session.python_workers_peak": extra["python_workers_peak"],
        "trace.coverage": extra["coverage"],
        "trace.overhead_frac": extra["overhead_frac"],
    })
    return out


def wave_stats(walls: list[float]) -> dict:
    from observe import tail_percentile

    pct, tail = tail_percentile(walls)
    return {"plans.wave.wave_s_p50": _median(walls), "plans.wave.wave_s_tail": tail,
            "plans.wave.wave_s_tail_pct": pct, "plans.wave.waves": len(walls)}


def untraced_rates(cache: str, workload: str) -> list[float]:
    path = os.path.join(cache, "untraced_rates.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [r["rate"] for r in map(json.loads, f) if r["workload"] == workload]


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "webscraper_spark")):
        sys.exit(f"crawlperf: run from the repository root; no webscraper_spark package in {root}")
    # The oracle answer is needed by every crawl: the crawl_bulk runs and
    # dealer_export's traced run.
    need_oracle = args.workload == "crawl_bulk" or args.trace
    subprocess.run([sys.executable, os.path.join(HERE, "build.py"), str(args.seed)] + ["oracle"] * need_oracle,
                   cwd=root, check=True, timeout=900)
    runner = Runner(args, root)
    metrics, detail = runner.run()
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": runner.attempted > 0 and runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
