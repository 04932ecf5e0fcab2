"""Self-tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest crawlperf/ -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from inputs import WORKLOADS, bulk_inputs  # noqa: E402
from observe import jobs_in_window, parse_metric, self_times, summarize_sql, tail_percentile, wave_walls  # noqa: E402

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_parse_metric_formats():
    assert parse_metric(None) == 0.0
    assert parse_metric("1,988") == 1988
    assert parse_metric("26 ms") == pytest.approx(0.026)
    assert parse_metric("2.9 s") == pytest.approx(2.9)
    assert parse_metric("1.5 m") == pytest.approx(90.0)
    assert parse_metric("16.0 MiB") == 16 * 2**20
    agg = "total (min, med, max (stageId: taskId))\n212.2 KiB (16.6 KiB, 22.5 KiB, 33.6 KiB (stage 41.0: task 185))"
    assert parse_metric(agg) == pytest.approx(212.2 * 1024)


def test_plan_metrics_of_recorded_status_store_sample():
    """Spark 4.1.2 names, as the status store returned them for a crawl."""
    with open(os.path.join(HERE, "fixtures", "status_store_sample.json")) as f:
        sample = json.load(f)
    s = summarize_sql(sample["executions"])
    assert s["python_run_s"] == pytest.approx(2.0 + 4.6)  # 'time to run Python workers'
    assert s["worker_start_s"] == pytest.approx(0.026 + 2.4 + 2.6 + 2.0)  # start + initialize
    assert s["arrow_bytes_sent"] == pytest.approx(222.5 * 1024)  # 'data sent to Python workers'
    assert s["arrow_rows"] == 179
    assert s["broadcast_build_s"] == pytest.approx(0.014 + 0.012 + 0.018 + 0.013 + 0.001)
    assert s["shuffle_bytes"] == pytest.approx(472 + 2.8 * 1024 + 8.6 * 1024 + 767 + 692)
    assert s["spill_bytes"] == 0


def _span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_covered_child_intervals():
    rows = [
        _span(0, "parent", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 3.0),
        _span(2, "b", 0, 2.0, 5.0),  # overlaps a: the union 1..5 counts once
        _span(3, "a", 0, 7.0, 8.0),
        _span(4, "c", 0, 9.0, 12.0),  # runs past the parent: clipped at 10
        _span(5, "leaf", 2, 2.5, 3.0),
    ]
    st = self_times(rows)
    assert st["parent"] == pytest.approx(10.0 - (4.0 + 1.0 + 1.0))
    assert st["a"] == pytest.approx(3.0)
    assert st["b"] == pytest.approx(3.0 - 0.5)
    assert st["c"] == pytest.approx(3.0)
    assert st["leaf"] == pytest.approx(0.5)


def _success(path: str, mtime: float) -> None:
    os.makedirs(path, exist_ok=True)
    marker = os.path.join(path, "_SUCCESS")
    open(marker, "w").close()
    os.utime(marker, (mtime, mtime))


def test_wave_walls_from_success_mtimes(tmp_path):
    ckpt = str(tmp_path)
    _success(os.path.join(ckpt, "wave=0", "fetched"), 104.0)
    _success(os.path.join(ckpt, "wave=0", "frontier"), 105.0)
    _success(os.path.join(ckpt, "wave=1", "fetched"), 112.0)
    _success(os.path.join(ckpt, "wave=1", "frontier"), 113.5)
    os.makedirs(os.path.join(ckpt, "wave=2", "fetched"))  # died mid-wave: not a wave
    for t, m in (("order", 115.0), ("seen", 116.0), ("metrics", 115.5)):
        _success(os.path.join(ckpt, t), m)
    ww = wave_walls(ckpt, [100.0])
    assert [w["wave"] for w in ww["waves"]] == [0, 1]
    w0, w1 = ww["waves"]
    assert (w0["wall_s"], w0["fetch_s"], w0["expand_s"]) == (5.0, 4.0, 1.0)
    assert (w1["wall_s"], w1["fetch_s"], w1["expand_s"]) == (8.5, 7.0, 1.5)
    assert ww["finalize_s"] == 2.5
    # a second run_crawl call (resume) starts its first wave at the call
    assert wave_walls(ckpt, [100.0, 106.0])["waves"][1]["wall_s"] == 7.5


def test_jobs_in_window_and_uncovered_time():
    jobs = [
        {"submit": 0.5, "end": 2.0, "tasks": 4},  # starts before the window
        {"submit": 1.5, "end": 3.0, "tasks": 8},
        {"submit": 6.0, "end": 7.0, "tasks": 2},
        {"submit": 11.0, "end": 12.0, "tasks": 1},  # after the window
    ]
    w = jobs_in_window(jobs, 1.0, 10.0)
    assert (w["jobs"], w["tasks"]) == (2, 10)
    assert w["no_job_s"] == pytest.approx(9.0 - (2.0 + 1.0))


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)
    pct, v = tail_percentile([float(i) for i in range(30)])
    assert v == 19.0 and pct == pytest.approx(100 * 20 / 30)
    assert sum(1 for i in range(30) if i > v) == 10


def test_seed_changes_spelling_not_work():
    from webscraper_spark.oracle.seq_oracle import canonicalize

    clean = {"listing_urls": [f"https://dealer{i}.example/inventory?page={p}&sort=date"
                              for i in range(40) for p in range(5)],
             "hosts": [f"dealer{i}.example" for i in range(40)]}
    a, b = bulk_inputs(1, clean), bulk_inputs(2, clean)
    assert a == bulk_inputs(1, clean)
    assert a["seeds"] != b["seeds"] and len(a["seeds"]) > len(clean["listing_urls"])
    for x in (a, b):
        assert {canonicalize(u) for u in x["seeds"]} == set(clean["listing_urls"])
        assert len(x["politeness"]) == len(b["politeness"])


def _write_sheet(path, rows):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-0.parquet"))


def test_sheet_check_against_pricing_oracle(tmp_path):
    from checks import check_sheet
    from webscraper_spark.oracle.pricing_oracle import pricing, reselling_prices

    cars = {"https://d.example/ad/1": [21990, 150, 1998, "Diesel", 120]}
    fees, resell = pricing(*cars["https://d.example/ad/1"]), reselling_prices(21990)
    rows = [{"url": "https://d.example/ad/1", "duration": d, "package": p,
             "variant_price": fees[f"preis_{d}_{p}"], "reselling_price": resell[f"{d}_{p}"]}
            for d in range(3, 13) for p in ("s", "m", "l", "xl", "xxl") if not (d >= 4 and p == "s")]
    assert len(rows) == 41
    _write_sheet(str(tmp_path / "good"), rows)
    assert all(check_sheet(str(tmp_path / "good"), cars).values())
    bad = [dict(r) for r in rows]
    bad[7]["variant_price"] += 1
    _write_sheet(str(tmp_path / "bad"), bad)
    v = check_sheet(str(tmp_path / "bad"), cars)
    assert not v["prices_equal_oracle"] and v["rows_per_car_41"]
    _write_sheet(str(tmp_path / "short"), rows[:-1])
    assert not check_sheet(str(tmp_path / "short"), cars)["rows_per_car_41"]


def test_names_match_benchmark_json():
    from run import END_TO_END, per_layer_metrics

    assert tuple(w["name"] for w in BENCH["workloads"]) == WORKLOADS
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END
    layers = per_layer_metrics(*[_FakeInputs() for _ in range(4)])
    assert set(layers) == {m["name"] for m in BENCH["per_layer"]}


class _FakeInputs(dict):
    """Answers 1.0 for any key: the layer table only needs names here."""

    def __missing__(self, key):
        return 1.0
