"""Build step: everything cached across runs, made outside every measured run.

    python3 crawlperf/build.py <seed> [oracle]

run from the checkout root, in its own process (and JVM), before the
runner's measured process starts. It makes, once per checkout:
- the sf0.01 synthetic corpus (`materialize_corpus`) and the clean seed
  lists (`inputs.json`);
- the dealer_export input: the ok rows of one bulk crawl, and the pricing
  inputs of its eligible priceable cars, for the sheet check;
and, with `oracle`, once per canonical bulk-crawl input, the sequential
oracle's answer.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from inputs import (  # noqa: E402
    BULK_MAX_WAVES, SF, bulk_inputs, cache_dir, corpus_dir, dump_json, export_input_dir, load_json, oracle_key,
)


def _clean_inputs(cdir: str) -> dict:
    import pyarrow.parquet as pq

    urls = pq.read_table(os.path.join(cdir, "pages"), columns=["url"]).column("url").to_pylist()
    hosts = pq.read_table(os.path.join(cdir, "robots"), columns=["host"]).column("host").to_pylist()
    return {"listing_urls": sorted(u for u in urls if "/inventory?" in u), "hosts": sorted(hosts)}


def build_products(root: str) -> None:
    from pyspark.sql import functions as F

    import sparkhost
    from workloads import Crawl

    cache = cache_dir(root)
    scratch = os.path.join(cache, "build_scratch")
    spark = sparkhost.start_spark(root, scratch, "crawlperf-build")
    try:
        from webscraper_spark.functions.derive import eligibility, with_typed
        from webscraper_spark.functions.pricing import with_car_pricing_inputs
        from webscraper_spark.sources.synth import materialize_corpus

        cdir = corpus_dir(root)
        materialize_corpus(spark, SF, cdir)
        clean = _clean_inputs(cdir)
        dump_json(clean, os.path.join(cache, "inputs.json"))

        crawl = Crawl(root, {"seeds": clean["listing_urls"], "politeness": [("*", 1_000_000, 100)]})
        crawl.setup(spark)
        it = crawl.iteration(scratch)
        out = export_input_dir(root)
        (spark.read.parquet(os.path.join(it["ckpt"], "wave=*", "fetched"))
         .filter(F.col("x_status") == "ok").write.mode("overwrite").parquet(out))
        cars = (with_car_pricing_inputs(with_typed(spark.read.parquet(out)))
                .filter(eligibility() & F.col("priceable"))
                .select("url", "price_i", "ps_i", "hub_i", "x_fuel", "co2_i").collect())
        dump_json({r.url: [r.price_i, r.ps_i, r.hub_i, r.x_fuel, r.co2_i] for r in cars},
                  os.path.join(cache, "export_cars.json"))
    finally:
        sparkhost.stop_all(spark)
        shutil.rmtree(scratch, ignore_errors=True)


def build_oracle(root: str, inputs: dict, path: str) -> None:
    import pyarrow.parquet as pq

    from webscraper_spark.oracle.seq_oracle import crawl_oracle

    cdir = corpus_dir(root)
    t = pq.read_table(os.path.join(cdir, "pages"), columns=["url", "html"])
    pages = {u: (h.decode("utf-8") if h is not None else None)
             for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist())}
    r = pq.read_table(os.path.join(cdir, "robots")).to_pylist()
    robots = {x["host"]: (list(x["disallow_prefixes"] or []), x["crawl_delay_ms"]) for x in r}
    politeness = {h: (mx, dl) for h, mx, dl in inputs["politeness"]}
    order, seen, schedule = crawl_oracle(pages, inputs["seeds"], robots, politeness, BULK_MAX_WAVES)
    dump_json({"order": order, "seen": seen, "schedule": schedule}, path)


def main() -> None:
    seed = int(sys.argv[1])
    root = os.getcwd()
    cache = cache_dir(root)
    os.makedirs(cache, exist_ok=True)
    with open(os.path.join(cache, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        built = os.path.join(cache, "_BUILT")
        if not os.path.exists(built):
            build_products(root)
            open(built, "w").close()
        if sys.argv[2:] != ["oracle"]:
            return
        inputs = bulk_inputs(seed, load_json(os.path.join(cache, "inputs.json")))
        os.makedirs(os.path.join(cache, "oracle"), exist_ok=True)
        path = os.path.join(cache, "oracle", oracle_key(inputs) + ".json")
        if not os.path.exists(path):
            build_oracle(root, inputs, path)


if __name__ == "__main__":
    main()
