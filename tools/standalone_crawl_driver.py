"""spark-submit driver for the standalone-cluster scaling study.

Runs the SAME crawl job bench.py measures, but inside a SparkSession whose
master/executor topology was fixed by spark-submit (a real multi-executor
Spark standalone cluster — executors are separate JVMs reached over RPC,
shuffle goes through the shuffle service path, and the webscraper_spark
package arrives via --py-files, exactly the north-rule deployment shape).

Usage (via spark-submit; see tools/standalone_study.py):
  spark-submit --master spark://127.0.0.1:7077 \
    --py-files /tmp/ws_pyfiles.zip \
    --conf spark.cores.max=2 --conf spark.executor.cores=2 ... \
    tools/standalone_crawl_driver.py <sf> <max_waves> <corpus_dir>

Prints one JSON line: {"sec": ..., "urls": ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf = float(sys.argv[1])
    max_waves = int(sys.argv[2])
    corpus_dir = sys.argv[3]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from webscraper_spark.session import ARROW_BATCH_ROWS

    # master/executor layout comes from spark-submit; only engine confs here
    # (the same ones session.get_spark sets for local mode).
    spark = (
        SparkSession.builder.appName("standalone_crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    def live_executors() -> int:
        # getExecutorMemoryStatus keys one BlockManager per executor plus the
        # driver's own; SparkExecutorInfo exposes no executor id to filter on,
        # so count map entries minus the driver.
        return spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1

    # Wait for the full grant before the timed run — a short-placed leg
    # (e.g. worker memory fitting only 3 of 4 executors) must FAIL LOUDLY,
    # not record a mislabeled pair.
    expected = int(spark.conf.get("spark.cores.max")) // int(spark.conf.get("spark.executor.cores"))
    deadline = time.time() + 60
    while live_executors() < expected and time.time() < deadline:
        time.sleep(1)
    n_exec_live = live_executors()
    if n_exec_live < expected:
        print(json.dumps({"error": f"only {n_exec_live}/{expected} executors granted"}))
        spark.stop()
        sys.exit(3)

    from webscraper_spark.plans.wave import CrawlConfig, run_crawl
    from webscraper_spark.sources.synth import load_pages

    def crawl(paths: dict[str, str], waves: int) -> tuple[float, int]:
        pages, bucketed = load_pages(spark, paths["pages"])
        seeds = (
            pages.filter(F.col("url").contains("/inventory?"))
            .select("url", F.lit(0).alias("depth"), F.lit(1.0).alias("priority"))
        )
        politeness = spark.createDataFrame(
            [("*", 1_000_000, 100)], "host string, max_pages_per_wave long, min_delay_ms long"
        )
        shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
        ckpt = tempfile.mkdtemp(prefix=f"standalone_ckpt_pid{os.getpid()}_", dir=shm)
        t0 = time.time()
        out = run_crawl(
            spark, pages, seeds,
            spark.read.parquet(paths["robots"]), politeness,
            ckpt, CrawlConfig(max_waves=waves, corpus_bucketed=bucketed),
        )
        n = spark.read.parquet(out["order"]).count()
        sec = time.time() - t0
        shutil.rmtree(ckpt, ignore_errors=True)
        return sec, n

    # untimed warmup at sf0.01 (same protocol as bench.py --crawl-job)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    warm = os.path.join(repo, ".cache", "corpus_sf0.01")
    if os.path.isdir(warm):
        crawl({n: os.path.join(warm, n) for n in ("pages", "robots")}, 2)

    paths = {n: os.path.join(corpus_dir, n) for n in ("pages", "robots")}
    sec, n = crawl(paths, max_waves)
    print(json.dumps({"sec": round(sec, 2), "urls": n, "sf": sf, "n_exec": live_executors()}))
    spark.stop()


if __name__ == "__main__":
    main()
