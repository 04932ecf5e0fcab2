"""The workloads: set-up, warm-up and one timed iteration each.

Each is a closed loop with one client: an iteration starts when the
previous one (and its output checks) ended. Everything the program sees is
a table made from the build's corpus and the seed's inputs.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pyarrow.parquet as pq

from inputs import BULK_MAX_WAVES, SHEET_KEYS, corpus_dir, export_input_dir


def parquet_rows(path: str) -> int:
    """Rows of a parquet dir (or glob of dirs) from footers: no Spark job."""
    files = glob.glob(os.path.join(path, "*.parquet"))
    return sum(pq.read_metadata(f).num_rows for f in files)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Crawl:
    """crawl_bulk: one `run_crawl` seeded with every listing page."""

    name = "crawl_bulk"

    def __init__(self, root: str, inputs: dict):
        self.root = root
        self.inputs = inputs

    def setup(self, spark) -> None:
        from webscraper_spark.sources.synth import load_pages

        cdir = corpus_dir(self.root)
        self.spark = spark
        t0 = time.perf_counter()
        self.pages, self.bucketed = load_pages(spark, os.path.join(cdir, "pages"))
        self.load_s = time.perf_counter() - t0
        self.robots = spark.read.parquet(os.path.join(cdir, "robots"))
        self.seeds = spark.createDataFrame([(u, 0, 1.0) for u in self.inputs["seeds"]],
                                           "url string, depth int, priority double")
        self.politeness = spark.createDataFrame(self.inputs["politeness"],
                                                "host string, max_pages_per_wave long, min_delay_ms long")

    def _run(self, seeds, ckpt: str, max_waves: int) -> dict:
        from webscraper_spark.plans.wave import CrawlConfig, run_crawl

        return run_crawl(self.spark, self.pages, seeds, self.robots, self.politeness, ckpt,
                         CrawlConfig(max_waves=max_waves, corpus_bucketed=self.bucketed))

    def warm_up(self, scratch: str) -> None:
        """None: the timed crawl is the session's first, as a crawl job's is.
        Only a whole crawl warms the next one (the JIT and the Python workers
        keep warming over it), and that does not fit the run's time budget
        (NOTES.md)."""

    def iteration(self, scratch: str) -> dict:
        ckpt = os.path.join(scratch, "ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.perf_counter()
        starts = [time.time()]
        out = self._run(self.seeds, ckpt, BULK_MAX_WAVES)
        urls = parquet_rows(out["order"])
        wall = time.perf_counter() - t0
        final = [os.path.join(ckpt, t) for t in ("order", "seen", "metrics")]
        final_rows = sum(parquet_rows(p) for p in final)
        return {
            "wall_s": wall, "urls": urls, "ckpt": ckpt, "call_starts": starts,
            "urls_per_s": urls / wall,
            "export_rows_per_s": final_rows / wall,
            "ckpt_bytes_per_url": dir_bytes(ckpt) / urls,
            "export_bytes_per_row": sum(dir_bytes(p) for p in final) / final_rows,
        }


def export_sheet(spark, results, out_dir: str) -> None:
    """The dealer pipeline over crawled ok rows, written as parquet:
    with_typed -> eligibility -> with_tags -> price_matrix -> variant_rows
    -> shopify_sheet (the composition `__spark_entry__.entry` ships)."""
    from webscraper_spark.functions.derive import (
        eligibility, preis_tag, shopify_body, tags_string, with_identity, with_tags, with_typed,
    )
    from webscraper_spark.functions.pricing import (
        preis_12_s_expr, price_dims, price_matrix, variant_rows, with_car_pricing_inputs,
    )
    from webscraper_spark.functions.shopify import shopify_sheet

    cars = with_car_pricing_inputs(with_typed(results)).filter(eligibility())
    cars = (with_tags(with_identity(cars)).withColumn("preis_tag", preis_tag(preis_12_s_expr()))
            .withColumn("tags", tags_string()).withColumn("body_html", shopify_body()))
    v = variant_rows(price_matrix(cars, price_dims(spark)))
    shopify_sheet(v, keys=SHEET_KEYS).write.mode("overwrite").parquet(out_dir)


class Export:
    """dealer_export: the Shopify sheet from one bulk crawl's ok rows."""

    name = "dealer_export"

    def __init__(self, root: str):
        self.root = root
        self.input_dir = export_input_dir(root)
        self.input_rows = parquet_rows(self.input_dir)
        self.input_bytes = dir_bytes(self.input_dir)

    def setup(self, spark) -> None:
        self.spark = spark
        self.results = spark.read.parquet(self.input_dir)

    def warm_up(self, scratch: str) -> None:
        out = os.path.join(scratch, "warm_sheet")
        export_sheet(self.spark, self.results, out)
        shutil.rmtree(out, ignore_errors=True)

    def iteration(self, scratch: str) -> dict:
        out = os.path.join(scratch, "sheet")
        t0 = time.perf_counter()
        export_sheet(self.spark, self.results, out)
        wall = time.perf_counter() - t0
        rows = parquet_rows(out)
        return {
            "wall_s": wall, "rows": rows, "sheet": out,
            "urls_per_s": self.input_rows / wall,
            "export_rows_per_s": rows / wall,
            "ckpt_bytes_per_url": self.input_bytes / self.input_rows,
            "export_bytes_per_row": dir_bytes(out) / rows,
        }
