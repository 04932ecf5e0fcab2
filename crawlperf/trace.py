"""Traced replays: one crawl wave and one export, layer by layer.

Each layer's public function runs on inputs materialized from the
checkpoint (or from the previous layer), inside a span, with its output
forced by a `noop` write. The output is then written to parquet outside
the span, which gives the row count at every boundary and the next
layer's input. Spans are recorded here, around calls into the package;
the fetch join, checkpoint write and finalize are inline in `run_crawl`
and are not replayed (their numbers come from observe.py).
"""

from __future__ import annotations

import os
import statistics
import time

from inputs import SHEET_KEYS
from observe import Spans
from workloads import parquet_rows

KERNEL_SAMPLE_ROWS = 2000


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Replay:
    def __init__(self, spark, spans: Spans, scratch: str):
        self.spark = spark
        self.spans = spans
        self.dir = os.path.join(scratch, "replay")
        self.counts: dict[str, int] = {}

    def layer(self, span_name: str, df, keep: str | None = None):
        """Force df inside a span; if keep, materialize it and return the
        re-read table with its row count recorded under `keep`."""
        with self.spans.span(span_name):
            _force(df)
        if keep is None:
            return None
        path = os.path.join(self.dir, keep)
        df.write.mode("overwrite").parquet(path)
        self.counts[keep] = parquet_rows(path)
        return self.spark.read.parquet(path)


def replay_wave(rp: Replay, crawl, ckpt: str, wave: int) -> None:
    """anti_join_seen -> apply_robots -> schedule_ranked ->
    with_extraction_arrow (on the pages rows of this wave's batch) ->
    extracted_text -> expand_outlinks -> merge_frontier, for one wave
    rebuilt from its checkpoint."""
    from pyspark.sql import functions as F

    from webscraper_spark.functions.canon import url_hash
    from webscraper_spark.functions.extract import extracted_text, listing_text
    from webscraper_spark.functions.extract_pandas import with_extraction_arrow
    from webscraper_spark.operators.robots import apply_robots, resolve_budgets
    from webscraper_spark.operators.schedule import schedule_ranked
    from webscraper_spark.operators.seen import anti_join_seen
    from webscraper_spark.plans.wave import expand_outlinks, merge_frontier

    spark = rp.spark
    wdir = lambda w: os.path.join(ckpt, f"wave={w}")  # noqa: E731
    frontier = spark.read.parquet(os.path.join(wdir(wave - 1), "frontier"))
    rp.counts["frontier"] = parquet_rows(os.path.join(wdir(wave - 1), "frontier"))
    seen = spark.read.parquet(*[os.path.join(wdir(w), "fetched") for w in range(wave)]).select(
        url_hash(F.col("url")).alias("url_hash"), "url", F.col("wave").cast("int").alias("wave"))
    rp.counts["seen_rows"] = sum(parquet_rows(os.path.join(wdir(w), "fetched")) for w in range(wave))
    hosts = (crawl.robots.select("host")
             .unionByName(crawl.politeness.filter(F.col("host") != "*").select("host")).distinct())
    budgets = resolve_budgets(hosts, crawl.robots, crawl.politeness)

    with rp.spans.span("replay.wave"):
        cand = rp.layer("operators.seen.anti_join", anti_join_seen(frontier, seen), "not_seen")
        cand = rp.layer("operators.robots.apply", apply_robots(cand, crawl.robots), "allowed")
        sched = rp.layer("operators.schedule.rank", schedule_ranked(cand, budgets, wave), "ranked")
        batch = sched.filter(F.col("in_budget"))
        rp.counts["in_budget"] = batch.count()
        fetch_in = rp.layer("replay.fetch_input", crawl.pages.join(batch, "url", "inner"), "fetch_input")
        extracted = rp.layer("functions.extract_pandas.udf", with_extraction_arrow(fetch_in), "extracted")
        rp.counts["extract_ok"] = extracted.filter(F.col("x_status") == "ok").count()
        rp.layer("functions.extract.text", extracted.withColumn(
            "extracted_text",
            F.when(F.col("x_status") == "listing", listing_text())
            .when(F.col("x_status") == "ok", extracted_text())
            .otherwise(F.lit(None).cast("string"))))
        fetched = spark.read.parquet(os.path.join(wdir(wave), "fetched"))
        new_cand = rp.layer("plans.wave.expand", expand_outlinks(fetched, wave), "new_candidates")
        deferred = sched.filter(~F.col("in_budget")).select("url", "host", "depth", "disc_wave", "disc_pos")
        rp.layer("plans.wave.merge", merge_frontier(deferred, new_cand), "next_frontier")


def replay_export(rp: Replay, results) -> None:
    """with_typed/eligibility -> with_tags -> price_matrix/variant_rows ->
    shopify_sheet -> parquet write."""
    from webscraper_spark.functions.derive import (
        eligibility, preis_tag, shopify_body, tags_string, with_identity, with_tags, with_typed,
    )
    from webscraper_spark.functions.pricing import (
        preis_12_s_expr, price_dims, price_matrix, variant_rows, with_car_pricing_inputs,
    )
    from webscraper_spark.functions.shopify import shopify_sheet

    rp.counts["export_input"] = results.count()
    with rp.spans.span("replay.export"):
        cars = rp.layer("functions.derive.typed",
                        with_car_pricing_inputs(with_typed(results)).filter(eligibility()), "eligible")
        cars = rp.layer("functions.derive.tags", with_tags(with_identity(cars))
                        .withColumn("preis_tag", preis_tag(preis_12_s_expr()))
                        .withColumn("tags", tags_string()).withColumn("body_html", shopify_body()), "tagged")
        v = rp.layer("functions.pricing.matrix", variant_rows(price_matrix(cars, price_dims(rp.spark))), "variants")
        rp.counts["priced_cars"] = v.select("url").distinct().count()
        sheet = shopify_sheet(v, keys=SHEET_KEYS)
        rp.layer("functions.shopify.sheet", sheet)
        with rp.spans.span("functions.shopify.write"):
            sheet.write.mode("overwrite").parquet(os.path.join(rp.dir, "sheet"))
        rp.counts["sheet_rows"] = parquet_rows(os.path.join(rp.dir, "sheet"))


def kernel_rows_per_s(pages_dir: str) -> float:
    """The extraction UDF's Python function, in-process on one thread, over
    a fixed pandas sample of html (the first rows by url). Median of three."""
    import pandas as pd
    import pyarrow.parquet as pq

    from webscraper_spark.functions.extract_pandas import extract_all_udf

    t = pq.read_table(pages_dir, columns=["url", "html"]).sort_by("url").slice(0, KERNEL_SAMPLE_ROWS)
    sample = pd.Series([h.decode("utf-8") for h in t.column("html").to_pylist()])
    fn = extract_all_udf.func
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn(sample)
        walls.append(time.perf_counter() - t0)
    return len(sample) / statistics.median(walls)
