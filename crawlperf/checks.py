"""Output checks, run after every iteration outside the timed window.

Outputs are read with pyarrow, so a check adds no Spark job.
- crawls: the order table and the URL-seen set equal the sequential
  oracle's answer on the same inputs (`oracle.seq_oracle.crawl_oracle`,
  cached by the build per canonical input), and `extracted_text` equals the
  corpus `text` byte for byte on every ok row;
- export: exactly 41 sheet rows per priced car, the priced cars are the
  eligible priceable cars of the input, and every price and reselling cell
  equals `oracle.pricing_oracle`.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pyarrow.dataset as ds
import pyarrow.parquet as pq

ROWS_PER_CAR = 41


def _table(path: str, columns: list[str]):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return ds.dataset(files, format="parquet").to_table(columns=columns).to_pylist()


def corpus_texts(pages_dir: str) -> dict[str, str | None]:
    t = pq.read_table(pages_dir, columns=["url", "text"])
    return dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def check_crawl(ckpt: str, answer: dict, texts: dict[str, str | None]) -> dict[str, bool]:
    order = _table(os.path.join(ckpt, "order"), ["url", "host", "wave", "rank", "sched_ms"])
    got_order = sorted((r["url"], r["host"], r["wave"], r["rank"]) for r in order)
    want_order = sorted(tuple(r) for r in answer["order"])
    got_sched = {r["url"]: r["sched_ms"] for r in order}
    seen = _table(os.path.join(ckpt, "seen"), ["url", "wave"])
    got_seen = {r["url"]: r["wave"] for r in seen}
    ok_rows = [r for path in sorted(glob.glob(os.path.join(ckpt, "wave=*", "fetched")))
               for r in _table(path, ["url", "x_status", "extracted_text"]) if r["x_status"] == "ok"]
    return {
        "order_equals_oracle": got_order == want_order,
        "schedule_equals_oracle": got_sched == answer["schedule"],
        "seen_equals_oracle": len(seen) == len(got_seen) and got_seen == answer["seen"],
        "text_byte_identical": bool(ok_rows) and all(r["extracted_text"] == texts.get(r["url"]) for r in ok_rows),
    }


def check_sheet(sheet: str, cars: dict[str, list]) -> dict[str, bool]:
    """cars: url -> [price_i, ps_i, hub_i, x_fuel, co2_i] for every eligible
    priceable car of the export input (recorded by the build)."""
    from webscraper_spark.oracle.pricing_oracle import pricing, reselling_prices

    rows = _table(sheet, ["url", "duration", "package", "variant_price", "reselling_price"])
    per_car = Counter(r["url"] for r in rows)
    fees, resell = {}, {}
    prices_ok = True
    for r in rows:
        url = r["url"]
        if url not in cars:
            prices_ok = False
            continue
        if url not in fees:
            price_i, ps_i, hub_i, fuel, co2_i = cars[url]
            fees[url], resell[url] = pricing(price_i, ps_i, hub_i, fuel, co2_i), reselling_prices(price_i)
        cell = f"{r['duration']}_{r['package']}"
        if fees[url] is None or r["variant_price"] != fees[url][f"preis_{cell}"] \
                or r["reselling_price"] != resell[url][cell]:
            prices_ok = False
    return {
        "rows_per_car_41": bool(per_car) and set(per_car.values()) == {ROWS_PER_CAR},
        "priced_cars_equal_input": set(per_car) == set(cars),
        "prices_equal_oracle": prices_ok,
    }
