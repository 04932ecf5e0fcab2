r"""Arrow-vectorized pandas-UDF extraction engine (the input_hint path:
"extract links/text from fetched HTML using vectorized pandas/Arrow UDFs
with no per-row Python").

Semantics are byte-identical to the native-expression engine in extract.py
(enforced by test_extract_engines_agree); this one exists because ~15
distinct full-document Java-regex passes cost ~2.5s each over a 200k-page
corpus, while compiled-once Python regexes over an Arrow batch do all
fields in a single pass per pattern at a fraction of the cost. The UDF is
evaluated exactly once per row (Catalyst pulls Python UDFs into a single
ArrowEvalPython node), then fields star-expand from the returned struct.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webscraper_spark.functions.canon import _canon_host_py
from webscraper_spark.functions.extract import (
    ADDR_FIELDS,
    ATTRS_FIELDS,
    LISTING_MARKER,
    PATTERNS,
    PRICE_SUFFIX,
    x_status,
)

_S = lambda: T.StringType()  # noqa: E731
X_STRUCT = T.StructType(
    [
        T.StructField("x_title", _S()),
        T.StructField("x_attrs_line", _S()),
        T.StructField("x_category", _S()),
        T.StructField("x_price_cell", _S()),
        T.StructField("x_km_cell", _S()),
        T.StructField("x_power_cell", _S()),
        T.StructField("x_fuel", _S()),
        T.StructField("x_transmission", _S()),
        T.StructField("x_ez", _S()),
        T.StructField("x_consumption", _S()),
        T.StructField("x_co2", _S()),
        T.StructField("x_damage", _S()),
        T.StructField("x_country", _S()),
        T.StructField("x_attr_map", T.MapType(_S(), _S())),
        T.StructField("x_features", T.ArrayType(_S())),
        T.StructField("x_images", T.ArrayType(_S())),
        T.StructField("x_dealer_name", _S()),
        T.StructField("x_address_raw", _S()),
        T.StructField("x_postal_code", _S()),
        T.StructField("x_dealer_city", _S()),
        T.StructField("x_dealer_street", _S()),
        T.StructField("x_phone", _S()),
        T.StructField("x_dealer_rating", _S()),
        T.StructField("x_quantity_ratings", _S()),
        T.StructField("x_pubdate", _S()),
        T.StructField("x_outlinks", T.ArrayType(_S())),
        # canonical form + host per outlink, computed IN the same UDF pass:
        # chaining a second pandas UDF behind this one doubles the Python
        # worker set per task and was measured to anti-scale 3x at local[32]
        T.StructField("x_outlinks_canon", T.ArrayType(_S())),
        T.StructField("x_outlink_hosts", T.ArrayType(_S())),
        T.StructField("x_is_listing", T.BooleanType()),
    ]
)

# compiled once per executor from the native engine's table
_P = {k: re.compile(v) for k, v in PATTERNS.items()}


def _x1(series: pd.Series, pat: re.Pattern) -> pd.Series:
    """First-group extract with ''/no-match -> None (mirrors nullif)."""
    out = series.str.extract(pat, expand=False)
    return out.where(out.notna() & (out != ""), None)


@F.pandas_udf(X_STRUCT)
def extract_all_udf(html_s: pd.Series) -> pd.DataFrame:
    h = html_s
    attrs = _x1(h, _P["x_attrs_line"])
    addr = _x1(h, _P["x_address_raw"])

    def findall(series: pd.Series, field: str):
        pat = _P[field]
        return [pat.findall(s) if isinstance(s, str) else None for s in series]

    dts = findall(h, "dt")
    dds = findall(h, "dd")
    outlinks = findall(h, "x_outlinks")
    canon_pairs = [[_canon_host_py(u) for u in lst] if lst is not None else None for lst in outlinks]

    cols = {
        f: _x1(h, _P[f])
        for f in ("x_title", "x_category", "x_consumption", "x_co2", "x_damage", "x_country",
                  "x_dealer_name", "x_dealer_rating", "x_quantity_ratings", "x_pubdate")
    }
    cols.update({f: _x1(attrs, _P[f]) for f in ATTRS_FIELDS})
    cols.update({f: _x1(addr, _P[f]) for f in ADDR_FIELDS})
    cols.update(
        x_attrs_line=attrs,
        x_address_raw=addr,
        x_price_cell=_x1(h, _P["x_price_cell"]).str.replace(PRICE_SUFFIX, "", regex=False),
        # Ruby sub: FIRST occurrence only (cars_controller.rb:242)
        x_phone=_x1(h, _P["x_phone"]).str.replace(_P["phone_prefix"], "", regex=True),
        x_attr_map=[dict(zip(a, b)) if a is not None else None for a, b in zip(dts, dds)],
        x_features=findall(h, "x_features"),
        x_images=[["https:" + u for u in lst] if lst is not None else None for lst in findall(h, "x_images")],
        x_outlinks=outlinks,
        x_outlinks_canon=[[p[0] for p in lst] if lst is not None else None for lst in canon_pairs],
        x_outlink_hosts=[[p[1] for p in lst] if lst is not None else None for lst in canon_pairs],
        x_is_listing=h.str.contains(LISTING_MARKER, regex=False).astype(object).where(h.notna(), None),
    )
    return pd.DataFrame({f.name: cols[f.name] for f in X_STRUCT.fields})


def with_extraction_arrow(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Arrow-engine variant of extract.with_extraction: same output columns,
    one Python evaluation per row."""
    out = df.withColumn("_x", extract_all_udf(F.col(html_col).cast("string")))
    for f in X_STRUCT.fields:
        out = out.withColumn(f.name, F.col("_x")[f.name])
    return out.drop("_x").withColumn("x_status", x_status())
