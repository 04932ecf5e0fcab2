"""Vectorized HTML field extraction — JVM regexp expressions, zero Python.

Re-expresses the reference's per-ad CSS-selector + Ruby-regex extraction
(/root/reference/app/controllers/cars_controller.rb:153-249 and
car_dealers_controller.rb:163-272) as native Spark column expressions so the
whole extraction stage stays inside whole-stage codegen. The Ruby regexes
(SURVEY.md §2.7 F1-F19) are reproduced with identical semantics; `sub` (first
occurrence) vs `gsub` (all) is honoured per call site.

`extracted_text` rebuilds the byte-exact ground-truth `text` of the corpus
(input_hint invariant: byte-identical extracted text per url).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import canonicalize_url, url_host


# One regex per extracted field, group 1 = the value. Both engines read this
# table: the column expressions below as Java regexes, extract_pandas.py
# compiled with Python `re` (the patterns use only syntax the two agree on).
PATTERNS: dict[str, str] = {
    # --- single match over the decoded html ---
    "x_title": r'<h3 class="ad-title">([^<]*)</h3>',
    # the headline attribute line (≙ reference `span.attributes` text,
    # car_dealers_controller.rb:163)
    "x_attrs_line": r'<span class="attributes">([^<]*)</span>',
    "x_category": r'<strong class="category">([^<]*)</strong>',
    # '21.990 €' — strong.price text; PRICE_SUFFIX is stripped after (Ruby
    # gsub, car_dealers_controller.rb:169)
    "x_price_cell": r'<strong class="price">([^<]*)</strong>',
    "x_consumption": r'<dd class="consumption">([^<]*)</dd>',
    "x_co2": r'<dd class="emission">([^<]*)</dd>',
    "x_damage": r'<span class="damaged">([^<]*)</span>',
    "x_country": r'<span class="countryVersion">([^<]*)</span>',
    "x_dealer_name": r"<address><strong>([^<]*)</strong>",
    "x_address_raw": r'<div class="addressData">([^<]*)</div>',
    # Ruby .sub('Tel.: ','') strips the FIRST occurrence only
    # (cars_controller.rb:242, F5): "phone_prefix" is anchored to the start
    "x_phone": r'<span class="phone">([^<]*)</span>',
    "phone_prefix": r"^Tel\.: ",
    # star-span data-rating attribute (cars_controller.rb:243-244 reads
    # ['data-rating'] behind a has_css? guard -> nullable)
    "x_dealer_rating": r'data-rating="([^"]+)"',
    # amount-of-ratings span text (cars_controller.rb:245)
    "x_quantity_ratings": r'<span class="amount-of-ratings">([^<]*)</span>',
    # Ruby .match(/\d{2}.\d{2}.\d{4}/) (cars_controller.rb:249, F6)
    "x_pubdate": r"Online seit (\d{2}.\d{2}.\d{4})",
    # --- single match over x_attrs_line (car_dealers_controller.rb:166-172) ---
    # Ruby attributes.match(/(\d*[.]\d{3}|\d*) km/)[0] — keeps ' km'
    "x_km_cell": r"((?:\d*[.]\d{3}|\d*) km)",
    # Ruby attributes.match(/\d*\skW\s.\d*\sPS./)[0]
    "x_power_cell": r"(\d*\skW\s.\d*\sPS.)",
    "x_fuel": r"(Benzin|Diesel|Elektro|Erdgas)",
    "x_transmission": r"(Automatik|Schaltgetriebe)",
    # Ruby attributes.match(/\d{2}.\d{4}/); '.' matches any char, exactly
    # as in the reference
    "x_ez": r"(\d{2}.\d{4})",
    # --- single match over x_address_raw (cars_controller.rb:239-241, F2-F4) ---
    "x_postal_code": r"(\d{5})",  # Ruby .match(/\d{5}/)
    "x_dealer_city": r"([a-zA-Z]+-?\D+$)",  # Ruby .match(/[a-zA-Z]+(-)?\D+$/)
    "x_dealer_street": r"(^\D*\d*\w(?:-|,)?\w*)",  # Ruby .match(/^\D*\d*\w(-|,)?\w*/)
    # --- every match over the html, in document order ---
    # dt/dd positional zip -> x_attr_map (car_dealers_controller.rb:250-259,
    # J3); plain '<dt>'/'<dd>' only match the additionalAttributes block
    # (other dd's carry class attributes)
    "dt": r"<dt>([^<]*)</dt>",
    "dd": r"<dd>([^<]*)</dd>",
    # <li> texts (the reference collects 4 feature columns then concats,
    # car_dealers_controller.rb:265-269 — our corpus renders one list)
    "x_features": r"<li>([^<]*)</li>",
    # gallery data-lazy attrs; 'https:' is prepended
    # (cars_controller.rb:164-165)
    "x_images": r'data-lazy="([^"]+)"',
    # href targets, the S5 link harvest (cars_controller.rb:142 /
    # car_dealers_controller.rb:150)
    "x_outlinks": r'href="([^"]+)"',
}
ATTRS_FIELDS = ("x_km_cell", "x_power_cell", "x_fuel", "x_transmission", "x_ez")
ADDR_FIELDS = ("x_postal_code", "x_dealer_city", "x_dealer_street")
PRICE_SUFFIX = " Brutto"
LISTING_MARKER = '<ul class="resultList">'


def _re1(col: Column, pattern: str, group: int = 1) -> Column:
    """regexp_extract with no-match -> NULL (Spark returns '' on no match)."""
    return F.nullif(F.regexp_extract(col, pattern, group), F.lit(""))


def _all(h: Column, field: str) -> Column:
    return F.regexp_extract_all(h, F.lit(PATTERNS[field]), 1)


def html_str(html: Column) -> Column:
    """Decode the binary html column (UTF-8)."""
    return html.cast("string")


def with_extraction(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Append every extracted column + status. Input needs `html` (binary).

    Cheap headline fields come first so the eligibility filter can gate the
    heavier work, mirroring the reference's stage order
    (car_dealers_controller.rb:163-185 extract-then-filter-then-deep-extract).
    """
    h = html_str(F.col(html_col))

    def first(field: str, src: Column = h) -> Column:
        return _re1(src, PATTERNS[field])

    attrs = first("x_attrs_line")
    addr = first("x_address_raw")
    dts, dds = _all(h, "dt"), _all(h, "dd")
    n_pairs = F.least(F.size(dts), F.size(dds))
    cols = {
        "x_title": first("x_title"),
        "x_attrs_line": attrs,
        "x_category": first("x_category"),
        "x_price_cell": F.regexp_replace(first("x_price_cell"), PRICE_SUFFIX, ""),
        **{f: first(f, attrs) for f in ATTRS_FIELDS},
        **{f: first(f) for f in ("x_consumption", "x_co2", "x_damage", "x_country")},
        "x_attr_map": F.when(F.size(dts) == F.size(dds), F.map_from_arrays(dts, dds)).otherwise(
            F.map_from_arrays(F.slice(dts, 1, n_pairs), F.slice(dds, 1, n_pairs))
        ),
        "x_features": _all(h, "x_features"),
        "x_images": F.transform(_all(h, "x_images"), lambda u: F.concat(F.lit("https:"), u)),
        "x_dealer_name": first("x_dealer_name"),
        "x_address_raw": addr,
        **{f: first(f, addr) for f in ADDR_FIELDS},
        "x_phone": F.regexp_replace(first("x_phone"), PATTERNS["phone_prefix"], ""),
        **{f: first(f) for f in ("x_dealer_rating", "x_quantity_ratings", "x_pubdate")},
        "x_outlinks": _all(h, "x_outlinks"),
        "x_outlinks_canon": F.transform(F.col("x_outlinks"), canonicalize_url),
        "x_outlink_hosts": F.transform(F.col("x_outlinks_canon"), url_host),
        "x_is_listing": h.contains(LISTING_MARKER),
    }
    out = df
    for name, col in cols.items():
        out = out.withColumn(name, col)
    return out.withColumn("x_status", x_status())


def x_status() -> Column:
    """'listing', 'ok' (title, price and km all present) or 'err' — the
    quarantine verdict of both engines."""
    return (
        F.when(F.col("x_is_listing"), F.lit("listing"))
        .when(F.col("x_title").isNotNull() & F.col("x_price_cell").isNotNull() & F.col("x_km_cell").isNotNull(), "ok")
        .otherwise("err")
    )


def extracted_text() -> Column:
    """Rebuild the ground-truth `text` bytes from extracted columns (detail
    pages). Must equal pages.text byte-for-byte for status='ok' rows."""
    z = F.lit("")
    m = F.col("x_attr_map")
    kw = _re1(F.col("x_power_cell"), r"^(\d+) kW")
    ps = _re1(F.col("x_power_cell"), r"\((\d+) PS\)")
    return F.concat_ws(
        "|",
        F.col("x_title"),
        F.col("x_price_cell"),
        F.col("x_km_cell"),
        kw,
        ps,
        F.col("x_fuel"),
        F.col("x_category"),
        F.coalesce(F.col("x_ez"), z),
        F.col("x_transmission"),
        F.coalesce(F.col("x_consumption"), z),
        F.coalesce(F.col("x_co2"), z),
        m["Hubraum"],
        m["Anzahl der Türen"],
        m["Anzahl Sitzplätze"],
        m["Anzahl der Fahrzeughalter"],
        F.coalesce(m["Farbe"], z),
        F.col("x_dealer_name"),
        F.col("x_address_raw"),
        F.col("x_phone"),
        F.col("x_pubdate"),
        F.array_join(F.col("x_features"), ";"),
        F.size(F.col("x_images")).cast("string"),
        F.coalesce(F.col("x_dealer_rating"), z),
        F.coalesce(F.col("x_quantity_ratings"), z),
    )


def listing_text() -> Column:
    """Ground-truth text for listing pages: LISTING|host|page|n_outlinks."""
    from webscraper_spark.functions.canon import url_host

    page_no = _re1(F.col("url"), r"[?&]page=(\d+)")
    return F.concat_ws(
        "|", F.lit("LISTING"), url_host(F.col("url")), page_no, F.size(F.col("x_outlinks")).cast("string")
    )
