"""Deterministic Common-Crawl-style pages table (BASELINE.json input_hint:
url, warc_ts, html, text, lang) — generated DISTRIBUTED.

This is the 10^12-document side of the engine, so generation is pure
column arithmetic over ``spark.range(n)`` — no driver-side rows, no RNG
state: every value is a deterministic integer-mixing function of the row
id. The exact same expressions are emitted as DuckDB SQL over
``generate_series`` so the driver's differential oracle can reproduce
the table bit-for-bit (integer micro-degree coordinates; no float
formatting anywhere).

Geography (matches osm_spark.data.worldgen): page i belongs to country
``i % n_countries``; bucket ``k = i % 20`` places it:

    k 0-5   hot city cluster: one ~0.6° box inside country 0's city
            commune (30% of ALL pages -> deliberate hot-cell skew)
    k 7     exactly on a département border line (PIP boundary case)
    k 8     in the lake hole (inside country bbox, outside polygon)
    k 18    on the island inside the lake (second polygon of the country)
    k 9,19  ocean strip outside every polygon
    else    uniform over the country rectangle

The embedded "geo: <lat_u>,<lon_u>" mention in ``text`` is what
geoparse extracts; text must survive every stage byte-identically.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class PagesSpec:
    n_pages: int = 10_000
    n_countries: int = 2


def _exprs(i: str, idiv: str, spec: PagesSpec) -> dict[str, str]:
    """Column expressions shared by Spark SQL and DuckDB SQL.

    ``idiv``: integer-division operator ("div" for Spark, "//" for
    DuckDB). All arithmetic is int64-exact in both engines.
    """
    c = f"({i} % {spec.n_countries})"
    base_lon = f"((-177 + ({c} % 16) * 10) * 1000000)"
    base_lat = f"((-84 + ({c} {idiv} 16) * 10) * 1000000)"
    h1 = f"(({i} * 2654435761) % 1000000)"
    h2 = f"(({i} * 2246822519) % 1000000)"
    k = f"({i} % 20)"
    c0_lon = "(-177 * 1000000)"
    c0_lat = "(-84 * 1000000)"
    lon_u = (
        f"(CASE WHEN {k} <= 5 THEN {c0_lon} + 200000 + ({h1} * 6) {idiv} 10 "
        f"WHEN {k} = 7 THEN {base_lon} + 4000000 "
        f"WHEN {k} = 8 THEN {base_lon} + 1050000 + ({h1} * 4) {idiv} 10 "
        f"WHEN {k} = 18 THEN {base_lon} + 1600000 + ({h1} * 3) {idiv} 10 "
        f"WHEN {k} = 9 OR {k} = 19 THEN {base_lon} + 8200000 + ({h1} * 7) {idiv} 10 "
        f"ELSE {base_lon} + ({h1} * 8) END)"
    )
    lat_u = (
        f"(CASE WHEN {k} <= 5 THEN {c0_lat} + 200000 + ({h2} * 6) {idiv} 10 "
        f"WHEN {k} = 7 THEN {base_lat} + 100000 + ({h2} * 78) {idiv} 10 "
        f"WHEN {k} = 8 THEN {base_lat} + 1050000 + ({h2} * 4) {idiv} 10 "
        f"WHEN {k} = 18 THEN {base_lat} + 1600000 + ({h2} * 3) {idiv} 10 "
        f"WHEN {k} = 9 OR {k} = 19 THEN {base_lat} + 1000000 + ({h2} * 6) {idiv} 10 "
        f"ELSE {base_lat} + ({h2} * 8) END)"
    )
    lang = (
        f"(CASE {i} % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'de' "
        f"WHEN 3 THEN 'es' ELSE 'it' END)"
    )
    url = f"('https://example.org/page/' || CAST({i} AS STRING))"
    text = (
        f"('Page ' || CAST({i} AS STRING) || ' from country ' || CAST({c} AS STRING)"
        f" || '. geo: ' || CAST({lat_u} AS STRING) || ',' || CAST({lon_u} AS STRING)"
        f" || ' Lorem ipsum dolor sit amet, consectetur adipiscing elit.')"
    )
    # Realistic markup around the text (the north-rule invariant is
    # "byte-identical extracted text per url", so the html column must
    # be something extraction actually has to WORK on): head block with
    # title/meta, body-level script (contains '<', '>', '&&' — the tag
    # stripper must not fire inside it), style block, comment,
    # attributed tags, and the body text numeric-entity-encoded
    # (',' -> '&#44;', '.' -> '&#46;') so entity decoding sits on the
    # byte-identity path. '&' is encoded first (standard order) even
    # though the synthetic text has none.
    enc_text = (
        f"replace(replace(replace({text},"
        f" '&', '&amp;'), ',', '&#44;'), '.', '&#46;')"
    )
    ident = f"CAST({i} AS STRING)"
    # Deterministic outlinks (page graph for link extraction/PageRank,
    # q80-q82): page i carries d = i % 4 anchors (d=0 -> dangling
    # node), targets fixed integer mixes of i. Anchor BODIES are empty
    # so the tag stripper removes them without a trace — the
    # "byte-identical extracted text per url" invariant (q70) is
    # untouched. The three href forms deliberately exercise URL
    # resolution + normalization: absolute, root-relative with a
    # tracking param + fragment, and www + explicit default port.
    d = f"({i} % 4)"
    t1 = f"CAST((({i} * 2654435761 + 97) % {spec.n_pages}) AS STRING)"
    t2 = f"CAST((({i} * 2246822519 + 40503) % {spec.n_pages}) AS STRING)"
    t3 = f"CAST((({i} * 97 + 12582917) % {spec.n_pages}) AS STRING)"
    nav_str = (
        f"('<nav>' || CASE WHEN {d} >= 1 THEN "
        f"'<a href=\"https://example.org/page/' || {t1} || '\"></a>' ELSE '' END"
        f" || CASE WHEN {d} >= 2 THEN "
        f"'<a href=\"/page/' || {t2} || '?utm_source=feed#r\"></a>' ELSE '' END"
        f" || CASE WHEN {d} >= 3 THEN "
        f"'<a href=\"https://www.example.org:443/page/' || {t3} || '\"></a>'"
        f" ELSE '' END || '</nav>')"
    )
    html_str = (
        "('<!DOCTYPE html><html lang=\"' || " + lang + " || '\"><head>"
        "<meta charset=\"utf-8\"/><title>page ' || " + ident + " || '"
        "</title></head><body class=\"doc\" data-page=\"' || " + ident + " || '\">"
        "<script type=\"text/javascript\">if (1 < 2 && n > 0) { track(\"p\"); }"
        "</script><style media=\"screen\">p { margin: 0; }</style>"
        "<!-- warc segment ' || " + ident + " || ' --><div id=\"main\"><p>' || "
        + enc_text + " || '</p>' || " + nav_str + " || '</div></body></html>')"
    )
    return {
        "url": url,
        "warc_ts_epoch": f"(1600000000 + {i})",
        "text": text,
        "lang": lang,
        "html_str": html_str,
        "lon_u": lon_u,
        "lat_u": lat_u,
        "country": c,
        "bucket": k,
    }


def pages_df(spark: SparkSession, spec: PagesSpec) -> DataFrame:
    """Distributed pages DataFrame (url, warc_ts, html, text, lang)."""
    e = _exprs("id", "div", spec)
    df = spark.range(spec.n_pages).selectExpr(
        f"{e['url']} AS url",
        f"timestamp_seconds({e['warc_ts_epoch']}) AS warc_ts",
        f"cast({e['html_str']} AS BINARY) AS html",
        f"{e['text']} AS text",
        f"{e['lang']} AS lang",
    )
    return df


def pages_duckdb_sql(spec: PagesSpec, columns: str = "url, warc_ts, text, lang") -> str:
    """DuckDB SQL producing the identical table (html omitted unless
    asked — blob comparison is format-noise)."""
    e = _exprs("i", "//", spec)
    sel = {
        "url": f"{e['url'].replace(' AS STRING', ' AS VARCHAR')} AS url",
        "warc_ts": f"CAST(to_timestamp({e['warc_ts_epoch']}) AS TIMESTAMP) AS warc_ts",
        "text": f"{e['text'].replace(' AS STRING', ' AS VARCHAR')} AS text",
        "lang": f"{e['lang']} AS lang",
        "lon_u": f"{e['lon_u']} AS lon_u",
        "lat_u": f"{e['lat_u']} AS lat_u",
        "html_str": (
            f"{e['html_str'].replace(' AS STRING', ' AS VARCHAR')} AS html_str"
        ),
    }
    cols = ", ".join(sel[c.strip()] for c in columns.split(","))
    return (
        f"SELECT {cols} FROM generate_series(0, {spec.n_pages - 1}) AS t(i)"
    )
