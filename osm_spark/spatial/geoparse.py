"""Geoparsing: extract coordinate mentions from page text (JVM-side).

Pages embed coordinates as integer micro-degrees ("geo: <lat>,<lon>"),
extracted with regexp_extract — pure Catalyst, no Python on the 10^12-row
path. The page ``text`` column is passed through UNTOUCHED: the engine's
per-row invariant is byte-identical text per url end-to-end
(BASELINE.json input_hint); every derived quantity is a new column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GEO_RE = r"geo: (-?\d+),(-?\d+)"


def geoparse_pages(pages: DataFrame) -> DataFrame:
    """(url, warc_ts, lang, text, lat, lon) — rows without a coordinate
    mention are dropped (no geo signal), and so are rows whose mention
    does not fit a long (``try_cast``: ANSI ``cast`` would fail the
    whole job on one such page). lat/lon in degrees (double)."""
    lat_u = F.regexp_extract("text", GEO_RE, 1).try_cast("long")
    lon_u = F.regexp_extract("text", GEO_RE, 2).try_cast("long")
    return pages.select(
        "*", (lat_u / 1e6).alias("lat"), (lon_u / 1e6).alias("lon")
    ).where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
