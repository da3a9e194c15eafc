"""Deterministic Common-Crawl-style pages source (BASELINE.json
input_hint: ``pages(url, warc_ts, html, text, lang)``).

The table is synthesized entirely with JVM-side Column expressions from
``spark.range(n)`` — no Python in the generation path — and
``pages_sql(n)`` emits the exact same construction as an ANSI-SQL CTE
for the DuckDB oracle, so both engines derive byte-identical rows
(the per-url byte-identical ``text`` invariant, F17).

Generation rules (FIXTURES.md §1):
- url      = https://site{i % n_hosts}.example/{i:08d}
- warc_ts  = 2025-01-01T00:00:00Z + i seconds
- text     = deterministic token sequence from md5 chain of url
- html     = b"<html><body>" + text + b"</body></html>"
- lang     = [en,fr,de,es,pt][ int(md5(url)[:2],16) % 5 ]

Derived columns (the engine adds, FIXTURES.md §1 "Derived"):
lon/lat via functions.tilemath.geo_lon/geo_lat, cell ids and TMS tile
keys via cell_id / tile_x / tile_y_tms.

A skewed variant forces a fraction of rows into one location to
exercise salted repartitioning (north_rule skew handling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cells import DEFAULT_RES
from ..functions.tilemath import (cell_id, geo_lat, geo_lon, tile_x,
                                  tile_y_tms)

EPOCH_2025 = 1735689600  # 2025-01-01T00:00:00Z
LANGS = ("en", "fr", "de", "es", "pt")

# Skew cluster: all skewed rows geocode here (a "hot cell").
SKEW_LON, SKEW_LAT = 2.3522, 48.8566


def page_url_col(idx, n_hosts: int = 100):
    """url Column from a row index — THE construction both the batch
    synth and the streaming rate source derive from (one definition,
    so the byte-identical-text invariant F17 cannot silently split
    between the two paths)."""
    return F.concat(F.lit("https://site"),
                    (idx % n_hosts).cast("string"),
                    F.lit(".example/"),
                    F.lpad(idx.cast("string"), 8, "0"))


def page_text_col(url):
    return F.concat_ws(
        " ", F.md5(url), F.md5(F.concat(url, F.lit("1"))),
        F.md5(F.concat(url, F.lit("2"))),
        F.md5(F.concat(url, F.lit("3"))))


def page_lang_col(url):
    return F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (F.conv(F.substring(F.md5(url), 1, 2), 16, 10).cast("int")
         % len(LANGS)) + 1)


def synth_pages(spark: SparkSession, n: int,
                n_hosts: int = 100) -> DataFrame:
    df = spark.range(n)
    url = page_url_col(F.col("id"), n_hosts)
    text = page_text_col(url)
    lang = page_lang_col(url)
    return df.select(
        url.alias("url"),
        F.timestamp_seconds(F.lit(EPOCH_2025) + F.col("id"))
        .alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), text,
                          F.lit("</body></html>")), "utf-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def pages_sql(n: int, n_hosts: int = 100) -> str:
    """DuckDB CTE body producing the identical pages table."""
    url = (f"'https://site' || (i % {n_hosts})::VARCHAR || "
           f"'.example/' || lpad(i::VARCHAR, 8, '0')")
    return f"""
    SELECT
      url,
      TIMESTAMP '2025-01-01 00:00:00' + to_seconds(i) AS warc_ts,
      encode('<html><body>' || md5(url) || ' ' || md5(url || '1') || ' '
             || md5(url || '2') || ' ' || md5(url || '3')
             || '</body></html>') AS html,
      md5(url) || ' ' || md5(url || '1') || ' ' || md5(url || '2')
             || ' ' || md5(url || '3') AS text,
      (['en','fr','de','es','pt'])[
          ((('0x' || substr(md5(url), 1, 2))::INT % 5) + 1)] AS lang
    FROM (SELECT range AS i, {url} AS url FROM range({n}))
    """


def with_geo(pages: DataFrame, res: int = DEFAULT_RES,
             tile_z: int = 7) -> DataFrame:
    """Add the derived point columns: deterministic geocode, cell id,
    TMS tile keys (the 'points relation' of SURVEY.md §1.1)."""
    return _with_points(pages, geo_lon(F.col("url")),
                        geo_lat(F.col("url")), res, tile_z)


def _with_points(pages: DataFrame, lon, lat, res: int,
                 tile_z: int) -> DataFrame:
    """Append lon, lat, cell, tile_z, tile_x, tile_y in that order.
    Two withColumns calls, since cell and the tile keys read lon/lat;
    each chained withColumn would re-analyze the growing plan."""
    return (pages.withColumns({"lon": lon, "lat": lat})
            .withColumns({
                "cell": cell_id(F.col("lon"), F.col("lat"), res),
                "tile_z": F.lit(tile_z),
                "tile_x": tile_x(F.col("lon"), tile_z),
                "tile_y": tile_y_tms(F.col("lat"), tile_z)}))


def synth_pages_skewed(spark: SparkSession, n: int,
                       skew_fraction: float = 0.3,
                       n_hosts: int = 100) -> DataFrame:
    """Same schema; ``skew_fraction`` of rows are forced onto one
    lon/lat cluster (single hot cell) by overriding the geocode inputs
    downstream — the table carries a ``skewed`` flag the geocode step
    honors via ``with_geo_skewed``."""
    df = synth_pages(spark, n, n_hosts=n_hosts)
    return df.withColumn(
        "skewed",
        (F.conv(F.substring(F.md5(F.col("url")), 3, 4), 16, 10)
         .cast("long") % 1000) < int(skew_fraction * 1000))


def with_geo_skewed(pages: DataFrame, res: int = DEFAULT_RES,
                    tile_z: int = 7) -> DataFrame:
    lon = F.when(F.col("skewed"), F.lit(SKEW_LON)).otherwise(
        geo_lon(F.col("url")))
    lat = F.when(F.col("skewed"), F.lit(SKEW_LAT)).otherwise(
        geo_lat(F.col("url")))
    return _with_points(pages, lon, lat, res, tile_z)
