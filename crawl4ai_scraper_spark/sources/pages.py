"""Pages-table IO and seed readers.

The pages table is the engine's "web": schema per BASELINE.json input_hint
``(url string, warc_ts timestamp, html binary, text string, lang string)``
plus a physical ``pbucket`` partition column = ``pmod(xxhash64(url), N)``.

Why pbucket: the fetch "join" (frontier ⋈ pages, SURVEY §2 O-4/O-18) is a
needle-in-haystack lookup — a few million frontier rows against ~10^10 stored
pages. Hash-bucketing the table by url and adding the bucket to the join key
turns the scan into partition-pruned reads of only the buckets the frontier
touches (plus Spark's runtime bloom filter inside each bucket). Iceberg's
``bucket(N, url)`` partition transform is the same idea; no Iceberg jars ship
with this PySpark build, so plain parquet partitioning carries it.

Synthesis is DISTRIBUTED: hosts are sharded with ``spark.range`` and each
executor renders its hosts' pages via the deterministic webgen — nothing is
materialized on the driver, so the same code scales the corpus up for bench.
"""

from __future__ import annotations

import json
import os
import struct
from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
DEFAULT_PBUCKETS = 32


def with_pbucket(df: DataFrame, n_buckets: int = DEFAULT_PBUCKETS) -> DataFrame:
    return df.withColumn("pbucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int"))


_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                           0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit integer; with Spark's seed 42
    this is Spark SQL's ``xxhash64`` of a string, modulo 2^64."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(a, lane) for a, lane in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, i)[0]), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (struct.unpack_from("<I", data, i)[0] * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    for byte in data[i:]:
        h = (_rotl(h ^ (byte * _P5 & _M), 11) * _P1) & _M
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    return h ^ (h >> 32)


def pbucket_of(url: str, n_buckets: int) -> int:
    """``with_pbucket`` on the driver: Spark's ``pmod(xxhash64(url), n)``,
    taken on the SIGNED hash so any bucket count matches (the unsigned hash
    agrees with it only when ``n`` is a power of two)."""
    h = xxhash64(url.encode("utf-8"))
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


def synthesize_pages(
    spark: SparkSession,
    out_path: str,
    n_hosts: int = 4,
    max_secs: int = 4,
    max_pages: int = 8,
    seed: int = 42,
    n_buckets: int = DEFAULT_PBUCKETS,
    golden_text: bool = True,
) -> str:
    """Render the synthetic web to a bucketed parquet pages table.

    Parallelism unit = a SECTION shard (host, sec), not a host: a hot host's
    pages render across all its section shards, so a skewed corpus (host 0
    carries most of the web) still synthesizes on every core. The write is
    repartitioned to the bucket layout — one file per pbucket, url-hash
    balanced — instead of fanning every task out into all bucket dirs."""
    from crawl4ai_scraper_spark.fixtures.webgen import WebSpec, iter_shard_urls, iter_shards, page_row

    spec = WebSpec(n_hosts=n_hosts, max_secs=max_secs, max_pages=max_pages, seed=seed)
    shards = spark.createDataFrame(list(iter_shards(spec)), "k int, i int")

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for k, i in zip(pdf["k"], pdf["i"]):
                rows: List[dict] = []
                for url in iter_shard_urls(spec, int(k), int(i)):
                    row = page_row(spec, url, golden_text=golden_text)
                    if row is not None:
                        rows.append(row)
                yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    n_shards = shards.count()
    pages = (
        shards.repartition(min(n_shards, 1024))
        .mapInPandas(render, schema=PAGES_SCHEMA)
    )
    (
        with_pbucket(pages, n_buckets)
        .repartition(n_buckets, F.col("pbucket"))
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(out_path)
    )
    with open(os.path.join(out_path, "_table_meta.json"), "w") as fh:
        json.dump({"n_buckets": n_buckets}, fh)
    return out_path


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """The pages table at ``path``. A table on the local filesystem records
    its root on the returned frame (``pages_table_root``), so the driver-local
    round tier may read its ``pbucket=`` dirs directly. A frame derived from
    this one (filter, select, …) is a new object without the record."""
    df = spark.read.parquet(path)
    if os.path.isdir(path):
        df.__dict__["_pages_root"] = os.path.abspath(path)
    return df


def pages_table_root(pages: DataFrame) -> Optional[str]:
    """The root dir of ``pages`` if it is exactly a frame ``read_pages``
    returned for a local table, else None."""
    return pages.__dict__.get("_pages_root")


def pages_n_buckets(path: str, default: int = DEFAULT_PBUCKETS) -> int:
    """The bucket count the table was WRITTEN with — the join side must
    compute pbucket with the same modulus or the lookup silently misses."""
    meta = os.path.join(path, "_table_meta.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return int(json.load(fh)["n_buckets"])
    return default


def seed_frame(spark: SparkSession, seeds: List[str]) -> DataFrame:
    """Seed list → one-column DataFrame with the interactive prompts' scheme
    fix-up (main.py:247-249 / 337-356) applied natively."""
    df = spark.createDataFrame([(s.strip(),) for s in seeds if s.strip()], "url string")
    return df.withColumn(
        "url",
        F.when(F.col("url").rlike("^https?://"), F.col("url")).otherwise(
            F.concat(F.lit("https://"), F.col("url"))
        ),
    )


def seeds_from_file(spark: SparkSession, path: str) -> DataFrame:
    """Seed-file reader ≙ main.py:358-369: skip blanks and ``#`` comments,
    then the same scheme fix-up."""
    lines = (
        spark.read.text(path)
        .select(F.trim(F.col("value")).alias("url"))
        .filter((F.length("url") > 0) & (~F.col("url").startswith("#")))
    )
    return lines.withColumn(
        "url",
        F.when(F.col("url").rlike("^https?://"), F.col("url")).otherwise(
            F.concat(F.lit("https://"), F.col("url"))
        ),
    )
