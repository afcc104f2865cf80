"""The benchmark's pages table, written without Spark.

``sources.pages.synthesize_pages`` renders ``fixtures.webgen`` pages in Spark
tasks and writes them bucketed by ``pmod(xxhash64(url), n_buckets)``. This
module writes the same rows in the same layout with pyarrow: one snappy
parquet file per ``pbucket=<b>`` directory, INT96 timestamps as Spark writes
them, and the ``_table_meta.json`` that ``pages_n_buckets`` reads. No JVM
runs before the measured sessions, and a new seed's corpus takes about 2 s
instead of about 20 s of a run's budget.

``python3 perfbench/corpus.py --seed 7`` writes the table both ways and
checks, through Spark, that they hold the same rows and schema.
"""

from __future__ import annotations

import argparse
import json
import shutil
import struct
import sys
import tempfile
from pathlib import Path
from typing import Dict, List

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


def write_pages(out: Path, spec, n_buckets: int) -> Path:
    """Every existing page of ``spec`` as a bucketed pages table at ``out``
    (``text`` left null, as ``synthesize_pages(golden_text=False)`` does).
    ``n_buckets`` is a power of two here, so the unsigned hash modulo it is
    Spark's ``pmod`` of the signed one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawl4ai_scraper_spark.fixtures.webgen import iter_urls, page_row

    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    buckets: Dict[int, List[dict]] = {}
    for url in iter_urls(spec):
        row = page_row(spec, url, golden_text=False)
        if row is not None:
            buckets.setdefault(xxhash64(url.encode("utf-8")) % n_buckets, []).append(row)
    out.mkdir(parents=True)
    for b, rows in sorted(buckets.items()):
        part = out / f"pbucket={b}"
        part.mkdir()
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       part / f"part-{b:05d}.snappy.parquet",
                       compression="snappy", use_deprecated_int96_timestamps=True)
    (out / "_SUCCESS").touch()
    (out / "_table_meta.json").write_text(json.dumps({"n_buckets": n_buckets}))
    return out


def check_against_spark(seed: int) -> bool:
    """Write ``seed``'s corpus with ``synthesize_pages`` and with
    ``write_pages`` and compare them through Spark: schema, bucket count,
    and every row with its ``pbucket``."""
    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    import workloads as W
    from crawl4ai_scraper_spark.session import build_session
    from crawl4ai_scraper_spark.sources.pages import (
        DEFAULT_PBUCKETS,
        pages_n_buckets,
        synthesize_pages,
    )

    tmp = Path(tempfile.mkdtemp(prefix="corpus-check-", dir=Path(__file__).parent))
    spark = build_session(app_name="perfbench-corpus-check", master="local[2]",
                          shuffle_partitions=8)
    try:
        theirs = synthesize_pages(spark, str(tmp / "spark"), n_hosts=W.N_HOSTS,
                                  max_secs=W.MAX_SECS, max_pages=W.MAX_PAGES, seed=seed,
                                  golden_text=False)
        mine = str(write_pages(tmp / "pyarrow", W.spec(seed), DEFAULT_PBUCKETS))
        a, b = spark.read.parquet(theirs), spark.read.parquet(mine)
        same_schema = a.schema == b.schema
        same_rows = a.count() == b.count() and \
            a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        same_meta = pages_n_buckets(theirs) == pages_n_buckets(mine)
        print(f"seed {seed}: rows {a.count()} schema {same_schema} rows {same_rows} "
              f"meta {same_meta}")
        return same_schema and same_rows and same_meta
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    p = argparse.ArgumentParser(description="check write_pages against synthesize_pages")
    p.add_argument("--seed", type=int, default=1)
    sys.exit(0 if check_against_spark(p.parse_args().seed) else 1)
