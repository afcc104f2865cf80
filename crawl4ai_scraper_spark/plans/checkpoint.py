"""Checkpointed crawl rounds — Parquet delta snapshots with atomic manifests.

Layout under a checkpoint root:

    state/visited/round=N/…    append-only deltas, one partition per round
    state/lineage/round=N/…
    round=NNNN/frontier/…      the FULL queue for round N (url, host, depth,
                               arrival_rank, parent_url, link_pos, round)
    round=NNNN/manifest.json   written LAST via tmp+rename → commit marker

The frontier snapshot doubles as two more tables, so a round commits THREE
writes instead of five:

* ever-enqueued set  = ∪ frontier snapshots 0..N (the queue never holds
  duplicates, so the union of queues IS the reference's visited ∪ to_visit
  membership test, crawler.py:223);
* edges table        = frontier rows' (parent_url → url, link_pos), minus the
  parentless seed rows.

Commit protocol (Iceberg-shaped on purpose — no Iceberg jars ship with this
PySpark build, but swapping these writes for ``writeTo(...).append()`` +
snapshot metadata is mechanical):

* Cumulative tables are written as per-round DELTAS using dynamic partition
  overwrite, so re-running a crashed round replaces exactly its own
  ``round=N`` partition — no duplicates, no O(rounds²) rewrite of state that
  at 10^10-URL scale is terabytes.
* A round is visible iff its manifest exists. Readers enumerate committed
  rounds / filter ``round <= last_committed``, so orphan files from a dead
  half-written round are invisible (and get overwritten on retry).
* Reading state back each round truncates the iterative plan lineage — the
  DAG never grows across rounds (SURVEY §4.2).

Two writers produce the same files, and Spark jobs run only in the second:

* The driver writer (``write_round_files``, pyarrow) writes round 0
  (``commit_round``: the one-row seed frontier, no files for the empty
  visited / lineage deltas) and every round of the driver-local tier
  (``plans/local.py``). It writes the declared column types without the
  Arrow schema blob, keeps statistics only for the columns a reader uses
  (``STATS_COLUMNS``) and a dictionary only where parquet-mr uses one
  (``DICT_COLUMNS``), and replaces the round's dirs before it writes.
* ``commit_round_start`` is the Spark writer, for rounds that run in the
  Spark tier.

A resume or the next round can follow either writer's round, because
``CHECKPOINT_FORMAT`` and the layout are the same. Every Spark reader passes
the declared on-disk schema (``FRONTIER_FILE_SCHEMA``, ``VISITED_SCHEMA`` /
``FUSED_VISITED_SCHEMA``, ``LINEAGE_SCHEMA``, each plus ``round``), so
building a read frame runs no schema-inference job, and escapes glob
characters in its paths, so a ``chk_dir`` may contain ``[``, ``]``, ``*``…
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Dict, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def _schema(*fields: Tuple[str, DataType]) -> StructType:
    return StructType([StructField(name, dtype) for name, dtype in fields])


# On-disk schemas, declared once. Every table also carries ``round`` (a data
# column of frontier files, the partition column of the state deltas); the
# readers append it (``_with_round``).
#
# A committed frontier snapshot is the queue PLUS the discovering edge
# (parent_url, link_pos) — so the edges table and the ever-enqueued set are
# both derivable from frontier snapshots alone.
FRONTIER_FILE_SCHEMA = _schema(
    ("url", StringType()), ("host", StringType()), ("depth", IntegerType()),
    ("arrival_rank", LongType()), ("parent_url", StringType()), ("link_pos", IntegerType()),
)
VISITED_SCHEMA = _schema(
    ("url", StringType()), ("host", StringType()), ("depth", IntegerType()),
    ("seq", LongType()), ("success", BooleanType()), ("matched", BooleanType()),
    ("sched_ts", DoubleType()), ("arrival_rank", LongType()),
)
# fused extraction widens visited with the extracted record (kernel.expand.DOC_COLS)
FUSED_VISITED_SCHEMA = StructType(VISITED_SCHEMA.fields + _schema(
    ("title", StringType()), ("description", StringType()), ("markdown", StringType()),
    ("content_length", LongType()), ("links_count", LongType()),
    ("user_agent", StringType()), ("rel_path", StringType()),
).fields)
LINEAGE_SCHEMA = _schema(("stage", StringType()), ("partition", IntegerType()),
                         ("rows", LongType()))


def visited_schema(fused: bool) -> StructType:
    return FUSED_VISITED_SCHEMA if fused else VISITED_SCHEMA


def _with_round(schema: StructType) -> StructType:
    return StructType(schema.fields + [StructField("round", IntegerType())])


_FRONTIER_READ = _with_round(FRONTIER_FILE_SCHEMA)

# Driver-writer layout choices. Statistics only for the columns a reader
# takes them from (``visited_vt_max`` reads the ``sched_ts`` max); full
# min/max statistics on the text columns only add footer bytes. Dictionary
# encoding only on the columns where Spark's parquet-mr writer keeps one
# (low-cardinality ids and repeated strings); on unique strings and ranks a
# dictionary page is pure overhead.
STATS_COLUMNS = ("sched_ts",)
DICT_COLUMNS = ("host", "depth", "parent_url", "link_pos", "round", "content_length",
                "links_count", "user_agent")

# Bump when the on-disk layout changes incompatibly. Format 2: enqueued/edges
# are DERIVED from frontier snapshots carrying (parent_url, link_pos); format-1
# checkpoints (separate state/enqueued + state/edges tables, frontier without
# parent columns) cannot be resumed by this code.
CHECKPOINT_FORMAT = 2


def check_format(manifest: Dict, chk_dir: str) -> None:
    """Fail resume EARLY and clearly on a checkpoint written by an
    incompatible layout (instead of an AnalysisException mid-plan)."""
    found = manifest.get("format", 1)
    if found != CHECKPOINT_FORMAT:
        raise ValueError(
            f"checkpoint at {chk_dir} has layout format {found}, this engine "
            f"writes format {CHECKPOINT_FORMAT}; re-run the crawl from scratch "
            "(old checkpoints cannot be resumed across layout changes)"
        )


def _state_dir(chk_dir: str, name: str) -> str:
    return os.path.join(chk_dir, "state", name)


def round_dir(chk_dir: str, rnd: int) -> str:
    return os.path.join(chk_dir, f"round={rnd:04d}")


def _coalesced(df: DataFrame, rows: Optional[int]) -> DataFrame:
    """Right-size a snapshot write: small states become a handful of files
    instead of one near-empty file per shuffle partition (metadata pressure ×
    rounds × tables at 10^10 scale)."""
    if rows is None:
        return df
    return df.coalesce(max(1, min(64, rows // 250_000 + 1)))


def _write_manifest(
    chk_dir: str, rnd: int, meta: Dict, meta_late: Optional[Callable[[], Dict]] = None
) -> None:
    """The commit marker: ``meta`` plus ``meta_late()`` (called after the
    round's data writes — the hook that lets the driver derive scalars from
    the freshly-written parquet footers instead of running Spark jobs),
    written to a tmp file and renamed into place atomically."""
    manifest = dict(meta)
    if meta_late is not None:
        manifest.update(meta_late())
    manifest["round"] = rnd
    manifest["format"] = CHECKPOINT_FORMAT
    base = round_dir(chk_dir, rnd)
    tmp = os.path.join(base, ".manifest.tmp")
    os.makedirs(base, exist_ok=True)
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    os.replace(tmp, os.path.join(base, "manifest.json"))  # atomic commit


def spark_path(path: str) -> str:
    """``path`` with Hadoop glob characters escaped: ``spark.read`` globs
    every path it is given, so a literal ``[`` in a checkpoint dir would be
    read as a character class and the read would fail with PATH_NOT_FOUND."""
    return re.sub(r"([\\{}\[\]*?])", r"\\\1", path)


def _write_parquet(path: str, table) -> None:
    """Write one pyarrow ``table`` as a snappy parquet file the way the
    driver writer lays checkpoint files out (see ``STATS_COLUMNS``,
    ``DICT_COLUMNS``), without the Arrow schema blob in the footer."""
    import pyarrow.parquet as pq

    names = table.schema.names
    pq.write_table(table, path, compression="snappy", store_schema=False,
                   use_dictionary=[c for c in names if c in DICT_COLUMNS] or False,
                   write_statistics=[c for c in names if c in STATS_COLUMNS] or False)


def write_round_files(chk_dir: str, rnd: int, frontier, deltas: Dict) -> None:
    """The driver writer: round ``rnd``'s frontier snapshot (a pyarrow table
    in ``FRONTIER_FILE_SCHEMA``; ``round`` is appended as the data column it
    is in frontier files) and its state deltas (name → table; an empty delta
    writes no file, and the readers treat a missing round partition as
    empty). The round's dirs are removed first, as the Spark writer's
    dynamic overwrite replaces them, so a round replayed after a crash never
    mixes its files with an earlier attempt's."""
    import pyarrow as pa

    frontier = frontier.append_column(
        "round", pa.array([rnd] * frontier.num_rows, pa.int32()))
    name = f"part-00000-round{rnd}.snappy.parquet"
    out = os.path.join(round_dir(chk_dir, rnd), "frontier")
    parts = {n: os.path.join(_state_dir(chk_dir, n), f"round={rnd}") for n in deltas}
    for d in [out, *parts.values()]:
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out)
    _write_parquet(os.path.join(out, name), frontier)
    for n, table in deltas.items():
        if table.num_rows:
            os.makedirs(parts[n])
            _write_parquet(os.path.join(parts[n], name), table)


def commit_round(
    chk_dir: str,
    seed_url: str,
    seed_host: str,
    meta: Dict,
    meta_late: Optional[Callable[[], Dict]] = None,
) -> None:
    """The round-0 (bootstrap) commit, so a resume before the first round
    works — written on the driver with ZERO Spark jobs: the one-row seed
    frontier (depth 0, arrival_rank 1, no parent) through the driver writer;
    the empty visited / lineage deltas write no files."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    row = {"url": seed_url, "host": seed_host, "depth": 0, "arrival_rank": 1,
           "parent_url": None, "link_pos": None}
    write_round_files(
        chk_dir, 0, pa.Table.from_pylist([row], schema=to_arrow_schema(FRONTIER_FILE_SCHEMA)), {})
    _write_manifest(chk_dir, 0, meta, meta_late)


def frontier_table(chk_dir: str, upto_round: int, columns: Tuple[str, ...]):
    """``_frontier_df`` read on the driver with pyarrow (no Spark job): the
    frontier snapshot rows of rounds ≤ ``upto_round`` in ``columns`` plus
    ``round``, from the compacted base where one exists."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = list(columns) + ["round"]
    schema = to_arrow_schema(_FRONTIER_READ)
    schema = pa.schema([schema.field(c) for c in cols])
    c = compacted_upto(chk_dir)
    parts, start = [], 0
    if c is not None:
        parts.append(pq.read_table(_base_dir(chk_dir, c), columns=cols, schema=schema,
                                   filters=[("round", "<=", upto_round)]))
        start = c + 1
    for r in range(start, upto_round + 1):
        parts.append(pq.read_table(os.path.join(round_dir(chk_dir, r), "frontier"),
                                   columns=cols, schema=schema))
    return pa.concat_tables(parts)


def _parquet_dir_stats(path: str, max_cols: Tuple[str, ...] = ()) -> Tuple[int, Dict[str, object]]:
    """Driver-side footer scan of a written parquet dir: (total rows,
    {col: max over all row groups}). Costs O(files) metadata reads and ZERO
    Spark jobs — the point is deriving post-commit scalars (frontier size,
    max sched_ts) without re-running the round's plan. Parquet writers emit
    row-group min/max statistics for primitive columns by default; a column
    with no stats anywhere maps to None (caller falls back)."""
    import pyarrow.parquet as pq

    total = 0
    maxes: Dict[str, object] = {c: None for c in max_cols}
    for fpath in glob.glob(os.path.join(glob.escape(path), "**", "*.parquet"),
                           recursive=True):
        md = pq.ParquetFile(fpath).metadata
        total += md.num_rows
        if not max_cols:
            continue
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in max_cols:
            if c not in idx:
                continue
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    continue
                if maxes[c] is None or st.max > maxes[c]:
                    maxes[c] = st.max
    return total, maxes


class RoundCommit:
    """Handle for a round commit whose heavy delta writes overlap the next
    round's computation (``commit_round_start``). ``finalize`` joins the
    in-flight writes, merges ``meta_late`` into the manifest, and writes the
    atomic manifest marker — until then the round is UNcommitted, so a crash
    mid-overlap resumes from the previous manifest and replays exactly one
    round (the same replay-on-crash model as the synchronous path, shifted
    one round later)."""

    def __init__(self, chk_dir: str, rnd: int, meta: Dict, futures, pool):
        self._chk_dir = chk_dir
        self._rnd = rnd
        self._meta = meta
        self._futures = futures
        self._pool = pool

    def finalize(self, meta_late: Optional[Callable[[], Dict]] = None) -> None:
        try:
            for f in self._futures:
                f.result()  # surface the first failure; manifest never lands
        finally:
            self._pool.shutdown(wait=True)
        _write_manifest(self._chk_dir, self._rnd, self._meta, meta_late)

    def abort(self) -> None:
        """Drain the in-flight writes WITHOUT writing the manifest — the
        round stays uncommitted (resume replays it). For error paths."""
        self._pool.shutdown(wait=True)


def commit_round_start(
    chk_dir: str,
    rnd: int,
    frontier_next: DataFrame,
    deltas: Dict[str, DataFrame],
    meta: Dict,
    sizes: Optional[Dict[str, int]] = None,
    heavy: Tuple[str, ...] = ("visited",),
) -> RoundCommit:
    """The round commit of every Spark-tier round, and the only Spark
    writer of the checkpoint (round 0 and driver-local rounds go through
    ``write_round_files``). ``sizes`` (rows per table name, plus
    "frontier") drives file coalescing. The frontier (the NEXT round's
    input) and the light deltas are written concurrently before returning
    (each write is one Spark job dominated by fixed cost at small round
    sizes), while the ``heavy`` deltas (the fused visited table — ~1 KB of
    markdown per row, the bulk of the commit wall) keep writing in the
    background. The caller overlaps the next round's scan with those
    writes and calls ``finalize`` when it needs the manifest (or the
    visited-footer scalars) — cutting the per-round serial share that caps
    N→4N scaling efficiency.

    Persisted frames feeding the heavy deltas must stay cached until
    ``finalize`` returns."""
    spark = frontier_next.sparkSession
    sizes = sizes or {}
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    base = round_dir(chk_dir, rnd)

    def _write_delta(name: str, df: DataFrame) -> None:
        (
            _coalesced(df, sizes.get(name))
            .withColumn("round", F.lit(rnd))
            .write.mode("overwrite")
            .partitionBy("round")
            .parquet(_state_dir(chk_dir, name))
        )

    def _write_frontier() -> None:
        (
            _coalesced(frontier_next, sizes.get("frontier"))
            .withColumn("round", F.lit(rnd))
            .write.mode("overwrite")
            .parquet(os.path.join(base, "frontier"))
        )

    pool = ThreadPoolExecutor(max_workers=len(deltas) + 1)
    # Light writes run FIRST and alone — under FIFO job scheduling an
    # already-submitted heavy write would hog the task slots and serialize
    # phase A behind it. The heavy writes start only once the light ones
    # land, so their whole cost falls inside the next round's scan.
    light_futs = [
        pool.submit(_write_delta, n, df)
        for n, df in deltas.items()
        if n not in heavy
    ]
    light_futs.append(pool.submit(_write_frontier))
    try:
        for f in light_futs:
            f.result()
    except Exception:
        pool.shutdown(wait=True)
        raise
    heavy_futs = [
        pool.submit(_write_delta, n, df) for n, df in deltas.items() if n in heavy
    ]
    return RoundCommit(chk_dir, rnd, dict(meta), heavy_futs, pool)


def frontier_rows(chk_dir: str, rnd: int) -> int:
    """Row count of round ``rnd``'s written frontier, from parquet footers
    (no Spark job) — available as soon as ``commit_round_start`` returns."""
    n, _ = _parquet_dir_stats(os.path.join(round_dir(chk_dir, rnd), "frontier"))
    return n


def visited_vt_max(chk_dir: str, rnd: int) -> Optional[float]:
    """Max visited ``sched_ts`` for round ``rnd`` from the visited delta's
    parquet footers alone (the frontier half of ``round_write_stats`` is
    already known at commit start — no need to re-scan it at finalize)."""
    _, vmax = _parquet_dir_stats(
        os.path.join(_state_dir(chk_dir, "visited"), f"round={rnd}"), ("sched_ts",)
    )
    v = vmax.get("sched_ts")
    return float(v) if v is not None else None


def round_write_stats(chk_dir: str, rnd: int) -> Tuple[int, Optional[float]]:
    """Post-commit scalars for round ``rnd`` from parquet footers (no Spark
    job): (frontier_out rows, max visited sched_ts). ``sched_ts`` max is None
    when the round visited nothing (caller keeps the previous virtual time)."""
    f_n, _ = _parquet_dir_stats(os.path.join(round_dir(chk_dir, rnd), "frontier"))
    _, vmax = _parquet_dir_stats(
        os.path.join(_state_dir(chk_dir, "visited"), f"round={rnd}"), ("sched_ts",)
    )
    v = vmax.get("sched_ts")
    return f_n, (float(v) if v is not None else None)


def read_state(spark: SparkSession, chk_dir: str, name: str, upto_round: int) -> DataFrame:
    """Cumulative view of a delta table at round ``upto_round`` (inclusive).
    The round filter is partition pruning — orphan rounds never get read.
    The visited schema follows the manifest's ``fused`` flag; a table no
    round has written yet (a bootstrap-only checkpoint) reads as empty."""
    if name == "visited":
        schema = visited_schema(load_manifest(chk_dir, upto_round).get("fused", False))
    elif name == "lineage":
        schema = LINEAGE_SCHEMA
    else:
        raise ValueError(f"unknown state table {name!r}")
    schema = _with_round(schema)
    path = _state_dir(chk_dir, name)
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return (spark.read.schema(schema).parquet(spark_path(path))
            .filter(F.col("round") <= upto_round))


# --- frontier-snapshot compaction -------------------------------------------
# A 10^4-round crawl leaves 10^4 frontier dirs (+ files): every enqueued-set /
# edges read opens all of them. ``compact_checkpoint`` consolidates rounds
# 0..C into ONE base table behind an atomic marker; per-round dirs above C
# keep working as before, so compaction can run while the crawl is stopped at
# any point and be repeated as the crawl grows.

COMPACTION_MARKER = "compaction.json"


def compacted_upto(chk_dir: str) -> Optional[int]:
    p = os.path.join(chk_dir, COMPACTION_MARKER)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)["upto"]


def _base_dir(chk_dir: str, upto: int) -> str:
    return _state_dir(chk_dir, f"frontier_base_{upto:04d}")


def _frontier_df(spark: SparkSession, chk_dir: str, upto_round: int) -> DataFrame:
    """All frontier snapshot rows for rounds ≤ ``upto_round`` (every row
    carries its ``round``), reading the compacted base where one exists."""
    c = compacted_upto(chk_dir)
    parts = []
    start = 0
    if c is not None:
        parts.append(
            spark.read.schema(_FRONTIER_READ).parquet(spark_path(_base_dir(chk_dir, c)))
            .filter(F.col("round") <= upto_round)
        )
        start = c + 1
    live = [
        os.path.join(round_dir(chk_dir, r), "frontier")
        for r in range(start, upto_round + 1)
    ]
    if live:
        parts.append(spark.read.schema(_FRONTIER_READ).parquet(*map(spark_path, live)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_frontier(spark: SparkSession, chk_dir: str, rnd: int) -> DataFrame:
    """The round-``rnd`` queue, trimmed to the loop's working columns."""
    direct = os.path.join(round_dir(chk_dir, rnd), "frontier")
    if os.path.isdir(direct):
        df = spark.read.schema(_FRONTIER_READ).parquet(spark_path(direct))
    else:  # round folded into the compacted base
        df = _frontier_df(spark, chk_dir, rnd).filter(F.col("round") == rnd)
    return df.select("url", "host", "depth", "arrival_rank")


def read_enqueued(spark: SparkSession, chk_dir: str, upto_round: int) -> DataFrame:
    """Ever-enqueued URL set ≡ union of the committed frontier snapshots."""
    return _frontier_df(spark, chk_dir, upto_round).select("url")


def read_edges(spark: SparkSession, chk_dir: str, upto_round: int) -> DataFrame:
    """Edges view over the frontier snapshots (seed rows have no parent)."""
    df = _frontier_df(spark, chk_dir, upto_round)
    return df.filter(F.col("parent_url").isNotNull()).select(
        "parent_url", F.col("url").alias("child_url"), "link_pos", "round"
    )


def compact_checkpoint(
    spark: SparkSession, chk_dir: str, upto_round: Optional[int] = None
) -> int:
    """Fold the frontier snapshots of rounds 0..``upto_round`` (default: the
    latest committed round) into one consolidated base table. Protocol:
    write the new base dir → atomically replace the marker → delete the
    superseded per-round frontier dirs and any previous base. Round
    manifests are kept (commit history + resume validation), state delta
    tables are untouched (they are already round-partitioned and coalesced).
    Safe to re-run as the crawl grows; every reader keeps working for any
    ``upto_round`` because base rows retain their ``round`` column."""
    last = latest_round(chk_dir)
    if last is None:
        raise ValueError(f"no committed rounds under {chk_dir}")
    upto = last if upto_round is None else min(upto_round, last)
    prev = compacted_upto(chk_dir)
    if prev is not None and upto <= prev:
        return prev  # nothing new to fold

    rows = _frontier_df(spark, chk_dir, upto)
    n = rows.count()
    target = _base_dir(chk_dir, upto)
    shutil.rmtree(target, ignore_errors=True)
    _coalesced(rows, n).write.mode("overwrite").parquet(target)

    tmp = os.path.join(chk_dir, ".compaction.tmp")
    with open(tmp, "w") as fh:
        json.dump({"upto": upto, "format": CHECKPOINT_FORMAT, "rows": n}, fh)
    os.replace(tmp, os.path.join(chk_dir, COMPACTION_MARKER))  # atomic cut-over

    for r in range((prev + 1) if prev is not None else 0, upto + 1):
        shutil.rmtree(os.path.join(round_dir(chk_dir, r), "frontier"), ignore_errors=True)
    if prev is not None:
        shutil.rmtree(_base_dir(chk_dir, prev), ignore_errors=True)
    return upto


def reset_checkpoint(chk_dir: str) -> None:
    """Clear ALL prior checkpoint state so a fresh (non-resume) crawl into a
    reused directory starts from nothing. Without this, a dir that was
    previously crawled AND compacted keeps its ``compaction.json`` +
    ``frontier_base_NNNN``, and the new crawl's enqueued/edges reads would
    silently include the OLD crawl's rows (the marker shadows the new
    per-round frontier dirs for rounds ≤ its ``upto``)."""
    if not os.path.isdir(chk_dir):
        return
    for entry in os.listdir(chk_dir):
        if entry.startswith("round=") or entry == "state":
            shutil.rmtree(os.path.join(chk_dir, entry), ignore_errors=True)
    marker = os.path.join(chk_dir, COMPACTION_MARKER)
    if os.path.exists(marker):
        os.remove(marker)


def latest_round(chk_dir: str) -> Optional[int]:
    if not os.path.isdir(chk_dir):
        return None
    best = None
    for entry in os.listdir(chk_dir):
        if entry.startswith("round=") and os.path.exists(
            os.path.join(chk_dir, entry, "manifest.json")
        ):
            best = max(best if best is not None else -1, int(entry.split("=")[1]))
    return best


def load_manifest(chk_dir: str, rnd: int) -> Dict:
    with open(os.path.join(round_dir(chk_dir, rnd), "manifest.json")) as fh:
        return json.load(fh)
