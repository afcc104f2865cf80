"""The driver-local round tier: one small FIFO round on the driver, no Spark job.

On small rounds nearly all of a Spark round's wall time is job overhead
(planning, scheduling, tiny shuffles, small commits), not page work. A round
whose frontier and enqueued set both hold at most ``sizing.LOCAL_ROUND_MAX``
rows runs here instead, with pyarrow and pandas in the driver process, and
writes the same checkpoint as a Spark round:

    fetch     frontier ⋈ pages, read straight from the table's ``pbucket=``
              dirs (pyarrow, url ``in`` filter), plus misses with html=null —
              the rows the Spark tier's broadcast join yields, duplicates too
    visit     ``kernel.expand.expand_rows``, the kernel the Spark tier's
              ``mapInPandas`` batch function wraps — there is no second
              kernel — fanned out over every core of the driver (below)
    relational steps of ``run_round`` / ``virtual_schedule``: the exact
              mid-level budget cut, the same-domain filter, first appender
              (min ``(parent_seq, link_pos)``), the anti-join against the
              enqueued set, the FIFO rank and per-host ``sched_ts``
    commit    ``checkpoint.write_round_files`` (the driver writer) + manifest

The enqueued set is read once with pyarrow when a crawl enters this tier and
kept in memory while it stays here (``LocalState``).

Fan-out: the visit pass cuts the fetched rows into one contiguous chunk per
core (``pool.usable_cores``), of equal row count. The driver runs
chunk 0 itself and ``kernel.pool`` workers (cores − 1 ``python -m``
subprocesses that import only ``kernel``) run the rest; the column lists are
joined in chunk order, so the frame is the one a single in-process call
gives. A round with fewer than two rows per core, or a 1-core driver, runs
in process. The workers start at the first round that fans out and serve
every later round and crawl of the process. They exit at EOF on their
stdin: at interpreter exit (an ``atexit`` hook closes the pipes and waits),
or when the driver dies. A worker that dies or fails fails its round before
the commit (no manifest; a resume replays the round) and closes the pool,
which the next fan-out round starts afresh.

Scope: FIFO order with the default preset's features. ``local_scope`` returns
None — every round runs in the Spark tier — for robots rules, hygiene, URL
screening, trap screening, a per-host cap, a priority column, a seen filter,
or a pages frame that is not exactly the one ``read_pages`` returned.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Dict, Optional, Set

import numpy as np
import pandas as pd
from pyspark.sql.pandas.types import to_arrow_schema

from crawl4ai_scraper_spark.config import CrawlJobConfig
from crawl4ai_scraper_spark.kernel import pool
from crawl4ai_scraper_spark.kernel.expand import expand_rows
from crawl4ai_scraper_spark.kernel.urls import match_url_pattern
from crawl4ai_scraper_spark.plans.checkpoint import (
    FRONTIER_FILE_SCHEMA,
    LINEAGE_SCHEMA,
    _write_manifest,
    frontier_table,
    visited_schema,
    write_round_files,
)
from crawl4ai_scraper_spark.sources.pages import pages_table_root, pbucket_of

_QUEUE_COLS = ("url", "host", "depth", "arrival_rank")


def local_scope(pages, cfg: CrawlJobConfig, *, host_rules=None, blocked_hosts=None,
                blocked_templates=None, priority_col=None, use_bloom=False) -> Optional[str]:
    """The pages table root when the crawl's rounds may run in this tier,
    else None (every round runs in the Spark tier)."""
    if (host_rules is not None or blocked_hosts is not None or blocked_templates is not None
            or priority_col is not None or use_bloom is True
            or cfg.frontier_order != "fifo" or cfg.hygiene_enabled
            or cfg.url_spam_threshold > 0 or cfg.trap_screen
            or cfg.max_new_urls_per_host_round > 0):
        return None
    root = pages_table_root(pages)
    if root is None or not any(e.startswith("pbucket=") for e in os.listdir(root)):
        return None
    return root


@dataclass
class LocalState:
    """What a run of local rounds keeps in memory: the round's queue and
    every url ever enqueued (≡ ``read_enqueued``)."""

    frontier: pd.DataFrame  # url, host, depth, arrival_rank
    enqueued: Set[str]

    @classmethod
    def load(cls, chk_dir: str, last: int) -> "LocalState":
        """Both from the committed frontier snapshots of rounds ≤ ``last``."""
        import pyarrow.compute as pc

        rows = frontier_table(chk_dir, last, _QUEUE_COLS)
        queue = rows.filter(pc.equal(rows["round"], last)).select(list(_QUEUE_COLS))
        return cls(queue.to_pandas(), set(rows["url"].to_pylist()))

    def advance(self, new_frontier: pd.DataFrame) -> None:
        self.enqueued.update(new_frontier["url"])
        self.frontier = new_frontier[list(_QUEUE_COLS)]


@dataclass
class LocalRound:
    visits: pd.DataFrame        # visited columns, ``sched_ts`` set by ``schedule``
    new_frontier: pd.DataFrame  # FRONTIER_FILE_SCHEMA columns, in rank order
    counts: Dict[str, int]
    truncated: bool
    content_length: Optional[int]  # fused: sum over the matched visits

    def schedule(self, round_vt: float, delay: float) -> float:
        """``virtual_schedule`` without host rules: the i-th visit (0-based,
        by arrival_rank) of a host departs at ``round_vt + i * delay``.
        Returns the next round's virtual time, as the Spark tier's finalize
        derives it from the visited footers."""
        v = self.visits.sort_values("arrival_rank", kind="stable")
        k = v.groupby("host", sort=False, dropna=False).cumcount()
        v["sched_ts"] = round_vt + k.to_numpy(dtype="float64") * delay
        self.visits = v
        return (float(v["sched_ts"].max()) if len(v) else round_vt) + delay


def _fetch(pages_root: str, frontier: pd.DataFrame, n_buckets: int) -> pd.DataFrame:
    """frontier ⋈ pages on (pbucket, url), plus the frontier rows with no
    page (html=null) — the rows the Spark tier's fetch yields. Only the
    frontier's ``pbucket=`` dirs are opened, with a url ``in`` filter."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    fr = frontier.assign(pbucket=[pbucket_of(u, n_buckets) for u in frontier["url"]])
    files = []
    for b in sorted(set(fr["pbucket"])):
        d = os.path.join(pages_root, f"pbucket={b}")
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if not f.startswith(("_", "."))]
    hits = fr.iloc[:0].assign(html=pd.Series(dtype=object))
    if files:
        part = ds.partitioning(pa.schema([("pbucket", pa.int32())]), flavor="hive")
        pages = ds.dataset(files, format="parquet", partitioning=part,
                           partition_base_dir=pages_root).to_table(
            columns=["pbucket", "url", "html"],
            filter=pc.field("url").isin(pa.array(fr["url"].tolist(), pa.string())),
        ).to_pandas()
        hits = fr.merge(pages, on=["pbucket", "url"])
    misses = fr[~fr["url"].isin(hits["url"])].assign(html=None)
    return pd.concat([hits, misses], ignore_index=True)


def _visit(max_depth: int, extraction: Optional[dict], fetched: pd.DataFrame) -> pd.DataFrame:
    """``expand_rows`` over the fetched rows, fanned out over every core of
    the driver when each core gets at least two rows; the frame is the one
    a single in-process call gives."""
    rows = list(zip(*(fetched[c].tolist() for c in ("url", "host", "depth", "arrival_rank",
                                                     "html"))))
    cores = pool.usable_cores()
    if cores == 1 or len(rows) < 2 * cores:
        return pd.DataFrame(expand_rows(max_depth, extraction, rows))
    chunks = [rows[i * len(rows) // cores:(i + 1) * len(rows) // cores] for i in range(cores)]
    parts = pool.map_expand(max_depth, extraction, chunks)
    return pd.DataFrame({c: [v for p in parts for v in p[c]] for c in parts[0]})


def expand_round(state: LocalState, pages_root: str, cfg: CrawlJobConfig, seed_domain: str,
                 seq_base: int, discovered_so_far: int, n_buckets: int,
                 extraction: Optional[dict] = None) -> LocalRound:
    """One BFS round up to (not including) the schedule and the commit —
    the local counterpart of ``frontier.run_round``."""
    n_frontier = len(state.frontier)
    out = _visit(cfg.max_depth, extraction, _fetch(pages_root, state.frontier, n_buckets))
    is_visit = out["kind"] == 0
    visits = out[is_visit].drop(columns=["kind", "link_pos", "child_url", "child_domain",
                                         "child_host"])
    if extraction is None:
        visits["matched"] = [bool(ok) and match_url_pattern(u, cfg.patterns, cfg.exclude_patterns)
                             for u, ok in zip(visits["url"], visits["success"])]
    else:  # the Arrow pass already decided pattern membership (doc_matched)
        visits["matched"] = visits.pop("doc_matched").eq(True)
    n_ok, matched_count = int(visits["success"].sum()), int(visits["matched"].sum())
    links = out[~is_visit]

    # exact mid-level budget cut (O-28): visits and expansions past the
    # arrival_rank of the remaining-th match are void
    remaining = cfg.max_pages - discovered_so_far
    truncated = matched_count >= remaining
    n_visited = n_frontier
    if truncated:
        stop = int(visits.loc[visits["matched"], "arrival_rank"].nsmallest(remaining).max())
        visits = visits[visits["arrival_rank"] <= stop]
        links = links[links["arrival_rank"] <= stop]
        n_visited, n_ok = len(visits), int(visits["success"].sum())
    content_length = (None if extraction is None
                      else int(visits.loc[visits["matched"], "content_length"].sum()))
    visits = visits.assign(seq=(seq_base + visits["arrival_rank"]).astype("int64"))

    cand = pd.DataFrame({
        "child_url": links["child_url"],
        "parent_seq": (seq_base + links["arrival_rank"]).astype("int64"),
        "link_pos": links["link_pos"].astype("int64"),
        "parent_depth": links["depth"].astype("int64"),
        "parent_url": links["url"],
        "child_host": links["child_host"],
    })
    if not cfg.include_external:
        cand = cand[links["child_domain"] == seed_domain]
    # first appender wins: min (parent_seq, link_pos, …) per child — the
    # sort order IS the FIFO rank order, and the filters below keep it
    first = cand.sort_values(["parent_seq", "link_pos", "parent_depth", "parent_url",
                              "child_host"], kind="stable").drop_duplicates("child_url")
    seen = state.enqueued
    new = first[np.fromiter((u not in seen for u in first["child_url"]), bool, len(first))]
    new_frontier = pd.DataFrame({
        "url": new["child_url"],
        "host": new["child_host"],
        "depth": new["parent_depth"] + 1,
        "arrival_rank": range(1, len(new) + 1),
        "parent_url": new["parent_url"],
        "link_pos": new["link_pos"],
    }).reset_index(drop=True)

    counts = {
        "frontier_in": n_frontier,
        "visited": n_visited,
        "fetched_ok": n_ok,
        "matched_new": min(matched_count, remaining),
        "frontier_out": len(new_frontier),
        "links_total": len(out) - int(is_visit.sum()),
    }
    return LocalRound(visits, new_frontier, counts, truncated, content_length)


def commit_round_local(chk_dir: str, rnd: int, lr: LocalRound, fused: bool, meta: Dict) -> None:
    """Write the round's frontier, visited and lineage files with the driver
    writer in the declared schemas, then its manifest (``meta``)."""
    import pyarrow as pa

    def table(df: pd.DataFrame, schema) -> pa.Table:
        return pa.Table.from_pandas(df[schema.fieldNames()], schema=to_arrow_schema(schema),
                                    preserve_index=False)

    # one lineage row per stage (a Spark round writes one per partition;
    # an empty stage has no row in either tier)
    lineage = pd.DataFrame(
        [(stage, 0, n) for stage, n in (("frontier_in", lr.counts["frontier_in"]),
                                        ("fetched", lr.counts["fetched_ok"]),
                                        ("frontier_out", lr.counts["frontier_out"])) if n],
        columns=LINEAGE_SCHEMA.fieldNames(),
    )
    write_round_files(chk_dir, rnd, table(lr.new_frontier, FRONTIER_FILE_SCHEMA), {
        "visited": table(lr.visits, visited_schema(fused)),
        "lineage": table(lineage, LINEAGE_SCHEMA),
    })
    _write_manifest(chk_dir, rnd, meta)
