"""The crawl driver: level-synchronous BFS loop + documents output.

≙ crawl_with_discovery (/root/reference/crawler.py:602-655): one round per
BFS level with checkpoint commits between rounds (resume = start from the
last committed manifest).

A checkpoint has one of two modes, fixed at bootstrap by the first run's
``extract`` and recorded in the manifest as ``fused``:

* fused (``extract=True``): each round extracts its pattern-matched pages'
  documents inside the pass that visits them, so the reference's separate
  Phase-2 scan (crawler.py:547-599) does not exist; the documents table is
  a view over the committed visited rows.
* discovery (``extract=False``): rounds only visit and expand. Resuming such
  a checkpoint with ``extract=True`` finishes discovery in that mode and
  then extracts the discovered pages in one ``extract_pass``.

Resuming a fused checkpoint with ``extract=False`` returns
``documents=None``.

A round runs in one of two tiers, picked per round from the manifest's
``frontier_n`` / ``enqueued_n`` (no job to decide):

* the driver-local tier (``plans/local.py``) when both are at most
  ``sizing.LOCAL_ROUND_MAX`` and the crawl is in its scope — FIFO order
  with the default preset's features over a ``read_pages`` table. The round
  runs with pyarrow and pandas on the driver and starts no Spark job.
* the Spark tier (``run_round``) for every other round.

Both tiers write the same checkpoint, so a crawl or a resume can cross
between them at any round; each manifest records its round's ``tier``.

Driver-side state is four integers (round, seq_base, discovered count,
virtual clock) — everything heavy lives in checkpointed tables. No
``collect()`` of data rows anywhere in the loop; the only driver materializers
are tiny counts/aggregates and the per-partition offsets inside global_rank.
Checkpoint bookkeeping runs no Spark job: the round-0 commit is written on
the driver, round 1 reads it back through ``read_frontier`` /
``read_enqueued`` like every later round and a resume, the readers declare
their schemas, and the post-commit scalars (frontier size, round_vt) come
from parquet footers. Spark jobs run only for round plans and their writes.
The tail of a fused crawl runs none either: every round adds its matched
documents' ``content_length`` to the manifest's ``total_content_length``, so
the summary is read from the last manifest (a checkpoint written before
manifests carried the total, and ``extract_pass``, still aggregate). A crawl
whose rounds all ran locally starts no Spark job.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from pathlib import Path
from typing import Callable, Dict, List, Optional, Union
from crawl4ai_scraper_spark.kernel.urls import safe_urlparse as urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from crawl4ai_scraper_spark.config import CrawlJobConfig
from crawl4ai_scraper_spark.functions.udfs import EXTRACTED_SCHEMA, extract_documents
from crawl4ai_scraper_spark.kernel.urls import extract_domain
from crawl4ai_scraper_spark.plans.bloom import (
    add_to_bloom,
    build_bloom,
    build_sharded_bloom,
    build_sharded_cuckoo,
)
from crawl4ai_scraper_spark.plans.checkpoint import (
    commit_round,
    commit_round_start,
    check_format,
    frontier_rows,
    latest_round,
    load_manifest,
    read_edges,
    read_enqueued,
    read_frontier,
    read_state,
    reset_checkpoint,
    spark_path,
    visited_schema,
    visited_vt_max,
)
from crawl4ai_scraper_spark.plans.frontier import run_round
from crawl4ai_scraper_spark.plans.local import (
    LocalState,
    commit_round_local,
    expand_round,
    local_scope,
)
from crawl4ai_scraper_spark.plans.politeness import template_trap_stats, virtual_schedule
from crawl4ai_scraper_spark.sizing import LOCAL_ROUND_MAX
from crawl4ai_scraper_spark.sources.pages import DEFAULT_PBUCKETS

RUN_TS_ISO = "2025-01-01T00:00:00"  # virtual clock epoch: reproducible crawled_at

@dataclass
class CrawlResult:
    visited: DataFrame      # url, host, depth, seq, success, matched, sched_ts, round
    discovered: DataFrame   # url — pattern-matched successes, sorted (O-27)
    edges: DataFrame        # parent_url, child_url, link_pos, round
    lineage: DataFrame      # round, stage, partition, rows
    documents: Optional[DataFrame]
    summary: Dict
    rounds: int


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seed_url: str,
    cfg: CrawlJobConfig,
    chk_dir: str,
    host_rules: Optional[DataFrame] = None,
    resume: bool = False,
    extract: bool = True,
    use_bloom: bool | str = "auto",
    priority_col: Optional[Union[Callable[[DataFrame], Column], DataFrame]] = None,
    n_buckets: Optional[int] = None,
    max_rounds: Optional[int] = None,  # stop early (kill simulation / tests)
    blocked_hosts: Optional[DataFrame] = None,  # URL screening (url_blocklist_filter)
) -> CrawlResult:
    """Run the full crawl. ``extract=True`` extracts each pattern-matched
    page's document INSIDE the round that visits it — the page's html is
    already streaming through the expansion Arrow pass — and
    ``extract=False`` only discovers.

    The checkpoint's mode is fixed at bootstrap (the visited-state schema
    differs), so a resume continues in the mode its first run chose:
    ``extract=True`` on a discovery checkpoint finishes discovery and then
    extracts the discovered pages in one ``extract_pass``, and
    ``extract=False`` on a fused checkpoint returns ``documents=None``."""
    seed_domain = extract_domain(seed_url)
    # The fetch join computes pbucket = pmod(xxhash64(url), N); N MUST equal
    # the modulus the pages table was written with or lookups silently miss.
    if n_buckets is None:
        n_buckets = DEFAULT_PBUCKETS

    last = latest_round(chk_dir) if resume else None
    if last is None:
        # Fresh crawl: a reused chk_dir may hold a previous crawl's rounds,
        # state tables, and compaction marker — all of which the read paths
        # would trust (the compacted base SHADOWS new per-round frontier
        # dirs). Start from a clean slate.
        reset_checkpoint(chk_dir)
        # config persisted next to the checkpoints (≙ config_manager save)
        cfg.dump(Path(chk_dir) / "crawl_config.json")
        # round-0 bootstrap commit (driver-side, no Spark job) so a resume
        # before the first round works; round 1 then starts from it exactly
        # like a resume does
        commit_round(
            chk_dir, seed_url, urlparse(seed_url).netloc,
            {"seq_base": 0, "discovered": 0, "round_vt": 0.0, "bootstrap": True, "done": False,
             "frontier_n": 1, "enqueued_n": 1,
             "fused": bool(extract),
             "total_content_length": 0 if extract else None,
             # sizing decision in lineage: what this run actually ran
             # with, derived or overridden, auditable per-crawl
             "runtime_sizing": {
                 "shuffle_partitions": int(
                     spark.conf.get("spark.sql.shuffle.partitions", "32")),
                 "driver_memory": spark.conf.get("spark.driver.memory", ""),
             }},
        )
        last = 0
    meta = load_manifest(chk_dir, last)
    check_format(meta, chk_dir)
    # Fused-ness is a property of the CHECKPOINT (it widens the visited
    # schema), fixed at bootstrap — a resume continues in the mode the
    # crawl started in, whatever the caller asked for now.
    fused = meta.get("fused", False)
    rnd = last + 1
    seq_base = meta["seq_base"]
    discovered_n = meta["discovered"]
    # fused checkpoints: the matched documents' summed content_length, so the
    # summary needs no job (None in discovery mode, and for a checkpoint
    # written before manifests carried it — its summary runs the agg)
    content_total = meta.get("total_content_length")
    round_vt = meta["round_vt"]
    done = meta.get("done", False)
    frontier_n = (meta["frontier_n"] if "frontier_n" in meta
                  else read_frontier(spark, chk_dir, last).count())
    enqueued_n = (meta["enqueued_n"] if "enqueued_n" in meta
                  else read_enqueued(spark, chk_dir, last).count())
    resume_traps = meta.get("trap_templates", [])

    extraction = None
    if fused:
        extraction = {
            "cleaning": cfg.cleaning_kwargs(),
            "naming": (cfg.organization_strategy, cfg.naming_convention, RUN_TS_ISO),
            "patterns": cfg.patterns,
            "exclude_patterns": cfg.exclude_patterns,
        }

    # (filter, capacity, enqueued-count covered) — bloom-family URL-seen
    # filter maintained incrementally across rounds; see the build block.
    seen_state = None
    # Trap screening: (host, path-template) pairs flagged by the round's
    # visited pages are blocked for every later round — template grain, not
    # host grain, because the same-domain gate puts most traps ON the host
    # being crawled. Only flagged PAIRS cross to the driver (bounded by the
    # number of trap templates, never by urls).
    trap_templates: set = {tuple(t) for t in resume_traps}
    blocked_templates = (
        spark.createDataFrame(sorted(trap_templates), "host string, tpl string")
        if trap_templates
        else None
    )
    # Deferred-commit state: round N's heavy visited write overlaps round
    # N+1's scan; finalized (manifest written, round_vt learned, caches
    # freed) right after that scan returns, before anything needs it.
    pending: list = []  # 0 or 1 dicts
    # Driver-local tier: the pages root if the crawl is in its scope, and the
    # in-memory state of a run of local rounds (loaded when the crawl enters
    # the tier, dropped when it leaves).
    pages_root = local_scope(
        pages, cfg, host_rules=host_rules, blocked_hosts=blocked_hosts,
        blocked_templates=blocked_templates, priority_col=priority_col, use_bloom=use_bloom,
    )
    local: Optional[LocalState] = None

    def _finalize_pending() -> None:
        nonlocal round_vt
        if not pending:
            return
        st = pending.pop()

        def _late() -> Dict:
            vt_max = visited_vt_max(chk_dir, st["rnd"])
            st["vt_out"] = (
                vt_max if vt_max is not None else st["vt_in"]
            ) + cfg.delay_between_requests
            return {
                "counts": st["counts"],
                "frontier_n": st["f_n"],
                "enqueued_n": st["enq_before"] + st["f_n"],
                "round_vt": st["vt_out"],
                "done": st["done"],
            }

        try:
            st["commit"].finalize(_late)
        finally:
            # unpersist even when the overlapped write failed — the caller's
            # designed recovery (catch + resume=True) runs in the same
            # SparkSession and must not inherit pinned executor memory
            for cached in st["caches"]:
                cached.unpersist()
        round_vt = st["vt_out"]

    while not done and discovered_n < cfg.max_pages and cfg.max_depth >= 0:
        if max_rounds is not None and rnd > max_rounds:
            break
        if frontier_n == 0:
            break
        # Bloom pre-filter pays off once the seen set dwarfs the candidate
        # stream; below the threshold the build job costs more than the
        # anti-join it would shave ("auto"). Correctness never depends on it.
        build_it = use_bloom is True or (use_bloom == "auto" and enqueued_n > 5_000_000)
        if (pages_root is not None and not build_it
                and frontier_n <= LOCAL_ROUND_MAX and enqueued_n <= LOCAL_ROUND_MAX):
            if local is None:
                local = LocalState.load(chk_dir, last)
            lr = expand_round(local, pages_root, cfg, seed_domain, seq_base, discovered_n,
                              n_buckets, extraction)
            # a Spark round before this one: its manifest lands first, and
            # the schedule needs its round_vt
            _finalize_pending()
            round_vt_out = lr.schedule(round_vt, cfg.delay_between_requests)
            seq_base += lr.counts["visited"]
            discovered_n += lr.counts["matched_new"]
            if content_total is not None:
                content_total += lr.content_length
            frontier_n = lr.counts["frontier_out"]
            done = lr.truncated or frontier_n == 0
            enqueued_n += frontier_n
            commit_round_local(chk_dir, rnd, lr, fused, {
                "seq_base": seq_base, "discovered": discovered_n,
                "total_content_length": content_total, "fused": fused,
                "trap_templates": sorted(trap_templates), "tier": "local",
                "counts": lr.counts, "frontier_n": frontier_n, "enqueued_n": enqueued_n,
                "round_vt": round_vt_out, "done": done,
            })
            local.advance(lr.new_frontier)
            round_vt = round_vt_out
            last = rnd
            rnd += 1
            continue
        local = None
        frontier = read_frontier(spark, chk_dir, last)
        enqueued = read_enqueued(spark, chk_dir, last)
        bloom = None
        if build_it:
            if cfg.seen_filter == "cuckoo":
                # cuckoo tables don't OR-merge → rebuilt per round (the
                # trade for deletability); the bloom family below maintains
                # the filter incrementally instead.
                cap = max(cfg.bloom_capacity, enqueued_n * 2)
                bloom = build_sharded_cuckoo(enqueued, "url", capacity=cap,
                                             n_shards=max(cfg.bloom_shards, 1))
            elif (seen_state is not None
                  and enqueued_n <= seen_state[1]
                  and seen_state[2] == enqueued_n - frontier_n):
                # Incremental path (the 10^10-URL scale story): the filter
                # already covers everything enqueued before this frontier;
                # fold ONLY the current frontier's urls in — O(new) per
                # round instead of O(total-enqueued).
                bloom = seen_state[0]
                add_to_bloom(bloom, frontier.select("url"), "url")
                seen_state = (bloom, seen_state[1], enqueued_n)
            else:
                # Fresh build, sized with 4x headroom so later rounds stay
                # on the incremental path (fpp holds while keys <= capacity).
                cap = max(cfg.bloom_capacity, enqueued_n * 4)
                if cfg.bloom_shards > 1:
                    bloom = build_sharded_bloom(enqueued, "url", capacity=cap,
                                                fpp=cfg.bloom_fpp,
                                                n_shards=cfg.bloom_shards)
                else:
                    bloom = build_bloom(enqueued, "url", capacity=cap,
                                        fpp=cfg.bloom_fpp)
                seen_state = (bloom, cap, enqueued_n)
        rr = run_round(
            pages, frontier, enqueued, cfg, seed_domain,
            seq_base=seq_base, discovered_so_far=discovered_n,
            host_rules=host_rules, bloom=bloom, n_buckets=n_buckets,
            priority_col=priority_col, frontier_count=frontier_n,
            extraction=extraction, blocked_hosts=blocked_hosts,
            blocked_templates=blocked_templates,
        )
        # The PREVIOUS round's visited write has been overlapping this scan;
        # join it now — virtual_schedule below needs its round_vt. On a
        # finalize failure, free this round's caches too before propagating
        # (they were persisted by run_round and are not yet tracked).
        try:
            _finalize_pending()
        except BaseException:
            for cached in rr.caches:
                cached.unpersist()
            raise
        visits = virtual_schedule(
            rr.visits, host_rules, cfg.delay_between_requests, round_vt
        )
        if cfg.trap_screen and fused:
            # two consumers (trap-stats action + snapshot write) — cache so
            # the schedule's shuffles (host offsets + join) run once
            visits = visits.persist()
            rr.caches.append(visits)
        # round_vt / frontier_out are NOT computed with Spark jobs any more:
        # the commit's meta_late hook reads them from the freshly-written
        # parquet footers (round_write_stats) — two whole jobs removed from
        # the per-round serial share (VERDICT r2 fix #3).

        seq_base += rr.counts["visited"]
        discovered_n += rr.counts["matched_new"]
        if content_total is not None:
            content_total += rr.content_length

        if cfg.trap_screen and fused:
            stats = template_trap_stats(
                visits.filter(F.col("success")).select(
                    "url", "host",
                    F.coalesce(F.col("markdown"), F.lit("")).alias("body"),
                ),
                "host", "url", "body",
                min_urls=cfg.trap_min_urls,
                max_dup_ratio=cfg.trap_max_dup_ratio,
            )
            new_traps = {
                (r["host"], r["tpl"])
                for r in stats.filter(F.col("trap_suspect"))
                .select("host", "tpl").collect()
            } - trap_templates
            if new_traps:
                trap_templates |= new_traps
                blocked_templates = spark.createDataFrame(
                    sorted(trap_templates), "host string, tpl string"
                )

        # ---- deferred snapshot commit: the frontier (next round's input)
        # and lineage land NOW; the heavy visited write (fused rows carry
        # ~1 KB of markdown each) overlaps the NEXT round's scan; the
        # manifest lands at finalize, so a crash mid-overlap replays this
        # round from the previous manifest. Loop-control scalars
        # (frontier_n, done) come from the frontier's parquet footers,
        # available immediately; round_vt (max visited sched_ts) is learned
        # at finalize, just before the next round's virtual_schedule needs
        # it.
        try:
            commit = commit_round_start(
                chk_dir, rnd, rr.new_frontier,
                {
                    "visited": visits.select(*visited_schema(fused).fieldNames()),
                    "lineage": rr.lineage,
                },
                {"seq_base": seq_base, "discovered": discovered_n,
                 "total_content_length": content_total, "fused": fused,
                 "trap_templates": sorted(trap_templates), "tier": "spark"},
                # fused visited rows are weighted 16x so the snapshot
                # writer's rows//250k file heuristic lands near one write
                # task per core for the heavy text-encode rounds; frontier
                # size is unknown pre-write — links emitted this round
                # (pre-dedup) is its upper bound, close enough.
                sizes={"frontier": rr.counts.get("links_total", 0),
                       "visited": rr.counts["visited"] * (16 if fused else 1),
                       "lineage": 0},
                heavy=("visited",),
            )
        except Exception:
            for cached in rr.caches:
                cached.unpersist()
            raise
        frontier_n = frontier_rows(chk_dir, rnd)
        counts = dict(rr.counts)
        counts["frontier_out"] = frontier_n
        done = rr.truncated or frontier_n == 0
        pending.append({
            "commit": commit, "rnd": rnd, "counts": counts,
            "f_n": frontier_n, "enq_before": enqueued_n,
            "vt_in": round_vt, "done": done, "caches": rr.caches,
        })
        enqueued_n += frontier_n
        last = rnd
        rnd += 1

    # join the last round's deferred write + manifest before reading state
    # (_finalize_pending cleans up after itself on failure; the round simply
    # stays uncommitted and a resume replays it)
    _finalize_pending()
    visited = read_state(spark, chk_dir, "visited", last)
    edges = read_edges(spark, chk_dir, last)
    lineage = read_state(spark, chk_dir, "lineage", last)
    discovered = visited.filter("matched").select("url").orderBy("url")  # O-27 sorted output

    documents, summary = (None, {})
    if extract and fused:
        known = None
        if content_total is not None:  # every document is a matched visit
            known = {"total_urls": discovered_n, "successful": discovered_n, "failed": 0,
                     "total_content_length": content_total}
        documents, summary = fused_documents(spark, visited, cfg, chk_dir, summary=known)
    elif extract:
        documents, summary = extract_pass(spark, pages, discovered, cfg, chk_dir, n_buckets,
                                          n_discovered=discovered_n)
    summary["rounds"] = last
    summary["discovered"] = discovered_n
    if cfg.trap_screen:
        summary["trap_templates"] = sorted(trap_templates)

    return CrawlResult(
        visited=visited, discovered=discovered, edges=edges, lineage=lineage,
        documents=documents, summary=summary, rounds=last,
    )


def extract_pass(
    spark: SparkSession,
    pages: DataFrame,
    discovered: DataFrame,
    cfg: CrawlJobConfig,
    chk_dir: str,
    n_buckets: int = 32,
    n_discovered: Optional[int] = None,
) -> tuple[DataFrame, Dict]:
    """Phase 2 ≙ ContentCrawler.crawl_urls (crawler.py:547-599) for a
    discovery checkpoint resumed with ``extract=True``: fetch join, one
    Arrow extraction pass, native formatting, documents_out + summary."""
    from crawl4ai_scraper_spark.plans.frontier import fetch_join

    fetch = fetch_join(
        pages, discovered.select("url"), n_buckets, cfg.broadcast_frontier_threshold,
        frontier_count=n_discovered,
    ).select("url", "html", F.lit(RUN_TS_ISO).alias("crawled_at"))
    cfg_kwargs = cfg.cleaning_kwargs()
    # extraction + output-path naming in ONE Arrow pass (a second path UDF
    # would round-trip every (url, title) through Python again)
    docs = fetch.mapInPandas(
        extract_documents(
            cfg_kwargs,
            naming=(cfg.organization_strategy, cfg.naming_convention, RUN_TS_ISO),
        ),
        EXTRACTED_SCHEMA,
    )
    return _finalize_documents(spark, docs, cfg, chk_dir)


def fused_documents(
    spark: SparkSession,
    visited: DataFrame,
    cfg: CrawlJobConfig,
    chk_dir: str,
    summary: Optional[Dict] = None,
) -> tuple[DataFrame, Dict]:
    """documents_out from FUSED visit rows — the matched visits already carry
    the extracted record (visit_and_expand with extraction), AND that content
    is already durable in the committed visited snapshots, so the documents
    table is a lazy VIEW over them (formatting is native concat) — no second
    pages scan and no redundant re-write of ~N GB of text. The summary
    (crawl_summary.json) is ``summary`` when the caller knows it from the
    manifest, else one aggregate job."""
    docs = visited.filter("matched").select(
        "url", "title", "description", "markdown", "content_length", "links_count",
        F.lit(RUN_TS_ISO).alias("crawled_at"), F.lit(True).alias("success"),
        "user_agent", F.lit(None).cast("string").alias("error"), "rel_path",
    )
    return _finalize_documents(spark, docs, cfg, chk_dir, materialize=False, summary=summary)


def _formatted_col(cfg: CrawlJobConfig) -> F.Column:
    """The file-payload column. With metadata: YAML-ish front matter, built
    NATIVELY (JVM concat — no UDF), matching kernel.naming.format_with_metadata
    byte for byte."""
    if not cfg.include_metadata:
        return F.coalesce(F.col("markdown"), F.lit(""))
    return F.concat(
        F.lit("---\nurl: "), F.col("url"),
        F.lit("\ntitle: "), F.coalesce(F.col("title"), F.lit("Untitled")),
        F.lit("\ndescription: "), F.coalesce(F.col("description"), F.lit("")),
        F.lit("\ncrawled_at: "), F.col("crawled_at"),
        F.lit("\ncontent_length: "), F.col("content_length").cast("string"),
        F.lit("\ncapture_mode: enhanced\n---\n# "),
        F.coalesce(F.col("title"), F.lit("Untitled")),
        F.lit("\n\n"), F.coalesce(F.col("markdown"), F.lit("")),
    )


def rematerialize_documents(
    spark: SparkSession,
    docs: DataFrame,
    cfg: CrawlJobConfig,
    out_dir: Optional[str] = None,
) -> DataFrame:
    """Deferred output configuration — the reference's scrape-now-save-later
    flow (crawler.crawl_urls(save_immediately=False) + OutputManager
    reconfiguration, tests/test_output_manager.py:13-120) as a snapshot
    transform: recompute ``rel_path`` and ``formatted`` from an
    ALREADY-CRAWLED documents table under a NEW naming / organization /
    metadata config, with no recrawl.

    Cost shape: one narrow Arrow pass over (url, title) for the path kernel
    plus a native concat — the markdown text itself is never shuffled or
    re-extracted; at 100 TB a re-organization touches metadata columns only
    and writes the new layout straight back out."""
    from crawl4ai_scraper_spark.functions.udfs import make_path_udf

    path_udf = make_path_udf(cfg.organization_strategy, cfg.naming_convention, RUN_TS_ISO)
    out = docs.withColumn(
        "rel_path",
        F.when(F.col("success"), path_udf(F.col("url"), F.col("title"))),
    ).withColumn("formatted", F.when(F.col("success"), _formatted_col(cfg)))
    if out_dir:
        out.write.mode("overwrite").parquet(out_dir)
        out = spark.read.parquet(spark_path(out_dir))
    return out


def _finalize_documents(
    spark: SparkSession,
    docs: DataFrame,
    cfg: CrawlJobConfig,
    chk_dir: str,
    materialize: bool = True,
    summary: Optional[Dict] = None,
) -> tuple[DataFrame, Dict]:
    docs = docs.withColumn("formatted", F.when(F.col("success"), _formatted_col(cfg)))

    if materialize:
        out_dir = os.path.join(chk_dir, "outputs", "documents")
        docs.write.mode("overwrite").parquet(out_dir)
        docs = spark.read.parquet(spark_path(out_dir))

    if summary is None:
        agg = docs.agg(
            F.count(F.lit(1)).alias("total_urls"),
            F.count(F.when(F.col("success"), 1)).alias("successful"),
            F.count(F.when(~F.col("success"), 1)).alias("failed"),
            F.coalesce(F.sum(F.when(F.col("success"), F.col("content_length"))),
                       F.lit(0)).alias("total_content_length"),
        ).collect()[0]
        summary = {k: int(agg[k])
                   for k in ("total_urls", "successful", "failed", "total_content_length")}
    os.makedirs(os.path.join(chk_dir, "outputs"), exist_ok=True)
    with open(os.path.join(chk_dir, "outputs", "crawl_summary.json"), "w") as fh:
        json.dump(summary, fh, indent=2, sort_keys=True)  # ≙ crawler.py:594-597
    return docs, summary


def run_multi_seed(
    spark: SparkSession,
    pages: DataFrame,
    seeds: List[str],
    cfg: CrawlJobConfig,
    chk_root: str,
    **kwargs,
) -> DataFrame:
    """Union-distinct discovery across seeds ≙ crawl_multiple
    (crawler.py:693-703): independent per-seed crawls, discovered sets
    union-deduped, sorted."""
    out: Optional[DataFrame] = None
    for idx, seed in enumerate(seeds):
        res = run_crawl(spark, pages, seed, cfg, os.path.join(chk_root, f"seed_{idx:02d}"),
                        extract=False, **kwargs)
        out = res.discovered if out is None else out.unionByName(res.discovered)
    assert out is not None
    return out.dropDuplicates(["url"]).orderBy("url")
