"""One BFS round as a DataFrame plan (SURVEY §3 "Spark lifecycle equivalent").

    pages scan ⋈ broadcast(frontier_r)      (needles INTO the haystack — the
      │                                      pages table is never shuffled)
      ─ ONE Arrow pass (visit_and_expand): visit rows + link rows; html never
        enters a shuffle or cache; depth==max rows probe the url column only
      ─ misses anti-join (fetch failures) + ONE union-agg stats job
      ─ budget truncation (exact mid-level max_pages cut, O-28)
      ─ native filters (same-domain O-13, robots O-19)
      ─ first-appender min(struct) agg (O-17/O-25 — map-side combine, so the
        hot keys every page links to, like "/", never skew a shuffle)
      ─ bloom pre-split + EXACT left-anti join vs enqueued (O-16)
      ─ two-phase global rank → frontier_{r+1} queue order (O-24)
      (zero-link rounds skip everything after the stats job)

Parity invariants with the reference loop (crawler.py:179-238):
* ``matched`` requires fetch success — a 404 never counts toward max_pages
  (the reference's discovered.add sits inside ``if result.success``).
* The budget is checked per dequeue, so a level can be cut mid-way: the stop
  position is the arrival_rank of the (max_pages - discovered_so_far)-th
  successful match, found with TakeOrderedAndProject (orderBy+limit), not a
  single-partition window. Visits AND expansions beyond it are discarded.
* Within-round dedup keeps the earliest (parent_seq, link_pos) appearance —
  "first appender wins" — and the anti-join target is the ever-enqueued set
  (≡ visited ∪ to_visit: the queue never holds duplicates, so membership in
  either is exactly the reference's double ``not in`` test, crawler.py:223).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crawl4ai_scraper_spark.config import CrawlJobConfig
from crawl4ai_scraper_spark.functions.udfs import (
    VISIT_EXPAND_DOC_SCHEMA,
    VISIT_EXPAND_SCHEMA,
    include_exclude_predicate,
    visit_and_expand,
)
from crawl4ai_scraper_spark.kernel.expand import DOC_COLS
from crawl4ai_scraper_spark.plans.bloom import AnyBloom, might_contain_col
from crawl4ai_scraper_spark.plans.checkpoint import FRONTIER_FILE_SCHEMA
from crawl4ai_scraper_spark.plans.politeness import (
    host_budget_cap,
    hygiene_filter,
    robots_filter,
    template_blocklist_filter,
    url_blocklist_filter,
)
from crawl4ai_scraper_spark.plans.ranking import global_rank
from crawl4ai_scraper_spark.sources.pages import with_pbucket


@dataclass
class RoundResult:
    visits: DataFrame          # url, host, depth, seq, success, matched
    new_frontier: DataFrame    # url, host, depth, arrival_rank
    new_edges: DataFrame       # parent_url, child_url, link_pos
    counts: Dict[str, int] = field(default_factory=dict)
    truncated: bool = False
    lineage: Optional[DataFrame] = None
    caches: list = field(default_factory=list)  # persisted frames → unpersist after commit
    # fused rounds: sum of the kept matched visits' content_length
    content_length: Optional[int] = None


def _partition_counts(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition row counts → lineage rows (north_star: per-partition
    frontier-in / fetched / deduped / frontier-out)."""
    return df.groupBy(F.spark_partition_id().alias("partition")).agg(
        F.count(F.lit(1)).alias("rows")
    ).select(F.lit(stage).alias("stage"), "partition", "rows")


def fetch_join(
    pages: DataFrame,
    frontier: DataFrame,
    n_buckets: int,
    broadcast_threshold: int,
    frontier_count: Optional[int] = None,
) -> DataFrame:
    """The fetch "join" (O-4/O-18): look a small frontier up in a huge pages
    table, LEFT-outer semantics (a miss = fetch failure).

    A plain ``frontier.join(pages, …, "left")`` cannot broadcast the frontier
    (Spark only broadcasts the RIGHT side of a left-outer join), so it would
    SHUFFLE the whole pages table every round — fatal at 10^10 stored pages.
    Instead, broadcast the needles and scan the haystack:

        hits   = pages ⋈ broadcast(frontier)   (inner BHJ — pages scanned in
                 place, never shuffled; column pruning keeps the scan at
                 (pbucket, url, html); bucket/bloom pruning applies)
        misses = frontier ∖ hits.urls          (tiny anti-join)
        fetched = hits ∪ misses(html=null)

    Frontiers above ``broadcast_threshold`` rows fall back to the shuffled
    left join (at that size the frontier is no longer a "needle").
    """
    fr = with_pbucket(frontier, n_buckets)
    page_side = pages.select("pbucket", "url", "html")  # column pruning: never warc_ts/text here
    n = frontier_count if frontier_count is not None else frontier.count()
    if n <= broadcast_threshold:
        hits = page_side.join(F.broadcast(fr), ["pbucket", "url"], "inner")
        frontier_cols = [c for c in fr.columns if c != "pbucket"]
        misses = (
            fr.join(hits.select("url"), "url", "left_anti")
            .select(*frontier_cols)
            .withColumn("html", F.lit(None).cast("binary"))
        )
        return hits.select(*frontier_cols, "html").unionByName(misses)
    return fr.join(page_side, ["pbucket", "url"], "left").drop("pbucket")


def run_round(
    pages: DataFrame,
    frontier: DataFrame,
    enqueued: DataFrame,
    cfg: CrawlJobConfig,
    seed_domain: str,
    seq_base: int,
    discovered_so_far: int,
    host_rules: Optional[DataFrame] = None,
    bloom: Optional[AnyBloom] = None,
    n_buckets: int = 32,
    priority_col: Optional[Union[Callable[[DataFrame], Column], DataFrame]] = None,
    frontier_count: Optional[int] = None,  # tracked by the driver — saves a job
    extraction: Optional[dict] = None,  # fused extraction (see visit_and_expand)
    blocked_hosts: Optional[DataFrame] = None,  # URL screening (url_blocklist_filter)
    blocked_templates: Optional[DataFrame] = None,  # trap screen (template_blocklist_filter)
) -> RoundResult:
    # ---- single-pass fetch + expand (O-4/O-18 + O-9/O-13) ----
    # The pages scan is touched ONCE per round. On the broadcast path (the
    # normal needle-in-haystack regime) the frontier is broadcast into the
    # scan, the hits stream straight through the visit_and_expand Arrow pass,
    # and the html binary never enters a shuffle or a cache; frontier rows
    # with no stored page (fetch failures) are recovered by a tiny anti-join
    # against the emitted visit rows. Above the broadcast threshold both
    # sides shuffle (classic left join) and the UDF sees html=null for misses.
    fr = with_pbucket(frontier, n_buckets)
    n_frontier = frontier_count if frontier_count is not None else frontier.count()
    in_cols = ["url", "host", "depth", "arrival_rank", "html"]
    visit_cols = ["url", "host", "depth", "arrival_rank", "success"]
    expand_schema = VISIT_EXPAND_SCHEMA
    doc_nulls = []
    if extraction is not None:
        expand_schema = VISIT_EXPAND_DOC_SCHEMA
        visit_cols = visit_cols + list(DOC_COLS) + ["doc_matched"]
        doc_nulls = [F.lit(None).cast("long" if c in ("content_length", "links_count")
                                      else "string").alias(c) for c in DOC_COLS]
        doc_nulls.append(F.lit(None).cast("boolean").alias("doc_matched"))
    # Only rows that will EXPAND need the html column; frontier rows already
    # at max_depth only need an existence probe, so their join reads the
    # (tiny) url column of the pages table and skips the Arrow transfer
    # entirely. In FIFO mode a round's depths are uniform (level-synchronous
    # BFS), so per round one side is simply empty; priority mode can mix.
    # FUSED extraction needs the html of max-depth pages too (they are
    # extracted even though never expanded), so fusion disables the probe.
    if extraction is None:
        fr_expand = fr.filter(F.col("depth") < cfg.max_depth)
        fr_final = fr.filter(F.col("depth") >= cfg.max_depth)
    else:
        fr_expand, fr_final = fr, fr.filter(F.lit(False))
    page_side = pages.select("pbucket", "url", "html")  # never warc_ts/text here
    page_urls = pages.select("pbucket", "url")
    broadcast_path = n_frontier <= cfg.broadcast_frontier_threshold
    udf = visit_and_expand(cfg.max_depth, extraction)
    if broadcast_path:
        hits = page_side.join(F.broadcast(fr_expand), ["pbucket", "url"], "inner")
        expanded = hits.select(*in_cols).mapInPandas(udf, expand_schema).persist()
        final_part = page_urls.join(F.broadcast(fr_final), ["pbucket", "url"], "inner").select(
            "url", "host", "depth", "arrival_rank", F.lit(True).alias("success"), *doc_nulls
        )
    else:
        fetched = fr_expand.join(page_side, ["pbucket", "url"], "left").drop("pbucket")
        expanded = fetched.select(*in_cols).mapInPandas(udf, expand_schema).persist()
        final_part = (
            fr_final.join(page_urls.withColumn("hit", F.lit(True)), ["pbucket", "url"], "left")
            .select("url", "host", "depth", "arrival_rank",
                    F.coalesce(F.col("hit"), F.lit(False)).alias("success"), *doc_nulls)
        )
    caches = [expanded]

    if extraction is None:
        matched_pred = include_exclude_predicate(F.col("url"), cfg.patterns, cfg.exclude_patterns)
    else:
        # Fused mode: the Arrow pass already decided pattern membership when it
        # emitted (or withheld) the doc columns — reuse ITS flag instead of
        # re-evaluating the patterns in JVM rlike, so a Java-vs-Python regex
        # dialect divergence can never yield matched=true rows with null docs.
        matched_pred = F.coalesce(F.col("doc_matched"), F.lit(False))

    # ---- round stats (one job) ----
    # Aggregates over BOTH join sides (union of two pre-aggregated single
    # rows) in a single action: materializes the expanded cache exactly once
    # — referencing it from several unmaterialized branches would recompute
    # the whole Arrow pass per branch — and yields every scalar the round
    # needs, before the budget decision that the candidate chain depends on.
    # Total visits ≡ frontier size (every dequeued URL is a visit,
    # crawler.py:180-189), so it is never counted with a job.
    kind0 = F.col("kind") == 0
    remaining = cfg.max_pages - discovered_so_far
    # fused rounds also sum the matched documents' content_length, which the
    # manifest carries so the crawl's summary needs no job
    fused = extraction is not None

    def matched_length(pred: Column) -> list:
        return [F.sum(F.when(pred, F.col("content_length"))).alias("cl")] if fused else []

    stats = (
        expanded.agg(
            F.count(F.when(kind0 & F.col("success"), 1)).alias("ok"),
            F.count(F.when(kind0 & F.col("success") & matched_pred, 1)).alias("m"),
            F.count(F.when(F.col("kind") == 1, 1)).alias("links"),
            *matched_length(kind0 & F.col("success") & matched_pred),
        )
        .unionByName(
            final_part.agg(
                F.count(F.when(F.col("success"), 1)).alias("ok"),
                F.count(F.when(F.col("success") & matched_pred, 1)).alias("m"),
                F.count(F.lit(None)).alias("links"),
                *matched_length(F.col("success") & matched_pred),
            )
        )
        .agg(F.sum("ok").alias("ok"), F.sum("m").alias("m"), F.sum("links").alias("links"),
             *([F.sum("cl").alias("cl")] if fused else []))
        .collect()[0]
    )
    n_visited, n_ok = n_frontier, int(stats["ok"])
    matched_count, n_links = int(stats["m"]), int(stats["links"])
    content_length = int(stats["cl"] or 0) if fused else None

    visit_rows = expanded.filter(kind0).select(*visit_cols).unionByName(final_part)
    if broadcast_path:  # frontier rows with no stored page = fetch failures
        misses = frontier.join(visit_rows.select("url"), "url", "left_anti").select(
            "url", "host", "depth", "arrival_rank", F.lit(False).alias("success"), *doc_nulls
        )
        visit_rows = visit_rows.unionByName(misses)
    visits = visit_rows.withColumn("matched", F.col("success") & matched_pred).persist()
    caches.append(visits)

    # ---- exact mid-level budget truncation (O-28) ----
    truncated = matched_count >= remaining
    stop = None
    if truncated:
        stop = (
            visits.filter("matched")
            .select("arrival_rank")
            .orderBy("arrival_rank")
            .limit(remaining)
            .agg(F.max("arrival_rank"))
            .collect()[0][0]
        )
        visits = visits.filter(F.col("arrival_rank") <= stop)
        vrow = visits.agg(
            F.count(F.lit(1)).alias("v"), F.count(F.when(F.col("success"), 1)).alias("ok"),
            *matched_length(F.col("matched")),
        ).collect()[0]
        n_visited, n_ok = int(vrow["v"]), int(vrow["ok"])
        if fused:
            content_length = int(vrow["cl"] or 0)

    visits = visits.withColumn("seq", (F.lit(seq_base) + F.col("arrival_rank")).cast("long"))

    # A round that emitted no links (every visit at max_depth, or all fetches
    # failed) skips the whole dedup/rank pipeline — otherwise the anti-join
    # would still shuffle the full enqueued set against an empty frame.
    if n_links == 0:
        spark = frontier.sparkSession
        new_frontier = spark.createDataFrame([], FRONTIER_FILE_SCHEMA)
        counts = {
            "frontier_in": n_frontier,
            "visited": n_visited,
            "fetched_ok": n_ok,
            "matched_new": min(matched_count, remaining),
            "frontier_out": 0,
            "links_total": 0,
        }
        lineage = (
            _partition_counts(frontier, "frontier_in")
            .unionByName(_partition_counts(visits.filter("success"), "fetched"))
            .unionByName(_partition_counts(new_frontier, "frontier_out"))
        )
        return RoundResult(
            visits=visits.select("url", "host", "depth", "seq", "success", "matched",
                                 "arrival_rank",
                                 *(list(DOC_COLS) if extraction is not None else [])),
            new_frontier=new_frontier,
            new_edges=spark.createDataFrame(
                [], "parent_url string, child_url string, link_pos int"
            ),
            counts=counts,
            truncated=truncated,
            lineage=lineage,
            caches=caches,
            content_length=content_length,
        )

    # ---- candidate links (already expanded above; native filters only) ----
    candidates = expanded.filter(F.col("kind") == 1).select(
        F.col("url").alias("parent_url"),
        (F.lit(seq_base) + F.col("arrival_rank")).cast("long").alias("parent_seq"),
        F.col("depth").alias("parent_depth"),
        "link_pos", "child_url", "child_domain", "child_host",
    )
    if stop is not None:  # expansions past the budget stop-seq are void (O-28)
        candidates = candidates.filter(F.col("parent_seq") <= F.lit(seq_base + int(stop)))
    if not cfg.include_external:
        candidates = candidates.filter(F.col("child_domain") == F.lit(seed_domain))
    candidates = robots_filter(candidates, host_rules)
    if cfg.hygiene_enabled:
        # trap defenses BEFORE the first-appender shuffle: cheap scan-side
        # predicates that shrink the groupBy input (a trap's minted URLs are
        # exactly the rows that would otherwise flood it)
        candidates = hygiene_filter(
            candidates, "child_url",
            max_url_len=cfg.hygiene_max_url_len,
            max_path_depth=cfg.hygiene_max_path_depth,
            max_query_params=cfg.hygiene_max_query_params,
            max_repeated_segments=cfg.hygiene_max_repeated_segments,
        )
    if cfg.url_spam_threshold > 0 or blocked_hosts is not None:
        # RefinedWeb-style URL screening, same placement rationale as hygiene:
        # scan-side predicates (plus a broadcast blocklist anti-join) that
        # shrink the first-appender shuffle's input
        candidates = url_blocklist_filter(
            candidates, "child_url", blocked_hosts,
            spam_threshold=cfg.url_spam_threshold if cfg.url_spam_threshold > 0 else None,
            host_col="child_host",  # precomputed by the Arrow pass — no re-parse
        ).drop("spam_score")
    if blocked_templates is not None:
        # trap templates flagged by earlier rounds (template_trap_stats):
        # broadcast anti-join on (child_host, digit-normalized template) —
        # kills a calendar trap's URL space without blocking its host
        candidates = template_blocklist_filter(
            candidates, "child_url", "child_host", blocked_templates
        )

    # ---- first-appender-wins (O-17/O-25): min(struct) keeps the earliest
    # (parent_seq, link_pos); partial aggregation combines hot children
    # map-side, so nav targets linked from every page don't skew the shuffle.
    first = (
        candidates.groupBy("child_url")
        .agg(
            F.min(
                F.struct("parent_seq", "link_pos", "parent_depth", "parent_url", "child_host")
            ).alias("f")
        )
        .select("child_url", "f.*")
    )

    # ---- URL-seen dedup (O-16): bloom pre-split, exact anti-join decides ----
    seen = enqueued.select(F.col("url").alias("child_url"))
    if bloom is not None:
        probed = first.withColumn("maybe_seen", might_contain_col(first, bloom, "child_url"))
        probed = probed.persist()
        caches.append(probed)
        definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        needs_check = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        survivors = needs_check.join(seen, "child_url", "left_anti").unionByName(definitely_new)
    else:
        survivors = first.join(seen, "child_url", "left_anti")

    if cfg.max_new_urls_per_host_round > 0:
        # per-host fairness cap on NEW enqueues, in first-appearance order.
        # link_pos < 2^20 per page (a page with a million links died in
        # hygiene long before), so the packed order key is collision-free.
        survivors = host_budget_cap(
            survivors.withColumn(
                "_order", F.col("parent_seq") * F.lit(1 << 20) + F.col("link_pos")
            ),
            cfg.max_new_urls_per_host_round,
            host_col="child_host",
            order_col="_order",
        ).drop("_order")

    # ---- next-round queue order (O-24): two-phase global rank, FIFO by
    # (parent's global seq, in-page link position); "priority" mode (our
    # extension) pre-orders by a caller-supplied column.
    next_rows = survivors.select(
        F.col("child_url").alias("url"),
        F.col("child_host").alias("host"),
        (F.col("parent_depth") + 1).cast("int").alias("depth"),
        "parent_seq",
        "link_pos",
        F.col("parent_url"),
    )
    if cfg.frontier_order == "priority" and priority_col is not None:
        if isinstance(priority_col, DataFrame):
            # External signal table (url, priority) — pagerank, recrawl
            # change-rate (temporal.recrawl_priorities), … — left-joined on
            # the url key (co-partitioned with the rank shuffle; unknown
            # urls default to priority 0). Caller should persist the signal
            # frame: it is consumed once per round.
            c0, c1 = priority_col.columns[:2]
            # Key inference: a signal whose first column is literally "host"
            # is host-keyed (e.g. textops.host_reputation — per-host quality
            # reputation); anything else is url-keyed (pagerank, recrawl
            # change-rate). Host signals are tiny (one row per host) and are
            # broadcast; url signals co-partition with the rank shuffle.
            key = "host" if c0 == "host" else "url"
            # max-collapse duplicate keys in the signal: a duplicated key in
            # the left join would fan out frontier rows and break the
            # one-visit-per-url invariant downstream
            signal = (
                priority_col.select(
                    F.col(c0).alias(key), F.col(c1).cast("double").alias("_prio")
                )
                .groupBy(key)
                .agg(F.max("_prio").alias("_prio"))
            )
            if key == "host":
                signal = F.broadcast(signal)
            next_rows = (
                next_rows.join(signal, key, "left")
                .withColumn(
                    "neg_priority", -F.coalesce(F.col("_prio"), F.lit(0.0))
                )
                .drop("_prio")
            )
        else:
            next_rows = next_rows.withColumn("neg_priority", -priority_col(next_rows))
        order_cols = ["neg_priority", "parent_seq", "link_pos"]
    else:
        order_cols = ["parent_seq", "link_pos"]
    # Pin the (html-free, frontier-sized) pre-rank frame: global_rank's range
    # sampling + the rank job each consume it, and without the cache both
    # would re-run the whole expand/dedup/anti-join chain.
    next_rows = next_rows.persist()
    caches.append(next_rows)
    ranked = global_rank(next_rows, order_cols, "arrival_rank", caches=caches).persist()
    caches.append(ranked)

    new_edges = ranked.select("parent_url", F.col("url").alias("child_url"), "link_pos")
    new_frontier = ranked.select("url", "host", "depth", "arrival_rank",
                                 "parent_url", "link_pos")

    # Counts come only from persisted/cached frames — recounting ``candidates``
    # would re-run the whole Arrow expansion pass, so dedup attrition is
    # reported per-partition in lineage instead of as a scalar here.
    # frontier_out is NOT counted with a job any more: the driver reads it
    # from the committed frontier snapshot's parquet footers post-write
    # (checkpoint.round_write_stats) — the count job used to be a full
    # materialization pass whose only output was one scalar. links_total
    # (pre-dedup links, from the combined stats agg) rides along as the
    # coalescing upper bound for the frontier write.
    counts = {
        "frontier_in": n_frontier,
        "visited": n_visited,
        "fetched_ok": n_ok,
        "matched_new": min(matched_count, remaining),
        "frontier_out": None,  # patched by the driver from footer stats
        "links_total": n_links,
    }

    lineage = (
        _partition_counts(frontier, "frontier_in")
        .unionByName(_partition_counts(visits.filter("success"), "fetched"))
        .unionByName(_partition_counts(ranked, "frontier_out"))
    )

    return RoundResult(
        visits=visits.select("url", "host", "depth", "seq", "success", "matched", "arrival_rank",
                             *(list(DOC_COLS) if extraction is not None else [])),
        new_frontier=new_frontier,
        new_edges=new_edges,
        counts=counts,
        truncated=truncated,
        lineage=lineage,
        caches=caches,
        content_length=content_length,
    )
