"""Spark engine ⇄ sequential oracle equivalence (SURVEY §5.2, scenarios from
FIXTURES.md §6). The gates, per BASELINE.json: crawl order list-equal,
URL-seen set set-equal, discovered output list-equal (sorted, crawler.py:250),
extracted text BYTE-equal per url, run summary field-equal."""

import json
import os

import pytest

from crawl4ai_scraper_spark.config import CrawlJobConfig
from crawl4ai_scraper_spark.oracle import oracle_crawl, oracle_discover
from crawl4ai_scraper_spark.oracle.simulator import oracle_multi_seed
from crawl4ai_scraper_spark.plans import driver
from crawl4ai_scraper_spark.plans.driver import run_crawl, run_multi_seed


@pytest.fixture(autouse=True)
def spark_tier_only(monkeypatch):
    """These gates hold the Spark tier: every crawl here runs with the
    driver-local tier off. tests/test_local_tier.py runs the local and the
    automatic tier against the same oracle."""
    monkeypatch.setattr(driver, "LOCAL_ROUND_MAX", 0)


SEED = "https://site0.example/"


def assert_parity(spark_res, oracle_res, check_text=True):
    spark_order = [r["url"] for r in spark_res.visited.orderBy("seq").select("url").collect()]
    oracle_order = [u for u, _ in oracle_res.visit_order]
    assert spark_order == oracle_order, (
        f"crawl order diverges at "
        f"{next(i for i, (a, b) in enumerate(zip(spark_order + [None], oracle_order + [None])) if a != b)}"
    )
    assert set(spark_order) == oracle_res.visited
    sd = [r["url"] for r in spark_res.discovered.collect()]
    assert sd == oracle_res.discovered
    if check_text:
        docs = {r["url"]: r["markdown"] for r in spark_res.documents.collect()}
        for rec in oracle_res.records:
            assert docs[rec["url"]] == rec.get("markdown"), f"text mismatch for {rec['url']}"
        for key, val in oracle_res.summary.items():
            assert spark_res.summary[key] == val, key


def test_bfs_with_budget_truncation(spark, pages3, web3, chk_dir):
    """bfs_basic + bfs_truncate: level order, first-appender depth, seen set,
    mid-level max_pages cut (crawler.py:179, 241-247), byte-identical text."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir)
    assert_parity(res, oracle_crawl(fetch, SEED, cfg))
    # the summary json sink exists (≙ crawl_summary.json, crawler.py:594-597)
    assert json.load(open(os.path.join(chk_dir, "outputs", "crawl_summary.json")))["total_urls"] == 40


def test_tight_budget_cut(spark, pages3, web3, chk_dir):
    """max_pages smaller than one level — the cut lands mid-round."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=2, max_pages=7)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, use_bloom=False)
    assert_parity(res, oracle_crawl(fetch, SEED, cfg))


def test_patterns_exclude_first(spark, pages3, web3, chk_dir):
    """Wildcard include/exclude semantics (crawler.py:111-130): exclusions
    win, include gates discovery but not traversal."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(
        max_depth=2, max_pages=50,
        patterns=["**/sec0/**", "**/sec1/**"],
        exclude_patterns=["**/*.html?v=1", "**/extra"],
    )
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir)
    assert_parity(res, oracle_crawl(fetch, SEED, cfg))


def test_fetch_failures_are_visited_not_discovered(spark, pages3, web3, chk_dir):
    """Dangling links: visited, never matched (discovered.add sits inside
    ``if result.success``, crawler.py:204-207)."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=1, max_pages=50)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, use_bloom=False)
    oracle = oracle_crawl(fetch, SEED, cfg)
    assert_parity(res, oracle)
    missing = [u for u in oracle.visited if fetch(u) is None]
    assert missing, "scenario must include a dangling link"
    assert not set(missing) & set(oracle.discovered)


def test_multi_seed_union(spark, pages3, web3, chk_dir):
    """Union-distinct across seeds ≙ crawl_multiple (crawler.py:695-703)."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=1, max_pages=30)
    seeds = ["https://site0.example/", "https://site1.example/", "https://site2.example/"]
    got = [r["url"] for r in run_multi_seed(spark, pages3, seeds, cfg, chk_dir, use_bloom=False).collect()]
    assert got == oracle_multi_seed(fetch, seeds, cfg)


def test_resume_from_checkpoint(spark, pages3, web3, chk_dir):
    """Kill after round k, resume from snapshot → identical final state
    (north_star: 'the crawl resumes exactly from any round')."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    partial = run_crawl(spark, pages3, SEED, cfg, chk_dir, max_rounds=2, extract=False,
                        use_bloom=False)
    assert partial.rounds == 2
    resumed = run_crawl(spark, pages3, SEED, cfg, chk_dir, resume=True, use_bloom=False)
    assert_parity(resumed, oracle_crawl(fetch, SEED, cfg))


def test_resume_replays_round_with_missing_manifest(spark, pages3, web3, chk_dir):
    """Crash in the deferred-commit overlap window: round k's data dirs are
    (partially) written but its manifest never landed. Resume must take the
    k-1 manifest, REPLAY round k (overwriting the orphan data), and converge
    to the oracle-exact final state."""
    import os
    import shutil

    from crawl4ai_scraper_spark.plans.checkpoint import round_dir

    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    partial = run_crawl(spark, pages3, SEED, cfg, chk_dir, max_rounds=2, extract=False,
                        use_bloom=False)
    assert partial.rounds == 2
    # simulate the crash window: round-2 data on disk, manifest gone
    os.remove(os.path.join(round_dir(chk_dir, 2), "manifest.json"))
    # and make its frontier dir a half-written orphan to prove overwrite
    fdir = os.path.join(round_dir(chk_dir, 2), "frontier")
    assert os.path.isdir(fdir)
    resumed = run_crawl(spark, pages3, SEED, cfg, chk_dir, resume=True, use_bloom=False)
    assert_parity(resumed, oracle_crawl(fetch, SEED, cfg))
    shutil.rmtree(chk_dir, ignore_errors=True)


def test_robots_rules_prune_before_enqueue(spark, pages3, web3, chk_dir):
    """Our politeness extension (north_rule): disallow prefixes keep URLs out
    of the frontier entirely; with empty rules behavior is reference-exact
    (covered by the other tests)."""
    from crawl4ai_scraper_spark.plans.politeness import HOST_RULES_SCHEMA

    rules = spark.createDataFrame(
        [("site0.example", 2.0, ["/sec1", "/about"])], HOST_RULES_SCHEMA
    )
    cfg = CrawlJobConfig(max_depth=2, max_pages=100)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, host_rules=rules,
                    extract=False, use_bloom=False)
    urls = [r["url"] for r in res.visited.select("url").collect()]
    crawled = [u for u in urls if u.startswith("https://site0.example/sec1")
               or u == "https://site0.example/about"]
    assert crawled == []  # disallowed subtree never crawled
    assert any(u.startswith("https://site0.example/sec0") for u in urls)
    # virtual-time schedule: per-host monotone, spaced by crawl_delay
    sched = [r["sched_ts"] for r in res.visited.orderBy("seq").select("sched_ts").collect()]
    assert all(s is not None for s in sched)


def test_lineage_records_per_partition_counts(spark, pages3, chk_dir):
    from crawl4ai_scraper_spark.plans.checkpoint import read_state

    cfg = CrawlJobConfig(max_depth=1, max_pages=20)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, extract=False, use_bloom=False)
    lineage = read_state(spark, chk_dir, "lineage", res.rounds)
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"frontier_in", "fetched", "frontier_out"} <= stages
    cols = set(lineage.columns)
    assert {"stage", "partition", "rows", "round"} <= cols


def test_dry_run_discovery_only(spark, pages3, web3, chk_dir):
    """Dry run ≙ crawl_with_discovery with config.dry_run (crawler.py:620-637):
    discovery runs, extraction is skipped, preview = first 10 paths."""
    from pyspark.sql import functions as F
    from crawl4ai_scraper_spark.functions.udfs import make_path_udf

    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=1, max_pages=15)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, extract=False, use_bloom=False)
    assert res.documents is None
    oracle = oracle_discover(fetch, SEED, cfg)
    preview_udf = make_path_udf("flat", "url_based", "2025-01-01T00:00:00")
    preview = [
        r["p"]
        for r in res.discovered.limit(10)
        .select(preview_udf(F.col("url"), F.lit("Preview")).alias("p"))
        .collect()
    ]
    assert len(preview) == min(10, len(oracle.discovered))
    assert all(p.endswith(".md") for p in preview)


def test_selector_template_crawl_parity(spark, pages3, web3, chk_dir):
    """Selector-based extraction (O-42..O-47) flows through the fused engine
    AND the oracle identically: template selectors extract first, markdown
    cleaning is the below-threshold fallback (content_filters.py:445-465)."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=2, max_pages=25, selector_template="blog",
                         min_content_length=40)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, use_bloom=False)
    assert_parity(res, oracle_crawl(fetch, SEED, cfg))


def test_explicit_css_selectors_crawl_parity(spark, pages3, web3, chk_dir):
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=2, max_pages=15, min_content_length=30,
                         content_css_selectors=["article.post-content"],
                         exclude_css_selectors=[".comments"])
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, use_bloom=False)
    assert_parity(res, oracle_crawl(fetch, SEED, cfg))


def test_priority_frontier_order(spark, pages3, web3, chk_dir):
    """frontier_order='priority' (our extension): each round's queue is
    ordered by the caller's priority column first, FIFO rank as tiebreak.
    The visited SET matches FIFO mode; the intra-round order follows the
    priority."""
    from pyspark.sql import functions as F

    cfg_fifo = CrawlJobConfig(max_depth=2, max_pages=1000)
    fifo = run_crawl(spark, pages3, SEED, cfg_fifo, chk_dir + "_fifo", extract=False,
                     use_bloom=False)
    cfg_pri = CrawlJobConfig(max_depth=2, max_pages=1000, frontier_order="priority")
    pri = run_crawl(spark, pages3, SEED, cfg_pri, chk_dir + "_pri", extract=False,
                    use_bloom=False, priority_col=lambda df: F.length(F.col("url")))
    fifo_urls = {r["url"] for r in fifo.visited.collect()}
    pri_urls = {r["url"] for r in pri.visited.collect()}
    assert fifo_urls == pri_urls  # same coverage, different order
    # within round 2 (depth 1), longer urls (higher priority value) come first
    rows = pri.visited.filter("depth = 1").orderBy("seq").select("url").collect()
    lengths = [len(r["url"]) for r in rows]
    assert lengths == sorted(lengths, reverse=True)


def test_virtual_schedule_two_phase_equals_naive(spark):
    """The skew-proof bucketed host rank must equal the naive window rank —
    checked with a tiny bucket size so multiple buckets per host occur."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.plans.politeness import virtual_schedule

    rng = random.Random(3)
    rows = [(f"u{i}", rng.choice(["a.example", "b.example", "hot.example",
                                  "hot.example", "hot.example"]), i + 1)
            for i in range(500)]
    visits = spark.createDataFrame(rows, "url string, host string, arrival_rank long")
    got = virtual_schedule(visits, None, 1.5, 10.0, bucket_size=16)
    naive_rank = F.row_number().over(Window.partitionBy("host").orderBy("arrival_rank"))
    want = visits.withColumn("sched_ts", F.lit(10.0) + (naive_rank - F.lit(1)) * F.lit(1.5))
    assert {(r["url"], r["sched_ts"]) for r in got.collect()} == \
           {(r["url"], r["sched_ts"]) for r in want.collect()}


def test_seed_not_in_pages_table(spark, pages3, chk_dir):
    """A dangling seed: round 1 is all fetch-misses → one failed visit, no
    links, no documents — and the crawl terminates cleanly."""
    cfg = CrawlJobConfig(max_depth=2, max_pages=10)
    res = run_crawl(spark, pages3, "https://nosuch.example/", cfg, chk_dir,
                    use_bloom=False)
    rows = res.visited.collect()
    assert len(rows) == 1 and not rows[0]["success"]
    assert res.discovered.count() == 0
    assert res.summary["successful"] == 0 and res.summary["rounds"] == 1


def test_resume_after_done_is_stable(spark, pages3, web3, chk_dir):
    """Resuming a finished crawl re-runs nothing and returns the same state."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=1, max_pages=50)
    first = run_crawl(spark, pages3, SEED, cfg, chk_dir)
    again = run_crawl(spark, pages3, SEED, cfg, chk_dir, resume=True)
    assert again.rounds == first.rounds
    assert [r["url"] for r in again.discovered.collect()] == \
           [r["url"] for r in first.discovered.collect()]
    assert_parity(again, oracle_crawl(fetch, SEED, cfg))


def test_bloom_prefilter_parity(spark, pages3, web3, chk_dir):
    """use_bloom=True (forced, below the auto threshold) must be output-
    identical to the bloom-less crawl — the bloom is a pre-filter only and
    the exact anti-join stays authoritative."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, use_bloom=True)
    assert_parity(res, oracle_crawl(fetch, SEED, cfg))


def test_sharded_bloom_prefilter_parity(spark, pages3, web3, chk_dir):
    """Same gate with the sharded (pmod-sliced) bloom build."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40, bloom_shards=4)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, use_bloom=True)
    assert_parity(res, oracle_crawl(fetch, SEED, cfg))


def test_sharded_bloom_no_false_negatives(spark):
    """Every added key must probe True in both the single and the sharded
    filter, and the sharded slices together must cover the key space."""
    import numpy as np

    from crawl4ai_scraper_spark.plans.bloom import (
        BloomFilter, build_bloom, build_sharded_bloom, might_contain_col,
    )
    from pyspark.sql import functions as F

    urls = spark.range(0, 5000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url")
    )
    single = build_bloom(urls, "url", capacity=10_000)
    sharded = build_sharded_bloom(urls, "url", capacity=10_000, n_shards=4)

    probed_single = urls.withColumn("hit", might_contain_col(urls, single, "url"))
    probed_sharded = urls.withColumn("hit", might_contain_col(urls, sharded, "url"))
    assert probed_single.filter(~F.col("hit")).count() == 0
    assert probed_sharded.filter(~F.col("hit")).count() == 0

    # state round-trip used by the broadcast probe
    rt = BloomFilter.from_state(sharded.state())
    hs = np.array([123456789, -987654321, 0], dtype=np.int64)
    assert (rt.probe_signed(hs) == sharded.probe_signed(hs)).all()


def test_incremental_bloom_add_equals_full_build(spark):
    """add_to_bloom over a delta must yield BIT-IDENTICAL filters to a full
    rebuild with the same geometry — the invariant behind the driver's
    incremental seen-filter maintenance (O(new)/round, not O(total))."""
    import numpy as np
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.plans.bloom import (
        add_to_bloom, build_bloom, build_sharded_bloom,
    )

    urls = spark.range(0, 6000).select(
        "id",
        F.concat(F.lit("https://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url"),
    )
    first, rest = urls.filter("id < 4000"), urls.filter("id >= 4000")

    full = build_bloom(urls, "url", capacity=20_000)
    inc = build_bloom(first, "url", capacity=20_000)
    add_to_bloom(inc, rest, "url")
    assert np.array_equal(inc.bits, full.bits)

    full_s = build_sharded_bloom(urls, "url", capacity=20_000, n_shards=4)
    inc_s = build_sharded_bloom(first, "url", capacity=20_000, n_shards=4)
    add_to_bloom(inc_s, rest, "url")
    for a, b in zip(inc_s.shards, full_s.shards):
        assert np.array_equal(a.bits, b.bits)


def test_cuckoo_filter_unit():
    """No false negatives, bounded fpp, state round-trip, deletion — the
    north_rule's cuckoo alternative, pure-numpy path."""
    import numpy as np

    from crawl4ai_scraper_spark.plans.bloom import BloomFilter, CuckooFilter

    rng = np.random.default_rng(7)
    keys = np.unique(rng.integers(-2**63, 2**63 - 1, size=20_000, dtype=np.int64))
    cf = CuckooFilter.sized(len(keys), load=0.9)
    cf.add_many(keys.view(np.uint64))
    assert cf.probe_signed(keys).all()  # no false negatives, ever

    other = np.setdiff1d(
        rng.integers(-2**63, 2**63 - 1, size=50_000, dtype=np.int64), keys
    )
    assert cf.probe_signed(other).mean() < 0.005  # 16-bit fp → ~1.2e-4 expected

    clone = BloomFilter.from_state(cf.state())  # the broadcast probe path
    assert clone.probe_signed(keys).all()

    victims, kept = keys[:500], keys[500:]
    assert cf.delete_many(victims) == 500
    assert cf.probe_signed(kept).all()  # deletion never false-negativizes others
    assert cf.probe_signed(victims).mean() < 0.05  # residual hits = fp collisions


def test_cuckoo_kick_and_stash_under_pressure():
    """At ~0.98 load the bulk placement overflows into the kick loop (and
    possibly the stash); membership must still be exact for added keys."""
    import numpy as np

    from crawl4ai_scraper_spark.plans.bloom import CuckooFilter

    cf = CuckooFilter(n_buckets=64)  # 256 slots
    rng = np.random.default_rng(11)
    keys = np.unique(rng.integers(-2**63, 2**63 - 1, size=250, dtype=np.int64))
    cf.add_many(keys.view(np.uint64))
    assert cf.probe_signed(keys).all()


def test_sharded_cuckoo_build_no_false_negatives(spark):
    """Distributed pmod-sharded cuckoo build + broadcast probe column."""
    import numpy as np
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.plans.bloom import (
        BloomFilter, build_sharded_cuckoo, might_contain_col,
    )

    urls = spark.range(0, 5000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url")
    )
    cuckoo = build_sharded_cuckoo(urls, "url", capacity=10_000, n_shards=4)
    probed = urls.withColumn("hit", might_contain_col(urls, cuckoo, "url"))
    assert probed.filter(~F.col("hit")).count() == 0

    rt = BloomFilter.from_state(cuckoo.state())
    hs = np.array([123456789, -987654321, 0], dtype=np.int64)
    assert (rt.probe_signed(hs) == cuckoo.probe_signed(hs)).all()


def test_cuckoo_prefilter_parity(spark, pages3, web3, chk_dir):
    """seen_filter="cuckoo" (forced build) must be output-identical to the
    filter-less crawl — like the bloom, it is a pre-filter only and the
    exact anti-join stays authoritative."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40, seen_filter="cuckoo",
                         bloom_shards=4)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, use_bloom=True)
    assert_parity(res, oracle_crawl(fetch, SEED, cfg))


def test_old_format_checkpoint_refuses_resume(spark, pages3, web3, chk_dir):
    """A checkpoint written by an incompatible layout must fail resume with a
    clear error, not an AnalysisException mid-plan."""
    import glob
    import json as j

    cfg = CrawlJobConfig(max_depth=2, max_pages=20)
    run_crawl(spark, pages3, SEED, cfg, chk_dir, max_rounds=1, extract=False,
              use_bloom=False)
    mpath = sorted(glob.glob(os.path.join(chk_dir, "round=*", "manifest.json")))[-1]
    m = j.load(open(mpath))
    m["format"] = 1  # legacy layout marker
    j.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="layout format"):
        run_crawl(spark, pages3, SEED, cfg, chk_dir, resume=True, use_bloom=False)


def test_hygiene_enabled_noop_parity(spark, pages3, web3, chk_dir):
    """hygiene_enabled=True with default limits must not perturb parity on a
    trap-free corpus (the screens only remove trap-shaped URLs)."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=2, max_pages=40, hygiene_enabled=True)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir)
    assert_parity(res, oracle_crawl(fetch, SEED, cfg))


def test_host_cap_bounds_round_enqueues(spark, pages3, web3, chk_dir):
    """max_new_urls_per_host_round caps every committed round's frontier at
    N per host, keeps first-appearance order (the kept set is a prefix of
    the uncapped per-host order), and the crawl still completes."""
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.plans.checkpoint import latest_round, read_frontier

    cap = 4
    cfg = CrawlJobConfig(max_depth=3, max_pages=100,
                         max_new_urls_per_host_round=cap)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir)
    assert res.visited.count() > 0
    last = latest_round(chk_dir)
    assert last >= 1
    for rnd in range(1, last + 1):
        fr = read_frontier(spark, chk_dir, rnd)
        per_host = fr.groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()
        assert all(r["n"] <= cap for r in per_host), f"round {rnd} exceeds cap"

    # prefix property vs the uncapped crawl at round 1 (children of the seed)
    chk2 = chk_dir + "_uncapped"
    cfg2 = CrawlJobConfig(max_depth=3, max_pages=100)
    run_crawl(spark, pages3, SEED, cfg2, chk2)
    capped = read_frontier(spark, chk_dir, 1).orderBy("arrival_rank")
    uncapped = read_frontier(spark, chk2, 1).orderBy("arrival_rank")
    for host in {r["host"] for r in capped.select("host").distinct().collect()}:
        c = [r["url"] for r in capped.filter(F.col("host") == host).collect()]
        u = [r["url"] for r in uncapped.filter(F.col("host") == host).collect()]
        assert c == u[: len(c)], f"host {host}: capped set is not an order-prefix"


def test_hygiene_blocks_planted_traps(spark, chk_dir):
    """A hand-built corpus with real trap links (path loop, asset, query
    explosion): hygiene off → the crawl walks into the trap chain; hygiene
    on → only the clean pages are ever enqueued or visited."""
    import datetime as dt

    from crawl4ai_scraper_spark.sources.pages import with_pbucket

    host = "trap.example"

    def page(path, links):
        body = "".join(f'<a href="{l}">l</a>' for l in links)
        html = (f"<html><head><title>p</title></head><body>"
                f"<p>Intro text for {path} page here.</p>{body}</body></html>")
        return (f"https://{host}{path}", dt.datetime(2025, 1, 1),
                html.encode(), "t", "en")

    trap = "/a/b/a/b/a/b/a"  # repeated-segment loop shape
    rows = [
        page("/", ["/good", trap, "/logo.png",
                   "/q?" + "&".join(f"k{i}=1" for i in range(12))]),
        page("/good", ["/good2"]),
        page("/good2", []),
        page(trap, [trap + "/a/b"]),  # the trap keeps minting deeper URLs
        page(trap + "/a/b", []),
    ]
    pages = with_pbucket(
        spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        ),
        8,
    )
    seed = f"https://{host}/"

    off = run_crawl(spark, pages, seed, CrawlJobConfig(max_depth=3, max_pages=50),
                    chk_dir + "_off", n_buckets=8, extract=False)
    visited_off = {r["url"] for r in off.visited.select("url").collect()}
    assert any("/a/b/a/b" in u for u in visited_off), "trap not walked when unguarded"

    on = run_crawl(spark, pages, seed,
                   CrawlJobConfig(max_depth=3, max_pages=50, hygiene_enabled=True),
                   chk_dir + "_on", n_buckets=8, extract=False)
    visited_on = {r["url"] for r in on.visited.select("url").collect()}
    assert visited_on == {seed, f"https://{host}/good", f"https://{host}/good2"}


def test_priority_dataframe_source_equals_callable(spark, pages3, web3, chk_dir):
    """A (url, priority) DataFrame signal must order the frontier exactly
    like the equivalent callable column (unlisted urls default to 0)."""
    from pyspark.sql import functions as F

    cfg = CrawlJobConfig(max_depth=2, max_pages=1000, frontier_order="priority")
    stored = [r["url"] for r in pages3.select("url").collect()]
    by_callable = run_crawl(
        spark, pages3, SEED, cfg, chk_dir + "_cb", extract=False, use_bloom=False,
        # urls outside the signal table score 0 in the DataFrame mode —
        # mirror that here (dead links are in the frontier but not in pages)
        priority_col=lambda df: F.when(
            F.col("url").isin(stored), F.length(F.col("url"))
        ).otherwise(0).cast("double"),
    )
    signal = (
        pages3.select("url", F.length("url").cast("double").alias("priority"))
        .persist()
    )
    by_frame = run_crawl(
        spark, pages3, SEED, cfg, chk_dir + "_df", extract=False, use_bloom=False,
        priority_col=signal,
    )
    cb = [r["url"] for r in by_callable.visited.orderBy("seq").collect()]
    fr = [r["url"] for r in by_frame.visited.orderBy("seq").collect()]
    signal.unpersist()
    assert cb == fr


def test_recrawl_priority_pipeline(spark, pages3, web3, chk_dir):
    """Incremental-recrawl composition: two observation snapshots →
    recrawl_priorities (changes_per_day) → prioritized recrawl. Pages whose
    content changed between the snapshots are visited before unchanged pages
    within each BFS round."""
    import datetime as dt

    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.operators.temporal import recrawl_priorities

    changed_pred = F.crc32(F.col("url")) % 2 == 0
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    obs1 = pages3.select("url", F.lit(t1).alias("ts"), F.col("html").cast("string").alias("body"))
    obs2 = pages3.select(
        "url", F.lit(t2).alias("ts"),
        F.when(changed_pred, F.concat(F.col("html").cast("string"), F.lit("<!-- v2 -->")))
        .otherwise(F.col("html").cast("string")).alias("body"),
    )
    history = obs1.unionByName(obs2)
    prio = recrawl_priorities(history, "url", "ts", "body").persist()

    cfg = CrawlJobConfig(max_depth=2, max_pages=1000, frontier_order="priority")
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, extract=False, use_bloom=False,
                    priority_col=prio)
    changed = {r["url"] for r in pages3.filter(changed_pred).select("url").collect()}
    rows = res.visited.filter("depth = 1").orderBy("seq").select("url").collect()
    flags = [r["url"] in changed for r in rows]
    prio.unpersist()
    # all changed-page visits precede every unchanged-page visit in the round
    assert flags == sorted(flags, reverse=True), flags


def test_wildcard_robots_crawl_prunes_query_urls(spark, pages3, web3, chk_dir):
    """RFC 9309 wildcard rule through the real engine: ``Disallow: /*?``
    prunes every query-string URL from the frontier while plain pages crawl
    normally (rules parsed from a stored robots body, rx longest-match)."""
    from crawl4ai_scraper_spark.plans.politeness import rules_from_robots

    _, corpus, _ = web3
    robots = spark.createDataFrame(
        [("https://site0.example/robots.txt",
          bytearray(b"User-agent: *\nDisallow: /*?\n"))],
        "url string, html binary",
    )
    rules = rules_from_robots(robots)
    cfg = CrawlJobConfig(max_depth=2, max_pages=1000)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, host_rules=rules,
                    extract=False, use_bloom=False)
    visited = {r["url"] for r in res.visited.collect()}
    assert SEED in visited and len(visited) > 10
    assert not {u for u in visited if "?" in u}
    assert any("?" in u for u in corpus)  # the corpus does contain query urls


def test_compact_checkpoint_then_resume(spark, pages3, web3, chk_dir):
    """Frontier-snapshot compaction: fold rounds 0..k into the base table
    mid-crawl, resume, and the final state is still oracle-exact; edges and
    enqueued views are unchanged by compaction."""
    import os

    from crawl4ai_scraper_spark.plans.checkpoint import (
        compact_checkpoint,
        compacted_upto,
        latest_round,
        read_edges,
        read_enqueued,
    )

    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    run_crawl(spark, pages3, SEED, cfg, chk_dir, max_rounds=2, extract=False,
              use_bloom=False)
    last = latest_round(chk_dir)
    before_edges = sorted(
        (r.parent_url, r.child_url) for r in read_edges(spark, chk_dir, last).collect())
    before_enq = {r.url for r in read_enqueued(spark, chk_dir, last).collect()}
    assert SEED in before_enq  # the driver-written round-0 frontier is folded too

    assert compact_checkpoint(spark, chk_dir) == last
    assert compacted_upto(chk_dir) == last
    # per-round frontier dirs folded away; views identical
    for r in range(last + 1):
        assert not os.path.isdir(os.path.join(chk_dir, f"round={r:04d}", "frontier"))
    after_edges = sorted(
        (r.parent_url, r.child_url) for r in read_edges(spark, chk_dir, last).collect())
    assert after_edges == before_edges
    assert {r.url for r in read_enqueued(spark, chk_dir, last).collect()} == before_enq

    # resume from the compacted checkpoint → oracle-exact final state
    resumed = run_crawl(spark, pages3, SEED, cfg, chk_dir, resume=True, use_bloom=False)
    assert_parity(resumed, oracle_crawl(fetch, SEED, cfg))

    # re-compaction after the crawl finished folds the newer rounds too,
    # and the resumed run's full edge view survives it intact
    final = latest_round(chk_dir)
    pre = sorted((r.parent_url, r.child_url)
                 for r in read_edges(spark, chk_dir, final).collect())
    assert compact_checkpoint(spark, chk_dir) == final
    assert compacted_upto(chk_dir) == final
    post = sorted((r.parent_url, r.child_url)
                  for r in read_edges(spark, chk_dir, final).collect())
    assert post == pre and len(pre) > len(before_edges)


def test_hostile_href_does_not_crash_crawl(spark, chk_dir):
    """One page carrying an unparseable href (http://[ raises 'Invalid IPv6
    URL' from urlparse) must not poison the Arrow extraction batch: the bad
    link is dropped everywhere, the crawl completes, and Spark stays
    oracle-exact."""
    from crawl4ai_scraper_spark.sources.pages import with_pbucket

    host = "h.example"
    pages_raw = {
        f"https://{host}/": '<p><a href="http://[">bad ipv6</a>'
                            '<a href="/a">a</a><a href="https://[::1">b</a></p>',
        f"https://{host}/a": '<p>leaf <a href="/b">b</a></p>',
        f"https://{host}/b": "<p>done</p>",
    }
    rows = [(u, bytearray(h.encode())) for u, h in pages_raw.items()]
    pages = with_pbucket(spark.createDataFrame(rows, "url string, html binary"), 32)
    cfg = CrawlJobConfig(max_depth=3, max_pages=10)
    res = run_crawl(spark, pages, f"https://{host}/", cfg, chk_dir, use_bloom=False)
    fetch = lambda u: pages_raw[u].encode() if u in pages_raw else None
    assert_parity(res, oracle_crawl(fetch, f"https://{host}/", cfg))
    visited = {r["url"] for r in res.visited.collect()}
    assert visited == set(pages_raw)  # bad hrefs dropped, good links crawled


def test_host_keyed_priority_signal(spark, pages3, web3, chk_dir):
    """A (host, priority) signal frame — the textops.host_reputation shape —
    is broadcast-joined on the frontier's host key and orders the crawl
    exactly like the equivalent per-row callable; within a round, hosts are
    visited in descending signal order."""
    from pyspark.sql import functions as F

    cfg = CrawlJobConfig(max_depth=2, max_pages=5000, frontier_order="priority",
                         include_external=True)
    score = {"site0.example": 1.0, "site1.example": 5.0, "site2.example": 3.0}
    signal = spark.createDataFrame(
        sorted(score.items()), "host string, priority double"
    )
    by_frame = run_crawl(spark, pages3, SEED, cfg, chk_dir + "_h", extract=False,
                         use_bloom=False, priority_col=signal)

    def callable_prio(df):
        expr = F.lit(None).cast("double")
        for h, s in score.items():
            expr = F.when(F.col("host") == h, F.lit(s)).otherwise(expr)
        return F.coalesce(expr, F.lit(0.0))

    by_callable = run_crawl(spark, pages3, SEED, cfg, chk_dir + "_cb",
                            extract=False, use_bloom=False,
                            priority_col=callable_prio)
    fr = [r["url"] for r in by_frame.visited.orderBy("seq").collect()]
    cb = [r["url"] for r in by_callable.visited.orderBy("seq").collect()]
    assert fr == cb
    # depth-1 visits appear in descending host-signal order
    hosts = [r["host"] for r in
             by_frame.visited.filter("depth = 1").orderBy("seq").collect()]
    keys = [-score.get(h, 0.0) for h in hosts]
    assert keys == sorted(keys), hosts


def test_blocked_hosts_prune_crawl(spark, pages3, web3, chk_dir):
    """run_crawl(blocked_hosts=...): candidate links into a block-listed host
    never enter the frontier. The engine follows internal links only (the
    reference iterates links['internal']), so the strongest in-crawl probe is
    blocking the seed's OWN host: children are screened, the seed itself is
    not → exactly one visit. And with no spam terms in the corpus a
    spam-threshold-only screen leaves the crawl IDENTICAL to the unscreened
    run (parity preserved)."""
    cfg = CrawlJobConfig(max_depth=2, max_pages=5000)
    plain = run_crawl(spark, pages3, SEED, cfg, chk_dir + "_pl",
                      extract=False, use_bloom=False)
    n_plain = plain.visited.count()
    assert n_plain > 1

    blocked = spark.createDataFrame([("site0.example",)], "host string")
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir + "_bl", extract=False,
                    use_bloom=False, blocked_hosts=blocked)
    rows = res.visited.collect()
    assert [r["url"] for r in rows] == [SEED]  # children screened, seed kept

    cfg_spam = CrawlJobConfig(max_depth=2, max_pages=5000, url_spam_threshold=0.9)
    screened = run_crawl(spark, pages3, SEED, cfg_spam, chk_dir + "_sp",
                         extract=False, use_bloom=False)
    a = [r["url"] for r in screened.visited.orderBy("seq").collect()]
    b = [r["url"] for r in plain.visited.orderBy("seq").collect()]
    assert a == b


def test_fresh_crawl_into_compacted_dir_resets_state(spark, pages3, web3, chk_dir):
    """A fresh (resume=False) crawl into a dir holding a previous crawl's
    COMPACTED checkpoint must not read the stale base: without the bootstrap
    reset, compaction.json shadows the new crawl's per-round frontier dirs
    and the URL-seen anti-join dedups against the OLD crawl's enqueued set."""
    from crawl4ai_scraper_spark.plans.checkpoint import compact_checkpoint, compacted_upto

    _, _, fetch = web3
    # crawl A: deeper/wider — leaves a compacted base + marker behind
    cfg_a = CrawlJobConfig(max_depth=3, max_pages=200)
    run_crawl(spark, pages3, SEED, cfg_a, chk_dir, extract=False, use_bloom=False)
    assert compact_checkpoint(spark, chk_dir) is not None
    assert compacted_upto(chk_dir) is not None

    # crawl B: fresh run, different budget, SAME dir — must be oracle-exact
    cfg_b = CrawlJobConfig(max_depth=2, max_pages=25)
    res = run_crawl(spark, pages3, SEED, cfg_b, chk_dir, resume=False,
                    extract=False, use_bloom=False)
    assert compacted_upto(chk_dir) is None  # stale marker cleared at bootstrap
    assert_parity(res, oracle_crawl(fetch, SEED, cfg_b), check_text=False)


def test_checkpoint_bookkeeping_runs_no_spark_job(spark, chk_dir):
    """The round-0 commit and building every checkpoint read frame start no
    Spark job: round 0 is written on the driver, and the readers declare
    their schemas instead of inferring them from a footer."""
    from crawl4ai_scraper_spark.plans.checkpoint import (
        commit_round,
        read_edges,
        read_enqueued,
        read_frontier,
        read_state,
    )

    sc = spark.sparkContext
    group = "checkpoint-bookkeeping"
    sc.setJobGroup(group, group)
    try:
        commit_round(chk_dir, SEED, "site0.example", {"fused": True})
        frontier = read_frontier(spark, chk_dir, 0)
        enqueued = read_enqueued(spark, chk_dir, 0)
        edges = read_edges(spark, chk_dir, 0)
        visited = read_state(spark, chk_dir, "visited", 0)
        lineage = read_state(spark, chk_dir, "lineage", 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    assert [tuple(r) for r in frontier.collect()] == [(SEED, "site0.example", 0, 1)]
    assert [r.url for r in enqueued.collect()] == [SEED]
    assert edges.count() == 0 and visited.count() == 0 and lineage.count() == 0
    assert "markdown" in visited.columns  # fused visited schema from the manifest


def _fields(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_mixed_checkpoint_schemas_equal_declared(spark, pages3, chk_dir):
    """On a checkpoint with a pyarrow round 0 and Spark-written rounds, the
    schema Spark infers from the files equals the declared one for every
    table, and building the read frames over all rounds starts no job."""
    import glob

    from crawl4ai_scraper_spark.plans.checkpoint import (
        FRONTIER_FILE_SCHEMA,
        FUSED_VISITED_SCHEMA,
        LINEAGE_SCHEMA,
        _with_round,
        read_edges,
        read_enqueued,
        read_frontier,
        read_state,
        round_dir,
    )

    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, max_rounds=2, use_bloom=False)
    last = res.rounds
    assert last == 2

    frontier_dirs = [os.path.join(round_dir(chk_dir, r), "frontier") for r in range(last + 1)]
    # the driver-written round 0 alone, then mixed with the Spark rounds
    assert _fields(spark.read.parquet(frontier_dirs[0]).schema) == \
        _fields(_with_round(FRONTIER_FILE_SCHEMA))
    assert _fields(spark.read.parquet(*frontier_dirs).schema) == \
        _fields(_with_round(FRONTIER_FILE_SCHEMA))
    state = os.path.join(chk_dir, "state")
    assert _fields(spark.read.parquet(os.path.join(state, "visited")).schema) == \
        _fields(_with_round(FUSED_VISITED_SCHEMA))
    assert _fields(spark.read.parquet(os.path.join(state, "lineage")).schema) == \
        _fields(_with_round(LINEAGE_SCHEMA))
    # the round-0 commit writes no delta files
    assert not glob.glob(os.path.join(state, "*", "round=0"))

    sc = spark.sparkContext
    group = "checkpoint-reads"
    sc.setJobGroup(group, group)
    try:
        frames = {
            "frontier": read_frontier(spark, chk_dir, last),
            "enqueued": read_enqueued(spark, chk_dir, last),
            "edges": read_edges(spark, chk_dir, last),
            "visited": read_state(spark, chk_dir, "visited", last),
            "lineage": read_state(spark, chk_dir, "lineage", last),
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _fields(frames["visited"].schema) == _fields(_with_round(FUSED_VISITED_SCHEMA))
    assert _fields(frames["lineage"].schema) == _fields(_with_round(LINEAGE_SCHEMA))
    assert frames["enqueued"].count() == frames["edges"].count() + 1  # + the seed


def _bootstrap_only_resume(spark, pages3, web3, chk_dir, extract):
    """A crawl stopped right after the round-0 commit (max_rounds=0) leaves
    a checkpoint with only the driver-written seed frontier; resuming it
    reaches the oracle-exact final state."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=2, max_pages=30)
    boot = run_crawl(spark, pages3, SEED, cfg, chk_dir, max_rounds=0, extract=extract,
                     use_bloom=False)
    assert boot.rounds == 0 and boot.visited.count() == 0
    resumed = run_crawl(spark, pages3, SEED, cfg, chk_dir, resume=True, extract=extract,
                        use_bloom=False)
    assert resumed.rounds > 0
    assert_parity(resumed, oracle_crawl(fetch, SEED, cfg), check_text=extract)


def test_bootstrap_only_checkpoint_resumes_fused(spark, pages3, web3, chk_dir):
    _bootstrap_only_resume(spark, pages3, web3, chk_dir, extract=True)


def test_bootstrap_only_checkpoint_resumes_discovery(spark, pages3, web3, chk_dir):
    _bootstrap_only_resume(spark, pages3, web3, chk_dir, extract=False)
