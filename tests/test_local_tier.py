"""The driver-local round tier (plans/local.py) against the sequential oracle
and against the Spark tier: parity in every tier, resumes that cross tiers,
zero Spark jobs, the scope fallbacks, the driver-side bucket hash, the
crossover bound and the checkpoint bytes."""

import os
import shutil
from unittest import mock

import pytest

from crawl4ai_scraper_spark.config import CrawlJobConfig
from crawl4ai_scraper_spark.oracle import oracle_crawl, oracle_discover
from crawl4ai_scraper_spark.plans import driver
from crawl4ai_scraper_spark.plans.checkpoint import latest_round, load_manifest, round_dir
from crawl4ai_scraper_spark.sizing import LOCAL_ROUND_MAX

SEED = "https://site0.example/"
# driver.LOCAL_ROUND_MAX that forces each tier; "mixed" runs the 1- and
# 9-row rounds locally and the larger last round in Spark
TIERS = {"local": 10 ** 9, "spark": 0, "auto": LOCAL_ROUND_MAX, "mixed": 10}


def run_crawl(*args, tier="auto", **kwargs):
    with mock.patch.object(driver, "LOCAL_ROUND_MAX", TIERS[tier]):
        return driver.run_crawl(*args, **kwargs)


def tiers(chk_dir):
    return [load_manifest(chk_dir, r).get("tier", "spark")
            for r in range(1, latest_round(chk_dir) + 1)]


def assert_oracle_equal(res, oracle, extract):
    """Order, depths, seen set, discovered list and, with extraction, text
    per URL and the summary."""
    rows = res.visited.orderBy("seq").select("url", "depth").collect()
    assert [(r["url"], r["depth"]) for r in rows] == oracle.visit_order
    assert {r["url"] for r in rows} == oracle.visited
    assert [r["url"] for r in res.discovered.collect()] == oracle.discovered
    if extract:
        docs = {r["url"]: r["markdown"] for r in res.documents.collect()}
        assert docs == {r["url"]: r.get("markdown") for r in oracle.records}
        for key, val in oracle.summary.items():
            assert res.summary[key] == val, key


def oracle_for(fetch, seed, cfg, extract):
    return (oracle_crawl if extract else oracle_discover)(fetch, seed, cfg)


@pytest.mark.parametrize("extract", [True, False], ids=["fused", "discovery"])
@pytest.mark.parametrize("tier", list(TIERS))
def test_tier_parity_matrix(spark, pages3, web3, chk_dir, tier, extract):
    """Every tier is oracle-exact on a crawl with a mid-level budget cut in
    its last round and fetch failures, and on a seed with no page."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    oracle = oracle_for(fetch, SEED, cfg, extract)
    assert len(oracle.visited) > 40 and any(fetch(u) is None for u in oracle.visited)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, extract=extract, tier=tier)
    assert_oracle_equal(res, oracle, extract)
    ran = tiers(chk_dir)
    expected = {"local": ["local"] * 3, "spark": ["spark"] * 3, "auto": ["local"] * 3,
                "mixed": ["local", "local", "spark"]}[tier]
    assert ran == expected
    assert load_manifest(chk_dir, 3)["done"] is True

    missing = "https://nosuch.example/"
    res = run_crawl(spark, pages3, missing, cfg, chk_dir + "_m", extract=extract, tier=tier)
    assert_oracle_equal(res, oracle_for(fetch, missing, cfg, extract), extract)
    assert res.summary["rounds"] == 1


def _counts(chk_dir):
    return [load_manifest(chk_dir, r)["counts"] for r in range(1, latest_round(chk_dir) + 1)]


def test_tiers_commit_equal_rounds(spark, pages3, chk_dir):
    """A local round commits the counts, frontier rows and schedule a Spark
    round commits for the same round."""
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.plans.checkpoint import read_frontier, read_state

    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    chk_l, chk_s = chk_dir + "_l", chk_dir + "_s"
    run_crawl(spark, pages3, SEED, cfg, chk_l, tier="local")
    run_crawl(spark, pages3, SEED, cfg, chk_s, tier="spark")
    assert _counts(chk_l) == _counts(chk_s)
    last = latest_round(chk_s)
    for key in ("seq_base", "discovered", "total_content_length", "frontier_n", "enqueued_n",
                "round_vt", "done"):
        assert load_manifest(chk_l, last)[key] == load_manifest(chk_s, last)[key], key
    for rnd in range(1, last + 1):
        f_l, f_s = (sorted(tuple(r) for r in read_frontier(spark, c, rnd).collect())
                    for c in (chk_l, chk_s))
        assert f_l == f_s, rnd
    cols = ["url", "depth", "seq", "success", "matched", "sched_ts", "arrival_rank",
            "markdown", "rel_path", "round"]
    v_l, v_s = (sorted(tuple(r) for r in read_state(spark, c, "visited", last)
                       .select(*cols).orderBy(F.col("seq")).collect())
                for c in (chk_l, chk_s))
    assert v_l == v_s


@pytest.mark.parametrize("first,then", [("local", "spark"), ("spark", "local")])
def test_resume_crosses_tiers(spark, pages3, web3, chk_dir, first, then):
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    run_crawl(spark, pages3, SEED, cfg, chk_dir, max_rounds=2, tier=first)
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, resume=True, tier=then)
    assert_oracle_equal(res, oracle_crawl(fetch, SEED, cfg), True)
    assert tiers(chk_dir) == [first, first, then]


def test_local_resume_after_compaction(spark, pages3, web3, chk_dir):
    """The local tier reads the queue and the enqueued set of a compacted
    checkpoint from the consolidated base."""
    from crawl4ai_scraper_spark.plans.checkpoint import compact_checkpoint

    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    run_crawl(spark, pages3, SEED, cfg, chk_dir, max_rounds=2, tier="local")
    assert compact_checkpoint(spark, chk_dir) == 2
    assert not os.path.isdir(os.path.join(round_dir(chk_dir, 2), "frontier"))
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, resume=True, tier="local")
    assert_oracle_equal(res, oracle_crawl(fetch, SEED, cfg), True)
    assert tiers(chk_dir) == ["local"] * 3


def test_local_round_replayed_after_lost_manifest(spark, pages3, web3, chk_dir):
    """A local round whose files landed but whose manifest did not is
    replayed on resume: its dirs are replaced, never mixed with the files of
    the lost attempt."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    run_crawl(spark, pages3, SEED, cfg, chk_dir, max_rounds=2, tier="local")
    os.remove(os.path.join(round_dir(chk_dir, 2), "manifest.json"))
    # a stray file from the lost attempt would add rows if it survived
    visited2 = os.path.join(chk_dir, "state", "visited", "round=2")
    part = next(f for f in os.listdir(visited2) if f.endswith(".parquet"))
    shutil.copy(os.path.join(visited2, part), os.path.join(visited2, "part-stray.parquet"))
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, resume=True, tier="local")
    assert_oracle_equal(res, oracle_crawl(fetch, SEED, cfg), True)
    assert os.listdir(visited2) == [part]


def test_local_rounds_start_no_spark_job(spark, pages3, web3, chk_dir):
    """A discovery crawl whose rounds all run locally starts no Spark job,
    its tail (lazy read frames) included."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    sc = spark.sparkContext
    group = "local-tier"
    sc.setJobGroup(group, group)
    try:
        res = run_crawl(spark, pages3, SEED, cfg, chk_dir, extract=False, tier="local")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert tiers(chk_dir) == ["local"] * 3
    assert_oracle_equal(res, oracle_discover(fetch, SEED, cfg), False)


def test_fused_local_crawl_starts_no_spark_job(spark, pages3, web3, chk_dir):
    """With every round local, a fused crawl's summary comes from the last
    manifest's running totals: the crawl, its tail included, starts no job."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    sc = spark.sparkContext
    group = "local-tier-fused"
    sc.setJobGroup(group, group)
    try:
        res = run_crawl(spark, pages3, SEED, cfg, chk_dir, tier="local")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert_oracle_equal(res, oracle_crawl(fetch, SEED, cfg), True)
    assert load_manifest(chk_dir, 3)["total_content_length"] == \
        oracle_crawl(fetch, SEED, cfg).summary["total_content_length"]


@pytest.mark.parametrize("then", ["local", "spark"])
def test_resume_without_content_total_runs_summary_agg(spark, pages3, web3, chk_dir, then):
    """A fused checkpoint whose manifests predate ``total_content_length``
    resumes in either tier and gets its summary from the aggregate."""
    import json

    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    run_crawl(spark, pages3, SEED, cfg, chk_dir, max_rounds=2, tier="local")
    for rnd in range(3):
        path = os.path.join(round_dir(chk_dir, rnd), "manifest.json")
        manifest = json.load(open(path))
        del manifest["total_content_length"]
        json.dump(manifest, open(path, "w"))
    res = run_crawl(spark, pages3, SEED, cfg, chk_dir, resume=True, tier=then)
    assert_oracle_equal(res, oracle_crawl(fetch, SEED, cfg), True)
    assert load_manifest(chk_dir, 3)["total_content_length"] is None


def test_out_of_scope_crawls_pick_spark_tier(spark, pages3):
    """Each feature the local tier does not cover, and any pages frame that
    is not exactly the one ``read_pages`` returned, sends every round to the
    Spark tier."""
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.plans.local import local_scope
    from crawl4ai_scraper_spark.plans.politeness import empty_host_rules

    cfg = CrawlJobConfig()
    assert local_scope(pages3, cfg) is not None
    derived = [pages3.filter(F.col("url").isNotNull()), pages3.select("*"),
               spark.createDataFrame(pages3.limit(3).collect(), pages3.schema)]
    for frame in derived:
        assert local_scope(frame, cfg) is None
    hosts = spark.createDataFrame([("x.example",)], "host string")
    for kwargs in ({"host_rules": empty_host_rules(spark)}, {"blocked_hosts": hosts},
                   {"blocked_templates": hosts}, {"priority_col": lambda df: F.lit(0.0)},
                   {"use_bloom": True}):
        assert local_scope(pages3, cfg, **kwargs) is None, kwargs
    for field, value in (("hygiene_enabled", True), ("url_spam_threshold", 0.5),
                         ("trap_screen", True), ("max_new_urls_per_host_round", 3),
                         ("frontier_order", "priority")):
        assert local_scope(pages3, CrawlJobConfig(**{field: value})) is None, field


def test_derived_pages_frame_crawls_in_spark_tier(spark, pages3, web3, chk_dir):
    from pyspark.sql import functions as F

    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=1, max_pages=30)
    res = run_crawl(spark, pages3.filter(F.col("url").isNotNull()), SEED, cfg, chk_dir,
                    tier="local")
    assert tiers(chk_dir) == ["spark", "spark"]
    assert_oracle_equal(res, oracle_crawl(fetch, SEED, cfg), True)


@pytest.mark.parametrize("n", [32, 7])
def test_pbucket_matches_spark_xxhash64(spark, n):
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.sources.pages import pbucket_of

    urls = ["https://site0.example/", "https://ex.example/a", "https://例え.jp/パス?q=1",
            "https://münchen.example/straße/" + "ü" * 17, "https://x.example/" + "é" * 40,
            "http://h/😀", "", "https://a.example/" + "abcdefgh" * 9 + "xyz"]
    got = spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url", F.pmod(F.xxhash64("url"), F.lit(n)).alias("b")).collect()
    assert {r["url"]: r["b"] for r in got} == {u: pbucket_of(u, n) for u in urls}


def test_local_round_max_keeps_large_rounds_on_spark():
    """One measured bound for every core count: 10^5-row rounds run in Spark
    (32 cores included), and every round of the benchmark's crawls (at most
    1,279 frontier and 2,261 enqueued rows) runs locally."""
    assert 2_261 <= LOCAL_ROUND_MAX < 100_000


def _bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


@pytest.mark.parametrize("extract", [True, False], ids=["fused", "discovery"])
def test_local_checkpoint_no_larger_than_spark(spark, pages3, chk_dir, extract):
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    run_crawl(spark, pages3, SEED, cfg, chk_dir + "_l", extract=extract, tier="local")
    run_crawl(spark, pages3, SEED, cfg, chk_dir + "_s", extract=extract, tier="spark")
    assert _bytes(chk_dir + "_l") <= _bytes(chk_dir + "_s")


@pytest.mark.parametrize("first", ["fused", "discovery"])
def test_glob_characters_in_chk_dir(spark, pages3, web3, chk_dir, first):
    """``[`` / ``]`` in the checkpoint path are literal for the Spark readers,
    the footer scans and the documents read-back: a fresh crawl and its
    resume with extraction both complete. A discovery checkpoint resumed
    with ``extract=True`` extracts in ``extract_pass``, which writes the
    documents under the checkpoint and reads them back."""
    _, _, fetch = web3
    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    chk = os.path.join(chk_dir, f"x[{first}]")
    part = run_crawl(spark, pages3, SEED, cfg, chk, max_rounds=2, extract=first == "fused",
                     tier="spark")
    assert part.rounds == 2 and part.visited.count() == 9
    res = run_crawl(spark, pages3, SEED, cfg, chk, resume=True)
    assert_oracle_equal(res, oracle_crawl(fetch, SEED, cfg), True)
    assert tiers(chk) == ["spark", "spark", "local"]


def test_crawl_report_prints_round_tiers(spark, pages3, chk_dir, capsys):
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import crawl_report

    cfg = CrawlJobConfig(max_depth=3, max_pages=40)
    run_crawl(spark, pages3, SEED, cfg, chk_dir, extract=False, tier="mixed")
    # a manifest written before rounds recorded their tier reads as spark
    m3 = os.path.join(round_dir(chk_dir, 3), "manifest.json")
    manifest = json.load(open(m3))
    del manifest["tier"]
    json.dump(manifest, open(m3, "w"))
    assert crawl_report.main(["--checkpoint", chk_dir]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [(r["round"], r["tier"]) for r in out["rounds"]] == \
        [(1, "local"), (2, "local"), (3, "spark")]
    assert out["rounds"][0]["counts"] == load_manifest(chk_dir, 1)["counts"]
