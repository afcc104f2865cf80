"""The driver-local round's fan-out over ``kernel.pool`` workers: the pooled
round equals the in-process one, the workers never outlive their driver, a
script without a ``__main__`` guard crawls, a killed worker fails only its
round, and a 1-core driver starts no worker."""

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path
from unittest import mock

import pandas as pd
import pytest

from crawl4ai_scraper_spark.config import CrawlJobConfig
from crawl4ai_scraper_spark.kernel import pool
from crawl4ai_scraper_spark.oracle import oracle_crawl
from crawl4ai_scraper_spark.plans import driver, local
from crawl4ai_scraper_spark.kernel.urls import extract_domain
from crawl4ai_scraper_spark.plans.checkpoint import latest_round, load_manifest, round_dir
from crawl4ai_scraper_spark.sources.pages import DEFAULT_PBUCKETS

REPO = Path(__file__).resolve().parent.parent
PAGES = REPO / ".tmp" / "pytest" / "pages3"  # the ``pages3`` fixture's table

SEED = "https://site0.example/"
CFG = CrawlJobConfig(max_depth=3, max_pages=40)  # budget cut inside round 3


def local_crawl(*args, **kwargs):
    with mock.patch.object(driver, "LOCAL_ROUND_MAX", 10 ** 9):
        return driver.run_crawl(*args, **kwargs)


def assert_oracle_equal(res, oracle):
    rows = res.visited.orderBy("seq").select("url", "depth").collect()
    assert [(r["url"], r["depth"]) for r in rows] == oracle.visit_order
    assert [r["url"] for r in res.discovered.collect()] == oracle.discovered
    docs = {r["url"]: r["markdown"] for r in res.documents.collect()}
    assert docs == {r["url"]: r.get("markdown") for r in oracle.records}
    for key, val in oracle.summary.items():
        assert res.summary[key] == val, key


def worker_pids():
    return [proc.pid for proc in pool._POOL.workers]


def worker_alive(pid):
    """True while ``pid`` is a running (not zombie) kernel pool worker."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except FileNotFoundError:
        return False
    return b"crawl4ai_scraper_spark.kernel.pool" in cmd and state != "Z"


@pytest.mark.parametrize("extract", [True, False], ids=["fused", "discovery"])
def test_pooled_round_equals_in_process(spark, pages3, chk_dir, extract):
    """The last round (frontier > 8 rows, budget cut) through the pool and
    in one in-process call: equal frames, dtypes and index included."""
    local_crawl(spark, pages3, SEED, CFG, chk_dir, max_rounds=2, extract=extract)
    state = local.LocalState.load(chk_dir, 2)
    assert len(state.frontier) >= 2 * 4
    meta = load_manifest(chk_dir, 2)
    extraction = None
    if extract:
        extraction = {"cleaning": CFG.cleaning_kwargs(),
                      "naming": (CFG.organization_strategy, CFG.naming_convention,
                                 driver.RUN_TS_ISO),
                      "patterns": CFG.patterns, "exclude_patterns": CFG.exclude_patterns}
    args = (state, local_scope_root(pages3), CFG, extract_domain(SEED), meta["seq_base"],
            meta["discovered"], DEFAULT_PBUCKETS, extraction)
    with mock.patch.object(pool, "usable_cores", return_value=1), \
            mock.patch.object(pool, "map_expand", side_effect=AssertionError("pooled")):
        alone = local.expand_round(*args)
    with mock.patch.object(pool, "usable_cores", return_value=4), \
            mock.patch.object(pool, "map_expand", wraps=pool.map_expand) as fan_out:
        pooled = local.expand_round(*args)
    assert fan_out.call_count == 1 and len(worker_pids()) >= 3
    assert pooled.truncated and pooled.truncated == alone.truncated
    assert pooled.counts == alone.counts
    assert pooled.content_length == alone.content_length
    assert (pooled.content_length is None) == (not extract)
    pd.testing.assert_frame_equal(pooled.visits, alone.visits)
    pd.testing.assert_frame_equal(pooled.new_frontier, alone.new_frontier)


def local_scope_root(pages):
    root = local.local_scope(pages, CFG)
    assert root is not None
    return root


CHILD = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from crawl4ai_scraper_spark.config import CrawlJobConfig
from crawl4ai_scraper_spark.fixtures.webgen import WebSpec, iter_pages
from crawl4ai_scraper_spark.kernel import pool
from crawl4ai_scraper_spark.oracle import oracle_crawl
from crawl4ai_scraper_spark.plans import driver
from crawl4ai_scraper_spark.session import build_session
from crawl4ai_scraper_spark.sources.pages import read_pages

pool.usable_cores = lambda: 4  # fan out on any host
spark = build_session(app_name="pool-child", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
corpus = {{r["url"]: r for r in iter_pages(WebSpec(n_hosts=3))}}
cfg = CrawlJobConfig(max_depth=3, max_pages=40)
driver.LOCAL_ROUND_MAX = 10 ** 9
res = driver.run_crawl(spark, read_pages(spark, {pages!r}), {seed!r}, cfg, sys.argv[2])
oracle = oracle_crawl(lambda u: corpus[u]["html"] if u in corpus else None, {seed!r}, cfg)
order = [(r["url"], r["depth"]) for r in res.visited.orderBy("seq").collect()]
docs = {{r["url"]: r["markdown"] for r in res.documents.collect()}}
ok = (order == oracle.visit_order and docs == {{r["url"]: r.get("markdown") for r in oracle.records}}
      and all(res.summary[k] == v for k, v in oracle.summary.items()))
print(json.dumps({{"ok": ok, "pids": [p.pid for p in pool._POOL.workers]}}), flush=True)
if sys.argv[1] == "hang":
    time.sleep(600)
"""


def _child(tmp_path, mode, pages3):
    script = tmp_path / "crawl_child.py"
    script.write_text(CHILD.format(repo=str(REPO), pages=str(PAGES), seed=SEED))
    log = tmp_path / "child.log"
    with open(log, "w") as err:
        proc = subprocess.Popen([sys.executable, str(script), mode, str(tmp_path / "chk")],
                                stdout=subprocess.PIPE, stderr=err, text=True)
    line = proc.stdout.readline()
    assert line, log.read_text()[-3000:]
    return proc, json.loads(line)


def test_unguarded_script_crawls_and_leaves_no_worker(tmp_path, pages3):
    """A script with no ``__main__`` guard crawls oracle-equal through the
    pool; its workers are gone when it exits."""
    proc, out = _child(tmp_path, "exit", pages3)
    assert proc.wait(timeout=120) == 0
    assert out["ok"] is True and len(out["pids"]) == 3
    assert not any(worker_alive(p) for p in out["pids"])


def test_workers_exit_when_driver_is_killed(tmp_path, pages3):
    proc, out = _child(tmp_path, "hang", pages3)
    try:
        assert out["ok"] is True and len(out["pids"]) == 3
        assert all(worker_alive(p) for p in out["pids"])
    finally:
        os.kill(proc.pid, signal.SIGKILL)  # only the test's own child
        proc.wait()
    deadline = time.monotonic() + 5
    while any(worker_alive(p) for p in out["pids"]) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not any(worker_alive(p) for p in out["pids"])


def test_killed_worker_fails_round_and_resume_recovers(spark, pages3, web3, chk_dir):
    """A worker killed inside a fan-out round: that round raises and writes
    no manifest, the pool is closed, and a resume is oracle-equal."""
    _, _, fetch = web3
    real_send = pool._send
    killed = []

    def kill_then_send(fh, obj):
        if not killed:  # the first worker of the first fan-out round dies
            victim = next(p for p in pool._POOL.workers if p.stdin is fh)
            victim.kill()
            victim.wait()
            killed.append(victim.pid)
        return real_send(fh, obj)

    with mock.patch.object(pool, "usable_cores", return_value=4), \
            mock.patch.object(pool, "_send", side_effect=kill_then_send):
        with pytest.raises(OSError):
            local_crawl(spark, pages3, SEED, CFG, chk_dir)
    assert killed and worker_pids() == []
    failed = latest_round(chk_dir) + 1
    assert failed == 2  # round 1 (one row) ran in process; round 2 fanned out
    assert not os.path.exists(os.path.join(round_dir(chk_dir, failed), "manifest.json"))
    with mock.patch.object(pool, "usable_cores", return_value=4):
        res = local_crawl(spark, pages3, SEED, CFG, chk_dir, resume=True)
    assert_oracle_equal(res, oracle_crawl(fetch, SEED, CFG))
    assert len(worker_pids()) == 3


def test_worker_kernel_error_raises_and_closes_pool():
    row = ("https://site0.example/", "site0.example", 0, 1, b"<a href='/x'>x</a>")
    bad = ("https://site0.example/y", "site0.example", "not a depth", 2, b"")
    with pytest.raises(RuntimeError, match="ValueError"):
        pool.map_expand(3, None, [[row], [row], [bad]])
    assert worker_pids() == []
    out = pool.map_expand(3, None, [[row], [row]])
    assert [r["child_url"] for r in out] == [[None, "https://site0.example/x"]] * 2


def test_one_core_driver_starts_no_worker(spark, pages3, web3, chk_dir):
    _, _, fetch = web3
    pool.close()
    with mock.patch("os.sched_getaffinity", return_value={0}, create=True):
        res = local_crawl(spark, pages3, SEED, CFG, chk_dir)
    assert worker_pids() == []
    assert_oracle_equal(res, oracle_crawl(fetch, SEED, CFG))


def test_local_round_without_affinity_call(monkeypatch, spark, pages3, web3, chk_dir):
    """Where ``os`` has no ``sched_getaffinity`` (macOS, Windows) the core
    count is ``os.cpu_count`` and the crawl still fans out."""
    _, _, fetch = web3
    pool.close()
    monkeypatch.delattr(os, "sched_getaffinity")
    monkeypatch.setattr(os, "cpu_count", lambda: 4)
    monkeypatch.setattr(pool, "_cpu_quota", lambda: None)
    assert pool.usable_cores() == 4
    res = local_crawl(spark, pages3, SEED, CFG, chk_dir)
    assert len(worker_pids()) == 3
    assert_oracle_equal(res, oracle_crawl(fetch, SEED, CFG))


@pytest.mark.parametrize("v2", [True, False], ids=["cgroup2", "cgroup1"])
def test_usable_cores_bounded_by_cgroup_quota(tmp_path, monkeypatch, v2):
    """A cgroup CPU quota (rounded up to whole cores) bounds the affinity;
    an unlimited quota, or none that can be read, leaves it alone."""
    proc_cgroup = tmp_path / "cgroup"
    fs = tmp_path / "fs"
    own = fs / ("" if v2 else "cpu,cpuacct") / "jobs" / "crawl"
    own.mkdir(parents=True)
    proc_cgroup.write_text("0::/jobs/crawl\n" if v2 else "4:memory:/jobs\n2:cpu,cpuacct:/jobs/crawl\n")
    monkeypatch.setattr(pool, "_PROC_CGROUP", str(proc_cgroup))
    monkeypatch.setattr(pool, "_CGROUP_FS", str(fs))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(8)), raising=False)

    def set_quota(quota, period="100000"):
        if v2:
            (own / "cpu.max").write_text(f"{quota} {period}\n")
        else:
            (own / "cpu.cfs_quota_us").write_text(f"{quota}\n")
            (own / "cpu.cfs_period_us").write_text(f"{period}\n")

    assert pool.usable_cores() == 8  # no quota file
    set_quota("max" if v2 else "-1")
    assert pool.usable_cores() == 8
    set_quota("250000")
    assert pool.usable_cores() == 3
    set_quota("50000")
    assert pool.usable_cores() == 1
    monkeypatch.setattr(pool, "_PROC_CGROUP", str(tmp_path / "absent"))
    assert pool.usable_cores() == 8
