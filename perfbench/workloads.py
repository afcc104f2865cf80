"""Workload inputs, oracle goldens, crawl jobs and the output check.

Every workload reads one synthetic hot-host corpus of ``fixtures.webgen``
pages with the run's ``--seed`` as ``WebSpec.seed``, in the table layout of
``sources.pages.synthesize_pages``. The corpus and the goldens are input
preparation: they are built once per seed, cached under ``perfbench/.cache``
and never timed.

Goldens come from ``oracle.simulator`` over a ``fixtures.webgen`` fetch, never
from the engine: crawl order, seen set, sorted discovered list, a SHA-256 per
extracted text, and the run summary.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import random
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Dict, List, Optional

# Corpus shape. Host 0 is the hot host (every section has MAX_PAGES pages);
# host 1 is the target of the pages' external "mirror" links.
N_HOSTS, MAX_SECS, MAX_PAGES = 2, 16, 60
CORPUS_VERSION = 2
ROOT = "https://site0.example/"
NO_BUDGET = 10 ** 9
DISCOVERY_STOP_ROUND = 2  # discovery_resume: stop after this round, then resume


def spec(seed: int):
    from crawl4ai_scraper_spark.fixtures.webgen import WebSpec

    return WebSpec(n_hosts=N_HOSTS, max_secs=MAX_SECS, max_pages=MAX_PAGES, seed=seed)


def corpus_key(seed: int) -> str:
    return f"v{CORPUS_VERSION}-h{N_HOSTS}-s{MAX_SECS}-p{MAX_PAGES}-seed{seed}"


def workload_config(repo: Path, workload: str):
    """The stock ``default`` preset from the repo's ``conf/`` store (read
    only), deepened and unbudgeted for the crawl workloads."""
    from crawl4ai_scraper_spark.config import CrawlJobConfig

    data = json.loads((repo / "conf" / "default.json").read_text())
    cfg = CrawlJobConfig(**data["settings"])
    if workload == "deep_crawl":
        return dataclasses.replace(cfg, max_depth=3, max_pages=NO_BUDGET)
    if workload == "discovery_resume":
        return dataclasses.replace(cfg, max_depth=5, max_pages=NO_BUDGET)
    if workload == "interactive_crawl":
        return cfg
    raise ValueError(f"unknown workload {workload!r}")


def interactive_seeds(seed: int) -> List[str]:
    """Every section index of the hot host, in an order drawn with the
    workload seed."""
    pool = list(range(MAX_SECS))
    random.Random(seed).shuffle(pool)
    return [f"https://site0.example/sec{i}" for i in pool]


# -- corpus --------------------------------------------------------------------
def ensure_corpus(cache: Path, seed: int) -> Path:
    """The bucketed pages table for ``seed``, written on first use in the
    layout ``synthesize_pages`` gives (see ``corpus.py``). The table is
    written to a temporary name and renamed, so a killed run never leaves a
    half table behind that a later run would trust."""
    import shutil

    from corpus import write_pages
    from crawl4ai_scraper_spark.sources.pages import DEFAULT_PBUCKETS

    path = cache / f"pages-{corpus_key(seed)}"
    if (path / "_table_meta.json").exists():
        return path
    tmp = cache / f".tmp-pages-{corpus_key(seed)}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_pages(tmp, spec(seed), DEFAULT_PBUCKETS)
    tmp.rename(path)
    return path


# -- oracle goldens --------------------------------------------------------------
def _digest(text: Optional[str]) -> Optional[str]:
    return None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()


class Fetcher:
    """url -> html bytes from fixtures.webgen (None = 404), memoized so the
    goldens of one seed render each page once."""

    def __init__(self, seed: int):
        from crawl4ai_scraper_spark.fixtures.webgen import page_html

        self._spec, self._render, self._memo = spec(seed), page_html, {}

    def __call__(self, url: str) -> Optional[bytes]:
        if url not in self._memo:
            html = self._render(self._spec, url)
            self._memo[url] = None if html is None else html.encode("utf-8")
        return self._memo[url]


def oracle_golden(fetch: Fetcher, seed_url: str, cfg, extract: bool) -> Dict:
    from crawl4ai_scraper_spark.oracle.simulator import oracle_crawl, oracle_discover

    res = (oracle_crawl if extract else oracle_discover)(fetch, seed_url, cfg)
    golden = {
        "order": [[u, d] for u, d in res.visit_order],
        "discovered": res.discovered,
    }
    if extract:
        golden["digests"] = {r["url"]: _digest(r.get("markdown")) for r in res.records}
        golden["summary"] = res.summary
    return golden


def load_goldens(repo: Path, cache: Path, workload: str, seed: int) -> List[Dict]:
    """Goldens of the workload's jobs: one per seed URL of the interactive
    pool (job i uses entry i mod pool size), one for the other workloads,
    which run the same job repeatedly."""
    cfg = workload_config(repo, workload)
    jobs = {"workload": workload, "cfg": dataclasses.asdict(cfg),
            "seeds": interactive_seeds(seed) if workload == "interactive_crawl" else [ROOT]}
    key = hashlib.sha256(json.dumps(jobs, sort_keys=True).encode()).hexdigest()[:12]
    path = cache / f"golden-{corpus_key(seed)}-{workload}-{key}.json"
    if path.exists():
        return json.loads(path.read_text())
    fetch = Fetcher(seed)
    if workload == "interactive_crawl":
        goldens = [oracle_golden(fetch, url, cfg, extract=True)
                   for url in interactive_seeds(seed)]
    else:
        goldens = [oracle_golden(fetch, ROOT, cfg, extract=workload == "deep_crawl")]
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(goldens))
    tmp.rename(path)
    return goldens


# -- the check -----------------------------------------------------------------
def collect_output(res, extract: bool) -> Dict:
    """The engine's answer as plain Python: crawl order with depths,
    discovered list, per-URL text digests, summary."""
    from pyspark.sql import functions as F

    out = {
        "order": [[r["url"], r["depth"]] for r in
                  res.visited.orderBy("seq").select("url", "depth").collect()],
        "discovered": [r["url"] for r in res.discovered.collect()],
    }
    if extract:
        docs = res.documents.select("url", F.sha2(F.col("markdown"), 256).alias("d"))
        out["digests"] = {r["url"]: r["d"] for r in docs.collect()}
        out["summary"] = {k: res.summary.get(k) for k in
                          ("total_urls", "successful", "failed", "total_content_length")}
    return out


def mismatches(golden: Dict, out: Dict) -> List[str]:
    """Every way ``out`` differs from ``golden``; empty means correct."""
    bad = []
    if [u for u, _ in out["order"]] != [u for u, _ in golden["order"]]:
        bad.append("crawl order")
    if [d for _, d in out["order"]] != [d for _, d in golden["order"]]:
        bad.append("depths")
    if {u for u, _ in out["order"]} != {u for u, _ in golden["order"]}:
        bad.append("seen set")
    if out["discovered"] != golden["discovered"]:
        bad.append("discovered list")
    if "digests" in golden:
        if out.get("digests") != golden["digests"]:
            bad.append("extracted text")
        if out.get("summary") != golden["summary"]:
            bad.append("summary")
    return bad


def negative_control(golden: Dict, out: Dict) -> Dict[str, bool]:
    """Tamper with copies of a correct output; the check must catch each."""
    caught = {}
    if out.get("digests"):
        tampered = dict(out, digests=dict(out["digests"]))
        url = sorted(tampered["digests"])[0]
        tampered["digests"][url] = _digest("tampered text")
        caught["tampered_text"] = bool(mismatches(golden, tampered))
    dropped = dict(out, order=out["order"][:-1])
    caught["dropped_visit"] = bool(mismatches(golden, dropped))
    return caught


# -- jobs --------------------------------------------------------------------------
@dataclass
class JobResult:
    wall_s: float
    chk_dir: Path
    result: object  # the last leg's CrawlResult
    legs_s: List[float] = field(default_factory=list)


def run_job(ctx, index: int, call: Callable, warmup: bool = False) -> JobResult:
    """One crawl job, timed from submission to ``run_crawl``'s return.
    ``call(name, fn, *args, **kwargs)`` runs ``fn``, traced or not. A
    ``warmup`` job of ``discovery_resume`` runs the same code paths one level
    deep (two rounds); the other workloads warm up with their own job."""
    from crawl4ai_scraper_spark.plans.driver import run_crawl

    chk = str(ctx.work / "chk" / ctx.workload)
    cfg = ctx.cfg
    kw = dict(n_buckets=ctx.n_buckets)
    legs = []
    t0 = time.perf_counter()
    if ctx.workload == "discovery_resume":
        if warmup:
            cfg = dataclasses.replace(cfg, max_depth=1)
        call("driver.run_crawl", run_crawl, ctx.spark, ctx.pages, ROOT, cfg, chk,
             extract=False, use_bloom=True,
             max_rounds=1 if warmup else DISCOVERY_STOP_ROUND, **kw)
        legs.append(time.perf_counter() - t0)
        res = call("driver.run_crawl", run_crawl, ctx.spark, ctx.pages, ROOT, cfg, chk,
                   extract=False, use_bloom=True, resume=True, **kw)
    else:
        seed_url = (ROOT if ctx.workload == "deep_crawl"
                    else interactive_seeds(ctx.seed)[index % MAX_SECS])
        res = call("driver.run_crawl", run_crawl, ctx.spark, ctx.pages, seed_url, cfg,
                   chk, **kw)
    wall = time.perf_counter() - t0
    legs.append(wall - sum(legs))
    return JobResult(wall_s=wall, chk_dir=Path(chk), result=res, legs_s=legs)


def round_counts(chk_dir: Path) -> List[Dict]:
    """Per-round ``RoundResult.counts`` as the engine committed them in its
    round manifests."""
    from crawl4ai_scraper_spark.plans.checkpoint import latest_round, load_manifest

    last = latest_round(str(chk_dir)) or 0
    out = []
    for rnd in range(1, last + 1):
        counts = load_manifest(str(chk_dir), rnd).get("counts")
        if counts:
            out.append(counts)
    return out
