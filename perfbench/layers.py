"""Standalone per-page layer throughput, timed through each layer's public
functions over one fixed page sample drawn with the run's seed.

* ``kernel``: single-core, in this process — ``extract_record``,
  ``scan_links`` and ``canon_url``.
* ``functions``: one ``mapInPandas`` pass of ``visit_and_expand`` (with fused
  extraction) and of ``extract_documents`` at the session's parallelism,
  over a cached input frame so the timing holds the Arrow pass alone.
* ``bloom``: on workloads whose crawl never builds a seen filter, one
  ``build_bloom`` over the crawl's enqueued set and one ``add_to_bloom`` of
  its last frontier, then a false-positive probe with corpus URLs that were
  never enqueued.
"""

from __future__ import annotations

import random
import time
from typing import Dict, List

from workloads import Fetcher, spec

SAMPLE_PAGES = 400      # kernel sample
FUNCTIONS_REPEAT = 6    # the functions pass reads the sample this many times over


def page_sample(seed: int) -> List[tuple]:
    """(url, html bytes) of SAMPLE_PAGES existing hot-host pages."""
    from crawl4ai_scraper_spark.fixtures.webgen import iter_host_urls

    urls = list(iter_host_urls(spec(seed), 0))
    rng = random.Random(seed)
    fetch = Fetcher(seed)
    picked = [u for u in rng.sample(urls, min(len(urls), SAMPLE_PAGES * 2)) if fetch(u)]
    return [(u, fetch(u)) for u in picked[:SAMPLE_PAGES]]


def _rate(n: int, fn, min_s: float = 0.4) -> float:
    """Items per second of ``fn`` (which handles ``n`` items), repeated until
    at least ``min_s`` has been measured."""
    done, t0 = 0, time.perf_counter()
    while True:
        fn()
        done += n
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return done / dt


def kernel_rates(sample: List[tuple], cleaning_kwargs: dict) -> Dict[str, float]:
    from crawl4ai_scraper_spark.kernel.cleaning import CleaningConfig
    from crawl4ai_scraper_spark.kernel.extraction import extract_record
    from crawl4ai_scraper_spark.kernel.htmlkit import decode_html, scan_links
    from crawl4ai_scraper_spark.kernel.urls import canon_url

    cleaning = CleaningConfig.build(**cleaning_kwargs)
    decoded = [(u, decode_html(h)) for u, h in sample]
    hrefs = [(link["href"], u) for u, h in decoded for link in scan_links(h, u) if link["href"]]

    def extract():
        for u, h in sample:
            extract_record(u, h, "2025-01-01T00:00:00", cleaning)

    def scan():
        for u, h in decoded:
            scan_links(h, u)

    def canon():
        for href, base in hrefs:
            canon_url(href, base)

    return {
        "kernel.extract_record_pages_per_s": _rate(len(sample), extract),
        "kernel.scan_links_pages_per_s": _rate(len(decoded), scan),
        "kernel.canon_url_per_s": _rate(len(hrefs), canon),
    }


def functions_rates(spark, sample: List[tuple], cfg) -> Dict[str, float]:
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.functions.udfs import (
        EXTRACTED_SCHEMA,
        VISIT_EXPAND_DOC_SCHEMA,
        extract_documents,
        visit_and_expand,
    )
    from crawl4ai_scraper_spark.plans.driver import RUN_TS_ISO

    rows = [(f"{u}#{k}" if k else u, "site0.example", 1, i, h)
            for k in range(FUNCTIONS_REPEAT) for i, (u, h) in enumerate(sample)]
    n = len(rows)
    frame = spark.createDataFrame(
        rows, "url string, host string, depth int, arrival_rank long, html binary"
    ).repartition(spark.sparkContext.defaultParallelism).cache()
    try:
        frame.count()
        extraction = {
            "cleaning": cfg.cleaning_kwargs(),
            "naming": (cfg.organization_strategy, cfg.naming_convention, RUN_TS_ISO),
            "patterns": cfg.patterns,
            "exclude_patterns": cfg.exclude_patterns,
        }
        expand = frame.mapInPandas(visit_and_expand(cfg.max_depth, extraction),
                                   VISIT_EXPAND_DOC_SCHEMA)
        extract = frame.select("url", "html", F.lit(RUN_TS_ISO).alias("crawled_at")).mapInPandas(
            extract_documents(cfg.cleaning_kwargs(),
                              (cfg.organization_strategy, cfg.naming_convention, RUN_TS_ISO)),
            EXTRACTED_SCHEMA)
        out = {}
        for name, df in (("functions.visit_expand_pages_per_s", expand),
                         ("functions.extract_documents_pages_per_s", extract)):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            out[name] = n / (time.perf_counter() - t0)
        return out
    finally:
        frame.unpersist()


def never_enqueued(seed: int, enqueued: set) -> List[str]:
    """Corpus URLs (both hosts) the crawl never enqueued."""
    from crawl4ai_scraper_spark.fixtures.webgen import iter_urls

    return [u for u in iter_urls(spec(seed)) if u not in enqueued]


def false_positive_rate(spark, bloom, probes: List[str]) -> float:
    """Share of never-enqueued URLs the filter reports as possibly seen,
    hashed with the same xxhash64 the engine probes with."""
    import numpy as np
    from pyspark.sql import functions as F

    hashed = spark.createDataFrame([(u,) for u in probes], "url string").select(
        F.xxhash64("url").alias("h"))
    hashes = np.array([r["h"] for r in hashed.collect()], dtype=np.int64)
    return float(bloom.probe_signed(hashes).sum()) / max(1, len(hashes))


def bloom_standalone(spark, chk_dir: str, cfg) -> tuple:
    """build_bloom over a finished crawl's enqueued set, add_to_bloom of its
    last frontier: (build_s, add_s, filter)."""
    from crawl4ai_scraper_spark.plans.bloom import add_to_bloom, build_bloom
    from crawl4ai_scraper_spark.plans.checkpoint import (
        latest_round,
        read_enqueued,
        read_frontier,
    )

    last = latest_round(chk_dir)
    enqueued = read_enqueued(spark, chk_dir, last)
    t0 = time.perf_counter()
    bloom = build_bloom(enqueued, "url", capacity=cfg.bloom_capacity, fpp=cfg.bloom_fpp)
    t1 = time.perf_counter()
    add_to_bloom(bloom, read_frontier(spark, chk_dir, last).select("url"), "url")
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, bloom
