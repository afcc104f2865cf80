#!/usr/bin/env python3
"""Time every round of one crawl in each round tier, to place the bound
between the driver-local tier and the Spark tier (``sizing.LOCAL_ROUND_MAX``).

    python3 scripts/tier_crossover.py --pages-per-section 60 300 --reps 2

For each corpus size the script synthesizes (once, cached under ``.tmp/``) a
2-host, 16-section web with that many pages per section — the benchmark's
corpus shape, larger — and crawls it three levels deep from
``https://site0.example/`` with the ``default`` preset, unbudgeted, fused
extraction. Each crawl sets ``driver.LOCAL_ROUND_MAX`` to pick the tier:
``local`` runs every round on the driver, ``spark`` runs none there, ``auto``
keeps the shipped bound. One warm-up crawl per tier is not reported. A
round's time runs from its start to the next round's start, the last round's
to the start of the crawl's tail. Prints one JSON line per crawl.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

BOUNDS = {"local": 10 ** 9, "spark": 0}
SEED_URL = "https://site0.example/"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--pages-per-section", type=int, nargs="+", default=[60, 300])
    p.add_argument("--tiers", nargs="+", default=["local", "spark"],
                   choices=["local", "spark", "auto"])
    p.add_argument("--reps", type=int, default=2)
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--seed", type=int, default=2002, help="corpus seed")
    args = p.parse_args(argv)

    from crawl4ai_scraper_spark.config import ConfigStore
    from crawl4ai_scraper_spark.plans import driver
    from crawl4ai_scraper_spark.plans.checkpoint import latest_round, load_manifest
    from crawl4ai_scraper_spark.session import build_session
    from crawl4ai_scraper_spark.sources.pages import pages_n_buckets, read_pages, synthesize_pages

    work = REPO / ".tmp" / "tier_crossover"
    spark = build_session(app_name="tier-crossover", master=f"local[{args.cores}]",
                          shuffle_partitions=args.cores,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    cfg = dataclasses.replace(ConfigStore(REPO / "conf").load("default"),
                              max_depth=3, max_pages=10 ** 9)

    starts: list = []

    def stamp(name: str, tail: bool = False) -> None:
        original = getattr(driver, name)

        def wrapper(*a, **k):
            if not tail or starts[-1:] != ["tail"]:
                starts.extend([time.perf_counter()] + (["tail"] if tail else []))
            return original(*a, **k)
        setattr(driver, name, wrapper)

    for name in ("run_round", "expand_round"):  # a round's start, either tier
        if hasattr(driver, name):
            stamp(name)
    stamp("read_state", tail=True)
    auto = getattr(driver, "LOCAL_ROUND_MAX", None)

    for per_section in args.pages_per_section:
        path = work / f"pages-p{per_section}-seed{args.seed}"
        if not (path / "_table_meta.json").exists():
            synthesize_pages(spark, str(path), n_hosts=2, max_secs=16,
                             max_pages=per_section, seed=args.seed)
        pages = read_pages(spark, str(path))
        n_buckets = pages_n_buckets(str(path))
        chk = str(work / "chk")
        for rep in range(args.reps + 1):
            for tier in args.tiers:
                if auto is not None:
                    driver.LOCAL_ROUND_MAX = BOUNDS.get(tier, auto)
                starts.clear()
                shutil.rmtree(chk, ignore_errors=True)
                t0 = time.perf_counter()
                driver.run_crawl(spark, pages, SEED_URL, cfg, chk, n_buckets=n_buckets)
                total = time.perf_counter() - t0
                marks = [t for t in starts if t != "tail"]
                rounds = range(1, latest_round(chk) + 1)
                if rep == 0:
                    continue
                print(json.dumps({
                    "pages_per_section": per_section, "tier": tier, "rep": rep,
                    "frontier_in": [load_manifest(chk, r)["counts"]["frontier_in"]
                                    for r in rounds],
                    "ran": [load_manifest(chk, r).get("tier", "spark") for r in rounds],
                    "round_s": [round(b - a, 3) for a, b in zip(marks, marks[1:])],
                    "crawl_s": round(total, 3),
                }), flush=True)
    shutil.rmtree(work / "chk", ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
