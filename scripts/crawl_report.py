#!/usr/bin/env python3
"""Operational report over a crawl checkpoint: rounds (each with the tier it
ran in — ``local`` or ``spark`` — and its counts), per-round lineage
(frontier-in / fetched / frontier-out per partition), per-host visit counts,
and output summary — everything from committed snapshots, nothing recomputed.

    python scripts/crawl_report.py --checkpoint /path/to/chk [--top-hosts 10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def main(argv=None):
    p = argparse.ArgumentParser(description="Crawl checkpoint report")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--top-hosts", type=int, default=10)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.plans.checkpoint import latest_round, load_manifest, read_state
    from crawl4ai_scraper_spark.session import build_session

    spark = build_session(app_name="crawl-report")
    spark.sparkContext.setLogLevel("ERROR")

    last = latest_round(args.checkpoint)
    if last is None:
        print(json.dumps({"error": "no committed rounds", "checkpoint": args.checkpoint}))
        return 1

    report = {"checkpoint": args.checkpoint, "last_round": last,
              "last_manifest": load_manifest(args.checkpoint, last)}
    # round 0 is the bootstrap commit; a manifest without a tier predates
    # the driver-local tier and ran in Spark
    report["rounds"] = [
        {"round": rnd, "tier": m.get("tier", "spark"), "counts": m.get("counts")}
        for rnd in range(1, last + 1)
        for m in [load_manifest(args.checkpoint, rnd)]
    ]

    lineage = read_state(spark, args.checkpoint, "lineage", last)
    report["lineage_by_round"] = [
        {k: r[k] for k in r.asDict()}
        for r in lineage.groupBy("round")
        .pivot("stage")
        .agg(F.sum("rows"))
        .orderBy("round")
        .collect()
    ]
    report["lineage_partitions"] = lineage.select("partition").distinct().count()

    visited = read_state(spark, args.checkpoint, "visited", last)
    report["visited_total"] = visited.count()
    report["top_hosts"] = [
        {"host": r["host"], "visits": r["n"]}
        for r in visited.groupBy("host").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "host").limit(args.top_hosts).collect()
    ]

    summary_path = os.path.join(args.checkpoint, "outputs", "crawl_summary.json")
    if os.path.exists(summary_path):
        with open(summary_path) as fh:
            report["output_summary"] = json.load(fh)

    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
