#!/usr/bin/env python3
"""Crawl-engine benchmark: drives ``plans.driver.run_crawl`` from outside at
``local[nproc]`` in one process, checks every job against oracle goldens and
prints one JSON result line.

    python3 perfbench/run.py --workload deep_crawl --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
run that records spans around the engine's layer calls and reports the
per-layer metrics. Workloads, metrics and findings: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORKLOADS = ("deep_crawl", "discovery_resume", "interactive_crawl")
SETUP_REPS = 3
# Untimed jobs before the measured ones: the first crawl of a process runs
# 40-60% slower than the ones after it.
WARMUP_JOBS = 1
# Options of the driver JVM, which runs every executor task in local mode.
# - C1 only, with a larger code cache. Every crawl makes Spark generate and
#   compile 260-430 new codegen classes. Under the default tiered C2 the JIT
#   spends 5-20 CPU-seconds per crawl on them and on Spark itself, decaying
#   over six or more crawls; under C1 it settles after the first crawl. The
#   code cache keeps C1's code of those classes from filling the default
#   48 MB and switching the compiler off.
# - A 3 GB heap floor and a 1 GB young generation. Under G1's own sizing the
#   full GC before each job shrank the heap to a different size every time
#   (1.2-4.7 GB committed), a job ran 2-33 young collections, and whole runs
#   came out 10-25% slower at random. The maximum heap stays sizing's.
# See README.md, "Warm-up" and "JVM options".
JVM_OPTS = ("-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m", "-Xms3g", "-Xmn1g")


@dataclass
class Ctx:
    workload: str
    seed: int
    spark: object
    pages: object
    n_buckets: int
    cfg: object
    work: Path


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure jobs back to back until this much crawl time has passed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def untraced(_name, fn, *args, **kwargs):
    return fn(*args, **kwargs)


def build(cpus: int, sizing, work: Path, app_name: str = "perfbench"):
    """A session with the given ``sizing`` decision, built the way
    ``scripts/submit_crawl.py`` builds it."""
    from crawl4ai_scraper_spark.session import build_session

    spark = build_session(
        app_name=app_name, master=f"local[{cpus}]",
        shuffle_partitions=sizing.shuffle_partitions,
        extra_conf={"spark.driver.memory": sizing.driver_memory,
                    "spark.driver.extraJavaOptions": " ".join(JVM_OPTS),
                    "spark.sql.warehouse.dir": str(work / "warehouse")})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Start the Python workers and import the engine's UDF modules in them."""
    def touch(batches):
        import crawl4ai_scraper_spark.functions.udfs  # noqa: F401  (kernel, pandas, arrow)

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(touch, "id long") \
        .write.format("noop").mode("overwrite").save()


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM before a job, so each job
    starts from a similar heap instead of inheriting its predecessor's."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def stop_jvm() -> None:
    """End the JVM PySpark launched (its Python workers go with it) and wait
    for it: the JVM exits when the pipe on its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def setup_once(cpus: int, pages_path: Path, work: Path) -> tuple:
    """Size the session from the pages table's footers with the program's
    own ``sizing.autosize_path``, start it, warm its Python workers and open
    the pages table."""
    from crawl4ai_scraper_spark.sizing import autosize_path
    from crawl4ai_scraper_spark.sources.pages import pages_n_buckets, read_pages

    t0 = time.perf_counter()
    sizing = autosize_path(str(pages_path), cpus)
    spark = build(cpus, sizing, work)
    t1 = time.perf_counter()
    warm_workers(spark)
    t2 = time.perf_counter()
    pages = read_pages(spark, str(pages_path))
    pages.schema  # noqa: B018  (file listing + footer read)
    n_buckets = pages_n_buckets(str(pages_path))
    t3 = time.perf_counter()
    return spark, sizing, pages, n_buckets, {"build_s": t1 - t0, "warmup_s": t2 - t1,
                                             "open_s": t3 - t2}


def job_record(ctx, job, counter_jobs: int, goldens, index: int) -> dict:
    """Facts of one finished job: check against the golden, exact counts,
    checkpoint bytes."""
    from telemetry import dir_stats
    from workloads import collect_output, mismatches, negative_control, round_counts

    out = collect_output(job.result, ctx.workload != "discovery_resume")
    golden = goldens[index % len(goldens)]
    bad = mismatches(golden, out)
    control = negative_control(golden, out)
    disk = dir_stats(job.chk_dir)
    counts = round_counts(job.chk_dir)
    links = sum(c.get("links_total") or 0 for c in counts)
    visits = sum(c.get("visited") or 0 for c in counts)
    fresh = sum(c.get("frontier_out") or 0 for c in counts)
    rounds = job.result.rounds
    return {
        "seed_url": out["order"][0][0] if out["order"] else "",
        "wall_s": job.wall_s, "legs_s": job.legs_s, "visited": len(out["order"]),
        "rounds": rounds, "spark_jobs": counter_jobs,
        "bytes": disk["bytes"], "files": disk["files"],
        "links_per_page": links / max(1, visits), "new_url_yield": fresh / max(1, links),
        "counts": counts, "mismatches": bad, "negative_control": control,
    }


EXACT_COUNTS = ("spark_jobs", "rounds", "bytes", "files", "counts")


def count_drift(records) -> dict:
    """Counts that differ between jobs of this run that ran the same crawl
    (same seed URL), with every value seen; empty when all repeat exactly."""
    by_url: dict = {}
    for r in records:
        by_url.setdefault(r["seed_url"], []).append(r)
    drift = {}
    for same in by_url.values():
        for key in EXACT_COUNTS:
            seen = {json.dumps(r[key], sort_keys=True) for r in same}
            if len(seen) > 1:
                drift[key] = sorted(seen)
    return drift


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (REPO / "crawl4ai_scraper_spark" / "plans" / "driver.py").is_file() or \
            not (REPO / "conf" / "default.json").is_file():
        print(f"perfbench: the crawl engine sources are not next to {HERE.name}/ "
              f"(expected crawl4ai_scraper_spark/ and conf/ in {REPO})", file=sys.stderr)
        return 2
    work, cache = HERE / ".work", HERE / ".cache"
    for d in (work / "tmp", work / "spark-local", work / "records", cache):
        d.mkdir(parents=True, exist_ok=True)
    # keep every scratch file of Python, the JVMs and Spark inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData")))
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, str(REPO))
    sys.path.insert(0, str(HERE))

    from telemetry import (JobCounter, RssSampler, cpu_times, host_fractions, jvm_times,
                           median, process_age_s)
    from tracing import Tracer

    cpu0 = cpu_times()
    import pyspark  # noqa: F401

    import workloads as W
    from crawl4ai_scraper_spark.plans import driver  # noqa: F401
    import_s = process_age_s()

    # ---- input preparation: corpus + goldens, cached per seed, never timed
    t_prep = time.perf_counter()
    pages_path = W.ensure_corpus(cache, args.seed)
    goldens = W.load_goldens(REPO, cache, args.workload, args.seed)
    prep_s = time.perf_counter() - t_prep

    # ---- set-up; it is repeated after the jobs, and the median is setup_s.
    # The jobs run in the process's first session: in a session rebuilt in
    # the same JVM they ran about 15% slower.
    marks = {"imports": import_s, "prep": process_age_s()}
    spark, sizing, pages, n_buckets, parts = setup_once(cpus, pages_path, work)
    parts["total_s"] = sum(parts.values()) + import_s
    setups = [parts]
    marks["setup"] = process_age_s()
    log(f"prep {prep_s:.1f}s setup {parts['total_s']:.2f}s "
        f"shuffle_partitions={sizing.shuffle_partitions} driver_memory={sizing.driver_memory}")

    cfg = W.workload_config(REPO, args.workload)
    cfg.shuffle_partitions = sizing.shuffle_partitions
    ctx = Ctx(args.workload, args.seed, spark, pages, n_buckets, cfg, work)
    counter = JobCounter(spark.sparkContext)
    tracer = Tracer() if args.trace else None
    records, warm = [], []
    failed = attempted = 0

    def one(index: int, traced: bool = False, warmup: bool = False):
        """Run, count and check one job; None when it raised."""
        group = f"job{index}"
        call = untraced
        if traced:
            tracer.job = group
            tracer.install()
            call = lambda name, fn, *a, **k: tracer.call(name, "driver", fn, *a, **k)  # noqa: E731
        try:
            settle(spark)
            host0, jvm0 = cpu_times(), jvm_times(spark.sparkContext)
            before = counter.start(group)
            job = W.run_job(ctx, index, call, warmup=warmup)
            job_ids = counter.stop(group, before)
            jvm1 = jvm_times(spark.sparkContext)
            telemetry = dict(host_fractions(host0, cpu_times()),
                             **{k: jvm1[k] - jvm0[k] for k in jvm1})
            telemetry["heap_committed_mb"] = jvm1["heap_committed_mb"]
            counter.start(group + "-check")
            if warmup and ctx.workload == "discovery_resume":  # shortened: no golden
                return {"wall_s": job.wall_s, **telemetry}
            rec = job_record(ctx, job, len(job_ids), goldens, index)
            rec.update(telemetry)
            # first and last id: spark_jobs == last - first + 1 shows that no
            # job from outside the crawl ran between them
            rec["spark_job_ids"] = job_ids[:1] + job_ids[-1:]
        except Exception:  # a crashed job counts as failed; the run goes on
            traceback.print_exc()
            return None
        finally:
            if tracer is not None:
                tracer.uninstall()
        rec.update(traced=traced, group=group)
        return rec

    with RssSampler() as rss:
        # the warm-up is checked against its golden but not timed
        for index in range(WARMUP_JOBS):
            warm.append(one(index, warmup=True))
        t_measure = time.perf_counter()
        marks["warmup"] = process_age_s()
        index = WARMUP_JOBS
        while True:
            rec = one(index, traced=tracer is not None)
            attempted += 1
            if rec is None or rec["mismatches"]:
                failed += 1
            if rec is not None:
                records.append(rec)
            index += 1
            # a traced run times one traced job; the overhead against the
            # untraced runs is their urls_per_s over its trace.urls_per_s
            if tracer is not None or time.perf_counter() - t_measure >= args.seconds:
                break
        marks["jobs"] = process_age_s()
        extra = per_layer_extras(ctx, tracer, records) \
            if tracer is not None and records else None
    marks["extras"] = process_age_s()
    cpu1 = cpu_times()
    for _ in range(SETUP_REPS - 1):
        spark.stop()
        spark, _, _, _, parts = setup_once(cpus, pages_path, work)
        parts["total_s"] = sum(parts.values())
        setups.append(parts)
    marks["setups"] = process_age_s()
    spark.stop()
    stop_jvm()
    marks["stop"] = process_age_s()

    host = host_fractions(cpu0, cpu1)
    ok = [r for r in records if not r["mismatches"]]
    checked = [w for w in warm if w and "mismatches" in w] + records
    controls_ok = all(all(r["negative_control"].values()) for r in checked)
    drift = count_drift([r for r in checked if not r["mismatches"]])
    warm_ok = None not in warm and not any(w.get("mismatches") for w in warm)
    correct = bool(ok) and failed == 0 and controls_ok and warm_ok

    if args.trace:
        metrics = per_layer_metrics(setups, host, rss.peak, extra) if extra and ok else {}
    else:
        metrics = {
            "urls_per_s": (median(r["visited"] / r["wall_s"] for r in ok), "1/s"),
            "job_latency_p50_s": (median(r["wall_s"] for r in ok), "s"),
            "setup_s": (median(s["total_s"] for s in setups), "s"),
            "stored_bytes_per_page": (median(r["bytes"] / r["visited"] for r in ok), "B"),
            "peak_rss_mb": (rss.peak / 2 ** 20, "MB"),
        } if ok else {}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "host": host, "prep_s": prep_s,
        "setups": setups, "warmup": warm, "jobs": records, "attempted": attempted,
        "failed": failed, "failed_frac": failed / max(1, attempted),
        "negative_control_ok": controls_ok, "count_drift": drift,
        "peak_rss_mb": rss.peak / 2 ** 20, "timeline_s": marks,
        "metrics": {k: v[0] for k, v in metrics.items()},
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    (work / "records" / name).write_text(json.dumps(record, indent=1, default=str))
    if tracer is not None:
        tracer.dump(work / "traces" / name)
    log(f"jobs {[round(r['wall_s'], 2) for r in records]} warmup "
        f"{[round(w['wall_s'], 2) for w in warm if w]} busy {host['cpu_busy_frac']:.2f} "
        f"steal {host['steal_frac']:.3f} failed_frac {record['failed_frac']:.3f} "
        f"count_drift={sorted(drift)} negative_control_ok={controls_ok} "
        f"mismatches={[r['mismatches'] for r in records]} "
        f"setups {[round(x['total_s'], 2) for x in setups]} "
        f"busy/steal/gc/gcs/heap_mb/jit/classes/codegen per job "
        f"{[tuple(round(j[k], 3) for k in ('cpu_busy_frac', 'steal_frac', 'gc_s', 'gc_count', 'heap_committed_mb', 'jit_s', 'classes_loaded', 'codegen_compiles')) for j in warm + records if j]} "
        f"timeline {{{', '.join(f'{k}: {v:.1f}' for k, v in marks.items())}}}")
    if not metrics:
        log("no job passed its check; no metrics to report")
        return 1
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def per_layer_extras(ctx, tracer, records) -> dict:
    """Per-layer numbers that need the live session: the traced job's span
    report, a reopen of the finished checkpoint, bloom figures and the
    standalone kernel / functions passes."""
    import layers
    from crawl4ai_scraper_spark.plans.checkpoint import latest_round, read_enqueued
    from crawl4ai_scraper_spark.plans.driver import run_crawl
    from tracing import job_report
    from workloads import ROOT

    from tracing import call_overhead_s

    traced = next(r for r in records if r["traced"])
    out = job_report(tracer.spans, traced["group"])
    out["call_overhead_s"] = call_overhead_s()
    chk = str(ctx.work / "chk" / ctx.workload)
    t0 = time.perf_counter()
    run_crawl(ctx.spark, ctx.pages, ROOT, ctx.cfg, chk, resume=True,
              extract=ctx.workload != "discovery_resume", n_buckets=ctx.n_buckets)
    out["resume_s"] = time.perf_counter() - t0
    enqueued = {r["url"] for r in read_enqueued(ctx.spark, chk, latest_round(chk)).collect()}
    if ctx.workload == "discovery_resume":
        # the filter the driver received (add_to_bloom grows it in place), as
        # it stood after the last round
        bloom = tracer.bloom
    else:
        out["bloom_build_s"], out["bloom_add_s"], bloom = \
            layers.bloom_standalone(ctx.spark, chk, ctx.cfg)
    out["fpr"] = layers.false_positive_rate(
        ctx.spark, bloom, layers.never_enqueued(ctx.seed, enqueued))
    sample = layers.page_sample(ctx.seed)
    out.update(layers.kernel_rates(sample, ctx.cfg.cleaning_kwargs()))
    out.update(layers.functions_rates(ctx.spark, sample, ctx.cfg))
    out["traced_record"] = traced
    return out


def per_layer_metrics(setups, host, peak_rss, x) -> dict:
    from telemetry import median

    t = x["traced_record"]
    walls = x["round_walls"] or [0.0]
    fixed = sum(x.get(f"self.{layer}_s", 0.0)
                for layer in ("driver", "checkpoint", "ranking", "politeness"))
    per_page = t["visited"] / x["functions.visit_expand_pages_per_s"]
    return {
        "driver.rounds": (t["rounds"], "count"),
        "driver.spark_jobs": (t["spark_jobs"], "count"),
        "driver.spark_jobs_per_round": (t["spark_jobs"] / max(1, t["rounds"]), "count"),
        "driver.round_s_p50": (median(walls), "s"),
        "driver.tail_s": (x["tail_s"], "s"),
        "frontier.run_round_s": (x["run_round_s"], "s"),
        "frontier.links_per_page": (t["links_per_page"], "ratio"),
        "frontier.new_url_yield": (t["new_url_yield"], "ratio"),
        "ranking.global_rank_s": (x["global_rank_s"], "s"),
        "bloom.build_s": (x["bloom_build_s"], "s"),
        "bloom.add_s": (x["bloom_add_s"], "s"),
        "bloom.false_positive_rate": (x["fpr"], "ratio"),
        "checkpoint.commit_s": (x["commit_s"], "s"),
        "checkpoint.read_s": (x["read_s"], "s"),
        "checkpoint.resume_s": (x["resume_s"], "s"),
        "checkpoint.bytes_per_round": (t["bytes"] / max(1, t["rounds"]), "B"),
        "checkpoint.files_per_round": (t["files"] / max(1, t["rounds"]), "count"),
        "checkpoint.deferred_write_s": (x["deferred_write_s"], "s"),
        "checkpoint.deferred_overlap_s": (x["deferred_overlap_s"], "s"),
        "politeness.schedule_s": (x["schedule_s"], "s"),
        "functions.visit_expand_pages_per_s": (x["functions.visit_expand_pages_per_s"], "1/s"),
        "functions.extract_documents_pages_per_s":
            (x["functions.extract_documents_pages_per_s"], "1/s"),
        "kernel.extract_record_pages_per_s": (x["kernel.extract_record_pages_per_s"], "1/s"),
        "kernel.scan_links_pages_per_s": (x["kernel.scan_links_pages_per_s"], "1/s"),
        "kernel.canon_url_per_s": (x["kernel.canon_url_per_s"], "1/s"),
        "session.build_s": (median(s["build_s"] for s in setups), "s"),
        "session.warmup_s": (median(s["warmup_s"] for s in setups), "s"),
        "host.cpu_busy_frac": (host["cpu_busy_frac"], "ratio"),
        "host.steal_frac": (host["steal_frac"], "ratio"),
        "self.driver_s": (x.get("self.driver_s", 0.0), "s"),
        "self.frontier_s": (x.get("self.frontier_s", 0.0), "s"),
        "self.ranking_s": (x.get("self.ranking_s", 0.0), "s"),
        "self.checkpoint_s": (x.get("self.checkpoint_s", 0.0), "s"),
        "self.politeness_s": (x.get("self.politeness_s", 0.0), "s"),
        "share.per_round_fixed_frac": (fixed / t["wall_s"], "ratio"),
        "share.per_page_est_frac": (per_page / t["wall_s"], "ratio"),
        "process.peak_rss_mb": (peak_rss / 2 ** 20, "MB"),
        "jvm.jit_s": (t["jit_s"], "s"),
        "jvm.gc_s": (t["gc_s"], "s"),
        "trace.urls_per_s": (t["visited"] / t["wall_s"], "1/s"),
        "trace.spans": (x["spans"], "count"),
        "trace.overhead_frac": (x["spans"] * x["call_overhead_s"] / t["wall_s"], "ratio"),
    }


if __name__ == "__main__":
    sys.exit(main())
