"""Persistent worker processes for the driver-local round's per-page pass.

``map_expand`` runs ``expand.expand_rows`` over contiguous chunks of a
round's fetched rows: the caller computes chunk 0 itself while one worker
per other chunk computes the rest, and the results come back in chunk order.

A worker is ``python -m crawl4ai_scraper_spark.kernel.pool``: it imports
only this package (no pandas, no pyspark) and serves length-prefixed pickles
over its stdin and stdout, one request and one reply at a time. It is
started with ``subprocess``, not ``multiprocessing``: a spawn or forkserver
worker re-runs the caller's ``__main__``, and a forked one copies the whole
driver. Lifecycle:

* started lazily, at the first ``map_expand`` that needs it, and kept for
  later rounds and crawls;
* exits at EOF on its stdin — when ``close`` or the ``atexit`` hook closes
  the pipe, or when the caller dies, however it dies;
* any failure of a call (a worker that dies, or a kernel error in any
  chunk) closes every worker before the error is raised, so the next call
  starts from fresh workers with empty pipes.

One lock serialises the pool between threads.

Width: one worker per usable core but one (``usable_cores``: the CPU
affinity, or ``os.cpu_count`` where the platform has no affinity call,
bounded by the cgroup CPU quota). No further cap: a worker holds its
imports (about 22 MB) plus what its largest chunk left in its heap (47-48
MB in all after a 25,000-row fused round on 4 cores), and a round's rows are
split across the workers, not copied to each, so the chunk share shrinks as
the width grows.
"""

from __future__ import annotations

import atexit
import math
import os
import pickle
import signal
import struct
import subprocess
import sys
import threading
import traceback
from typing import Dict, List, Optional, Sequence

from crawl4ai_scraper_spark.kernel.expand import Row, expand_rows

_HEADER = struct.Struct("!Q")
_MODULE = "crawl4ai_scraper_spark.kernel.pool"
# the directory (or the --py-files zip) that holds the package, for the
# workers' import path
_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_PROC_CGROUP = "/proc/self/cgroup"
_CGROUP_FS = "/sys/fs/cgroup"


def usable_cores() -> int:
    """The cores this process may run on: its CPU affinity (``os.cpu_count``
    where there is no ``os.sched_getaffinity``, as on macOS and Windows),
    bounded by the cgroup CPU quota, which affinity does not see."""
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        cores = os.cpu_count() or 1
    quota = _cpu_quota()
    return min(cores, quota) if quota else cores


def _read_words(path: str) -> List[str]:
    with open(path) as fh:
        return fh.read().split()


def _cpu_quota() -> Optional[int]:
    """This process's cgroup CPU quota in whole cores, rounded up (v2
    ``cpu.max``, v1 ``cpu.cfs_quota_us`` / ``cpu.cfs_period_us``), or None
    where none is set or none can be read. The cgroup's own directory and
    the controller's mount root are both read: a container without a cgroup
    namespace sees its host path in ``/proc/self/cgroup`` but has its own
    cgroup mounted at the root."""
    try:
        with open(_PROC_CGROUP) as fh:
            entries = [line.rstrip("\n").split(":", 2) for line in fh if line.count(":") >= 2]
    except OSError:
        return None
    quotas = []
    for _, controllers, path in entries:
        if controllers == "":
            mount, files = _CGROUP_FS, ("cpu.max",)
        elif "cpu" in controllers.split(","):
            mount, files = os.path.join(_CGROUP_FS, controllers), ("cpu.cfs_quota_us",
                                                                   "cpu.cfs_period_us")
        else:
            continue
        for d in {mount + path.rstrip("/"), mount}:
            try:
                quota, period = [w for f in files for w in _read_words(os.path.join(d, f))]
            except (OSError, ValueError):
                continue
            if quota not in ("max", "-1"):
                quotas.append(max(1, math.ceil(int(quota) / int(period))))
    return min(quotas) if quotas else None


def _send(fh, obj) -> None:
    data = pickle.dumps(obj, protocol=pickle.HIGHEST_PROTOCOL)
    fh.write(_HEADER.pack(len(data)))
    fh.write(data)
    fh.flush()


def _recv(fh):
    head = fh.read(_HEADER.size)
    if len(head) < _HEADER.size:
        raise EOFError
    (n,) = _HEADER.unpack(head)
    data = fh.read(n)
    if len(data) < n:
        raise EOFError
    return pickle.loads(data)


class _Pool:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.workers: List[subprocess.Popen] = []

    def _grow(self, n: int) -> None:
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(p for p in (_ROOT, env.get("PYTHONPATH")) if p)
        while len(self.workers) < n:
            self.workers.append(subprocess.Popen(
                [sys.executable, "-m", _MODULE], stdin=subprocess.PIPE,
                stdout=subprocess.PIPE, env=env,
            ))

    def map_expand(self, max_depth: int, extraction: Optional[dict],
                   chunks: Sequence[List[Row]]) -> List[Dict[str, List]]:
        with self.lock:
            try:
                self._grow(len(chunks) - 1)
                busy = list(zip(self.workers, chunks[1:]))
                for proc, chunk in busy:
                    _send(proc.stdin, (max_depth, extraction, chunk))
                results = [expand_rows(max_depth, extraction, chunks[0])]
                errors = []
                for proc, _ in busy:
                    try:
                        status, value = _recv(proc.stdout)
                    except EOFError:
                        status, value = "err", f"kernel worker {proc.pid} exited"
                    if status != "ok":
                        errors.append(value)
                    results.append(value)
                if errors:
                    raise RuntimeError("local-tier kernel worker failed:\n" + "\n".join(errors))
                return results
            except BaseException:
                self._close()
                raise

    def _close(self) -> None:
        workers, self.workers = self.workers, []
        for proc in workers:
            for fh in (proc.stdin, proc.stdout):
                try:
                    fh.close()
                except OSError:
                    pass  # a dead worker's pipe: nothing left to flush
        for proc in workers:
            try:
                proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def close(self) -> None:
        with self.lock:
            self._close()


_POOL = _Pool()
atexit.register(_POOL.close)


def map_expand(max_depth: int, extraction: Optional[dict],
               chunks: Sequence[List[Row]]) -> List[Dict[str, List]]:
    """``expand_rows`` over each chunk, in chunk order: chunk 0 in this
    process, chunk i in worker i-1. Raises if any chunk fails."""
    return _POOL.map_expand(max_depth, extraction, chunks)


def close() -> None:
    """Stop every worker (they are restarted by the next ``map_expand``)."""
    _POOL.close()


def main() -> None:
    """The worker loop: one request, one reply, until EOF on stdin."""
    signal.signal(signal.SIGINT, signal.SIG_IGN)  # the caller decides when to stop
    inp = sys.stdin.buffer
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # a stray print goes to stderr, never into the replies
    sys.stdout = sys.stderr
    while True:
        try:
            request = _recv(inp)
        except EOFError:
            return
        try:
            reply = ("ok", expand_rows(*request))
        except Exception:
            reply = ("err", traceback.format_exc())
        _send(out, reply)


if __name__ == "__main__":
    main()
