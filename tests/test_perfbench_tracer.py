"""The benchmark's tracer (perfbench/tracing.py) wraps engine functions by
name. A rename or deletion of any of them must fail here, Spark-free, and
not first in a ``perfbench/run.py --trace 1`` run."""

import importlib.util
import sys
from pathlib import Path


def _load_tracing():
    path = Path(__file__).resolve().parent.parent / "perfbench" / "tracing.py"
    spec = importlib.util.spec_from_file_location("perfbench_tracing", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve their module here
    spec.loader.exec_module(mod)
    return mod


def test_tracer_install_wraps_and_uninstall_restores_engine_names():
    from crawl4ai_scraper_spark.plans import checkpoint, driver, frontier

    owners = (driver, frontier, checkpoint.RoundCommit)
    before = {(owner, attr): val for owner in owners for attr, val in vars(owner).items()}
    tracer = _load_tracing().Tracer()
    try:
        tracer.install()
        patched = [(owner, attr) for owner, attr, _ in tracer._patched]
        assert patched
        for owner, attr, original in tracer._patched:
            assert original is before[(owner, attr)]
            assert getattr(owner, attr).__wrapped__ is original
    finally:
        tracer.uninstall()
    assert tracer._patched == []
    for owner, attr in patched:
        assert vars(owner)[attr] is before[(owner, attr)], attr
