"""Named-config CRUD (≙ ConfigManager, /root/reference/config_manager.py:24-233)
and its submit_crawl.py surface."""

import json
import sys
from pathlib import Path

import pytest

from crawl4ai_scraper_spark.config import (
    PRESETS,
    ConfigStore,
    CrawlJobConfig,
    seed_builtin_presets,
)

REPO = Path(__file__).resolve().parent.parent


def test_store_round_trip(tmp_path):
    store = ConfigStore(tmp_path)
    cfg = CrawlJobConfig(max_depth=5, max_pages=123, patterns=["https://x/**"])
    store.save("mine", cfg, description="test cfg")
    back = store.load("mine")
    assert back == cfg
    names = [c["name"] for c in store.list()]
    assert "default" in names and "mine" in names  # default auto-created


def test_delete_semantics(tmp_path):
    store = ConfigStore(tmp_path)
    store.save("tmp", CrawlJobConfig())
    assert store.delete("tmp") is True
    assert store.delete("tmp") is False  # already gone
    assert store.delete("default") is False  # protected (config_manager.py:145)
    assert store.load("default") is not None


def test_export_import_round_trip(tmp_path):
    store = ConfigStore(tmp_path / "a")
    cfg = CrawlJobConfig(max_pages=77)
    store.save("exp", cfg)
    out = tmp_path / "exported.json"
    assert store.export_config("exp", out)
    other = ConfigStore(tmp_path / "b")
    assert other.import_config(out) == "exp"
    assert other.load("exp") == cfg
    assert other.import_config(out, name="renamed") == "renamed"
    assert other.import_config(tmp_path / "nope.json") is None


def test_import_rejects_invalid(tmp_path):
    store = ConfigStore(tmp_path)
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"settings": {"no_such_field": 1}}))
    assert store.import_config(bad) is None


def test_stored_config_with_removed_field_loads(tmp_path):
    """A config saved while a since-removed field existed still loads on
    every path, without that field and with a warning that names it; a key
    that was never a field is still rejected."""
    import warnings

    from crawl4ai_scraper_spark.config import REMOVED_FIELDS

    assert "defer_stats_max_frontier" in REMOVED_FIELDS
    store = ConfigStore(tmp_path / "store")
    cfg = CrawlJobConfig(max_pages=33)
    settings = dict(vars(cfg), defer_stats_max_frontier=1_000_000)
    (tmp_path / "store" / "old.json").write_text(json.dumps({"name": "old", "settings": settings}))
    (tmp_path / "old.json").write_text(json.dumps({"name": "imp", "settings": settings}))
    (tmp_path / "crawl_config.json").write_text(json.dumps(settings))
    for load in (lambda: store.load("old"),
                 lambda: CrawlJobConfig.load(tmp_path / "crawl_config.json"),
                 lambda: store.load(store.import_config(tmp_path / "old.json"))):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert load() == cfg
        assert any("defer_stats_max_frontier" in str(w.message) for w in caught)
    # the re-saved import no longer holds the removed field
    assert "defer_stats_max_frontier" not in json.loads(
        (tmp_path / "store" / "imp.json").read_text())["settings"]
    with pytest.raises(TypeError, match="no_such_field"):
        CrawlJobConfig.from_settings(dict(settings, no_such_field=1))


def test_repo_conf_presets_exist_and_load():
    """SURVEY D9: the repo ships the four preset JSON files in conf/."""
    store = ConfigStore(REPO / "conf")
    seed_builtin_presets(store)
    for name, preset in PRESETS.items():
        assert store.load(name) == preset, name


def test_cli_store_modes(tmp_path, capsys):
    sys.path.insert(0, str(REPO / "scripts"))
    import submit_crawl

    submit_crawl.main(["--config-dir", str(tmp_path), "--list-configs"])
    listed = json.loads(capsys.readouterr().out)
    assert any(c["name"] == "default" for c in listed)

    # export default, re-import under a new name, then delete it
    out = tmp_path / "x.json"
    submit_crawl.main(["--config-dir", str(tmp_path), "--export-config", "default", str(out)])
    assert json.loads(capsys.readouterr().out)["exported"]
    submit_crawl.main(["--config-dir", str(tmp_path), "--import-config", str(out)])
    assert json.loads(capsys.readouterr().out)["imported"]
    submit_crawl.main(["--config-dir", str(tmp_path), "--delete-config", "default"])
    assert json.loads(capsys.readouterr().out)["deleted"] is False


def test_cli_job_from_named_config(tmp_path, capsys, spark, pages3, chk_dir):
    """A crawl job started from a stored named config (the reference's
    'load config then crawl' flow, main.py menu option)."""
    sys.path.insert(0, str(REPO / "scripts"))
    import submit_crawl

    store = ConfigStore(tmp_path)
    store.save("smoke", CrawlJobConfig(max_depth=1, max_pages=8))
    pages_path = str((REPO / ".tmp" / "pytest" / "pages3"))
    submit_crawl.main([
        "--config-dir", str(tmp_path), "--config", "smoke",
        "--pages", pages_path, "--seed", "https://site0.example/",
        "--checkpoint", chk_dir, "--dry-run",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dry_run"] is True
    # the stored config's max_pages=8 budget took effect (default is 50)
    assert 0 < out["discovered"] <= 8


def test_selector_tool_single_and_corpus(capsys, spark, pages3):
    """scripts/test_selectors.py smoke (≙ reference main.py:534-604)."""
    # load under a unique module name — tests/test_selectors.py would collide
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "selector_tool_script", REPO / "scripts" / "test_selectors.py")
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    pages_path = str(REPO / ".tmp" / "pytest" / "pages3")
    rep = tool.main(["--pages", pages_path, "--url", "https://site0.example/",
                     "--css", "article", "--css", "div.bogus-class",
                     "--xpath", "//main//p"])
    capsys.readouterr()
    kinds = {(r["kind"], r["selector"]): r for r in rep["selectors"]}
    assert kinds[("css", "article")]["valid"]
    assert kinds[("xpath", "//main//p")]["valid"]
    assert "css" in rep["extraction"] and "combined" in rep["extraction"]

    rep2 = tool.main(["--pages", pages_path, "--template", "blog", "--sample", "30"])
    capsys.readouterr()
    assert rep2["sampled_pages"] == 30
    assert any(s["pages_matched"] > 0 for s in rep2["selectors"])
