"""Crawl job configuration (≙ CrawlConfig, /root/reference/crawler.py:26-77).

Only the knobs that affect DATA are kept; interactive/browser-only settings
(verbose, proxy, js injection, dependency auto-install) are out of scope by
design (SURVEY.md §7 non-goals). Persisted as JSON next to checkpoints, which
mirrors the reference's config save/load round-trip
(/root/reference/config_manager.py:64-112).
"""

from __future__ import annotations

import json
import warnings
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import List, Optional


@dataclass
class CrawlJobConfig:
    # Discovery budget (crawler.py:29-30)
    max_depth: int = 2
    max_pages: int = 50
    include_external: bool = False  # crawler.py:31

    # Politeness (crawler.py:32-33). In this engine the delay is VIRTUAL time:
    # it schedules, it never sleeps; host_rules may override per host.
    concurrent_limit: int = 3
    delay_between_requests: float = 1.0

    # Patterns
    patterns: List[str] = field(default_factory=list)
    exclude_patterns: List[str] = field(default_factory=list)

    # Cleaning (crawler.py:63-77)
    cleaning_profile: str = "moderate"
    min_content_length: int = 100
    custom_nav_patterns: List[str] = field(default_factory=list)
    custom_footer_patterns: List[str] = field(default_factory=list)
    custom_skip_patterns: List[str] = field(default_factory=list)
    # Selector-based extraction (crawler.py:66-70; templates selector_utils.py:21-54)
    content_css_selectors: List[str] = field(default_factory=list)
    content_xpath: List[str] = field(default_factory=list)
    exclude_css_selectors: List[str] = field(default_factory=list)
    exclude_xpath: List[str] = field(default_factory=list)
    selector_template: str = ""

    def cleaning_kwargs(self) -> dict:
        """kwargs for CleaningConfig.build — ONE place defines how job config
        maps to the text-extraction semantics (UDFs + oracle share it)."""
        return dict(
            custom_nav_patterns=self.custom_nav_patterns,
            custom_footer_patterns=self.custom_footer_patterns,
            custom_skip_patterns=self.custom_skip_patterns,
            min_content_length=self.min_content_length,
            cleaning_profile=self.cleaning_profile,
            content_css_selectors=self.content_css_selectors,
            content_xpath=self.content_xpath,
            exclude_css_selectors=self.exclude_css_selectors,
            exclude_xpath=self.exclude_xpath,
            selector_template=self.selector_template or None,
        )

    # Output naming (output_manager.py strategies)
    organization_strategy: str = "flat"
    naming_convention: str = "url_based"
    include_metadata: bool = True

    # Engine knobs (ours): scale/partitioning
    shuffle_partitions: int = 32
    host_salt_buckets: int = 16
    bloom_capacity: int = 1 << 20
    bloom_fpp: float = 0.01
    # >1 splits the URL-seen bloom into pmod(hash, S) slices: required at
    # 10^10-URL scale where a single bit array (~12 GB at 1% fpp) cannot
    # broadcast; 1 keeps the single-filter build (small/medium crawls).
    bloom_shards: int = 1
    # URL-seen pre-filter family (north_rule: "Bloom/cuckoo"): "bloom" or
    # "cuckoo". The cuckoo variant is denser (~2.4 bytes/key at fpp≈1.2e-4)
    # and deletable (recrawl un-mark); always built sharded (cuckoo tables
    # don't OR-merge, so each pmod slice builds whole inside one task).
    seen_filter: str = "bloom"
    # Fetch-join strategy switch: a frontier smaller than this (rows) is
    # BROADCAST against the pages scan (needle-in-haystack: no pages shuffle,
    # partition/bloom pruning stays on the scan side); a bigger frontier falls
    # back to the shuffled left join. 4M rows ≈ 300 MB broadcast — the safe
    # ceiling for 4-8 GiB executors.
    broadcast_frontier_threshold: int = 4_000_000
    # Priority mode: "fifo" replicates the reference's BFS queue exactly;
    # "priority" orders each round by (priority desc, arrival) — our extension.
    frontier_order: str = "fifo"
    # Frontier hygiene (crawler-trap defenses, plans/politeness.hygiene_flags)
    # and the per-host fairness cap. BOTH default off: the reference has no
    # such screens, and crawl-order/seen-set parity is defined without them.
    hygiene_enabled: bool = False
    hygiene_max_url_len: int = 2048
    hygiene_max_path_depth: int = 16
    hygiene_max_query_params: int = 8
    hygiene_max_repeated_segments: int = 2
    # Max NEW urls enqueued per host per round (0 = unlimited). Applied to
    # first-appender survivors via the skew-proof bucketed rank.
    max_new_urls_per_host_round: int = 0
    # RefinedWeb-style URL screening of candidate links
    # (plans/politeness.url_blocklist_filter): > 0 drops candidates whose
    # weighted banned-term score reaches the threshold; a host blocklist
    # frame comes in via run_crawl(blocked_hosts=...). Default off — parity
    # with the reference is defined without it.
    url_spam_threshold: float = 0.0
    # Statistical trap screening (plans/politeness.template_trap_stats):
    # when on, each FUSED round's visited pages feed the per-(host,
    # path-template) duplicate-content signal, and flagged templates are
    # anti-joined out of the candidate stream in every later round —
    # template grain, because the same-domain gate puts most traps ON the
    # host being crawled. Default off — parity with the reference is
    # defined without it (and non-fused rounds carry no content to
    # fingerprint).
    trap_screen: bool = False
    trap_min_urls: int = 20
    trap_max_dup_ratio: float = 0.5

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(asdict(self), indent=2, sort_keys=True))

    @classmethod
    def load(cls, path: Path) -> "CrawlJobConfig":
        return cls.from_settings(json.loads(Path(path).read_text()))

    @classmethod
    def from_settings(cls, settings: dict) -> "CrawlJobConfig":
        """A config from stored settings. A field that an earlier version
        stored and this one removed (``REMOVED_FIELDS``) is dropped with a
        warning that names it, so configs saved before the removal still
        load; any other unknown key is the constructor's ``TypeError``."""
        removed = sorted(k for k in settings if k in REMOVED_FIELDS)
        if removed:
            warnings.warn(f"ignoring removed config fields: {', '.join(removed)}", stacklevel=2)
        return cls(**{k: v for k, v in settings.items() if k not in REMOVED_FIELDS})


# Fields that stored configs may still hold but that no longer exist:
# ``defer_stats_max_frontier`` went with the deferred-stats round path.
REMOVED_FIELDS = frozenset({"defer_stats_max_frontier"})


# Presets mirroring config_manager.py:264-339 (data-affecting fields only).
PRESETS = {
    "default": CrawlJobConfig(),
    "fast": CrawlJobConfig(max_depth=1, max_pages=10, concurrent_limit=5,
                           delay_between_requests=0.5),
    "comprehensive": CrawlJobConfig(max_depth=3, max_pages=200, concurrent_limit=2,
                                    delay_between_requests=2.0),
    "api_docs": CrawlJobConfig(max_depth=2, max_pages=100, concurrent_limit=3,
                               delay_between_requests=1.0),
}

PRESET_DESCRIPTIONS = {
    "default": "Default crawling configuration",
    "fast": "Quick crawling with minimal depth",
    "comprehensive": "Deep crawling with content extraction",
    "api_docs": "Optimized for API documentation sites",
}


class ConfigStore:
    """Named config-file CRUD (≙ ConfigManager,
    /root/reference/config_manager.py:24-233): one JSON file per named config
    under ``config_dir`` — the repo-local ``conf/`` by default (the reference
    uses ``~/.crawl4ai/configs``). save / load / list / delete /
    export_config / import_config, with a ``default`` entry auto-created and
    protected from deletion, as in the reference."""

    def __init__(self, config_dir: Optional[Path] = None):
        if config_dir is None:
            config_dir = Path(__file__).resolve().parent.parent / "conf"
        self.config_dir = Path(config_dir)
        self.config_dir.mkdir(parents=True, exist_ok=True)
        if not (self.config_dir / "default.json").exists():
            self.save("default", PRESETS["default"],
                      description=PRESET_DESCRIPTIONS["default"])

    def _path(self, name: str) -> Path:
        return self.config_dir / f"{name}.json"

    def save(self, name: str, cfg: CrawlJobConfig, description: str = "") -> Path:
        payload = {
            "name": name,
            "description": description,
            "settings": asdict(cfg),
        }
        path = self._path(name)
        path.write_text(json.dumps(payload, indent=2, sort_keys=True))
        return path

    def load(self, name: str) -> Optional[CrawlJobConfig]:
        path = self._path(name)
        if not path.exists():
            return None
        data = json.loads(path.read_text())
        return CrawlJobConfig.from_settings(data.get("settings", {}))

    def list(self) -> List[dict]:
        """Config summaries (name, description, file_path), name-sorted."""
        out = []
        for path in sorted(self.config_dir.glob("*.json")):
            try:
                data = json.loads(path.read_text())
            except Exception:
                continue  # unreadable file listed nowhere, as in the reference
            out.append({
                "name": data.get("name", path.stem),
                "description": data.get("description", "No description"),
                "settings_count": len(data.get("settings", {})),
                "file_path": str(path),
            })
        return out

    def delete(self, name: str) -> bool:
        if name == "default":  # config_manager.py:145-147
            return False
        path = self._path(name)
        if not path.exists():
            return False
        path.unlink()
        return True

    def export_config(self, name: str, export_path: Path) -> bool:
        path = self._path(name)
        if not path.exists():
            return False
        Path(export_path).write_text(path.read_text())
        return True

    def import_config(self, import_path: Path, name: Optional[str] = None) -> Optional[str]:
        """Returns the stored name, or None on a missing/invalid file."""
        import_path = Path(import_path)
        if not import_path.exists():
            return None
        try:
            data = json.loads(import_path.read_text())
            settings = data.get("settings", {})
            cfg = CrawlJobConfig.from_settings(settings)  # validates the field names
        except Exception:
            return None
        final = name or data.get("name", import_path.stem)
        self.save(final, cfg, description=data.get("description", ""))
        return final


def seed_builtin_presets(store: ConfigStore) -> None:
    """Write every builtin preset into the store (the reference ships its
    four presets as files in the config dir, config_manager.py:264-339)."""
    for preset_name, preset_cfg in PRESETS.items():
        if not store._path(preset_name).exists():
            store.save(preset_name, preset_cfg,
                       description=PRESET_DESCRIPTIONS.get(preset_name, ""))
