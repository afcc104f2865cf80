"""The round's per-page pass: visit each fetched page, extract its document
when fused, and expand its internal links.

``expand_rows`` is the one kernel behind both round tiers. The Spark tier
wraps it per ``mapInPandas`` batch (``functions.udfs.visit_and_expand``); the
driver-local tier runs it on chunks of the fetched rows, in the driver and
in the ``kernel.pool`` workers. It imports neither pandas nor pyspark, so a
pool worker stays small.
"""

from __future__ import annotations

from datetime import datetime
from typing import Dict, Iterable, List, Optional, Tuple
from urllib.parse import urlparse

from crawl4ai_scraper_spark.kernel.cleaning import CleaningConfig
from crawl4ai_scraper_spark.kernel.extraction import extract_record
from crawl4ai_scraper_spark.kernel.htmlkit import decode_html, scan_links
from crawl4ai_scraper_spark.kernel.naming import output_rel_path
from crawl4ai_scraper_spark.kernel.urls import canon_url, match_url_pattern

# Input row: (url, host, depth, arrival_rank, html); html None = failed fetch.
Row = Tuple[str, str, int, int, Optional[object]]

EXPAND_COLS = ("kind", "url", "host", "depth", "arrival_rank", "success",
               "link_pos", "child_url", "child_domain", "child_host")
# Fused mode: visit rows additionally carry the full extracted document.
DOC_COLS = ("title", "description", "markdown", "content_length", "links_count",
            "user_agent", "rel_path")


def expand_rows(max_depth: int, extraction: Optional[dict],
                rows: Iterable[Row]) -> Dict[str, List]:
    """Fetched rows → column lists: one VISIT row (kind=0) per page plus one
    LINK row (kind=1) per internal link, canonicalized against the parent.

    With ``extraction`` set, pattern-MATCHED successful visits also carry
    the full document record (byte-identical text, output path), and
    ``doc_matched`` is the single source of truth for pattern membership in
    fused mode. ``extraction`` keys: cleaning (CleaningConfig kwargs), naming
    (strategy, convention, run_ts_iso), patterns, exclude_patterns."""
    ext = None
    if extraction is not None:
        strategy, convention, run_ts_iso = extraction["naming"]
        ext = {
            "cleaning": CleaningConfig.build(**extraction.get("cleaning", {})),
            "strategy": strategy,
            "convention": convention,
            "run_ts_iso": run_ts_iso,
            "run_ts": datetime.fromisoformat(run_ts_iso),
            "patterns": extraction.get("patterns") or [],
            "exclude": extraction.get("exclude_patterns") or [],
        }
    cols = EXPAND_COLS if extraction is None else EXPAND_COLS + DOC_COLS + ("doc_matched",)
    out = {k: [] for k in cols}
    for url, host, depth, rank, html in rows:
        ok = html is not None
        out["kind"].append(0)
        out["url"].append(url)
        out["host"].append(host)
        out["depth"].append(int(depth))
        out["arrival_rank"].append(int(rank))
        out["success"].append(ok)
        out["link_pos"].append(None)
        out["child_url"].append(None)
        out["child_domain"].append(None)
        out["child_host"].append(None)
        if ext is not None:
            m = bool(ok and match_url_pattern(url, ext["patterns"], ext["exclude"]))
            out["doc_matched"].append(m)
            if m:
                rec = extract_record(url, html, ext["run_ts_iso"], ext["cleaning"])
                rec["rel_path"] = output_rel_path(
                    url, rec["title"] or "Untitled",
                    ext["strategy"], ext["convention"], ext["run_ts"],
                )
                for c in DOC_COLS:
                    out[c].append(rec.get(c))
            else:
                for c in DOC_COLS:
                    out[c].append(None)
        if not ok or int(depth) >= max_depth:
            continue  # leaves are never expanded (crawler.py:210)
        # scan_links = links-only fast path, differentially tested
        # against the HTMLParser ground truth (extract_links)
        for link in scan_links(decode_html(html), url):
            if not link["is_internal"] or not link["href"]:
                continue  # the reference iterates links['internal'] only
            child = canon_url(link["href"], url)
            parsed = urlparse(child)
            out["kind"].append(1)
            out["url"].append(url)
            out["host"].append(host)
            out["depth"].append(int(depth))
            out["arrival_rank"].append(int(rank))
            out["success"].append(True)
            out["link_pos"].append(int(link["link_pos"]))
            out["child_url"].append(child)
            out["child_domain"].append(f"{parsed.scheme}://{parsed.netloc}")
            out["child_host"].append(parsed.netloc)
            if ext is not None:
                out["doc_matched"].append(None)
                for c in DOC_COLS:
                    out[c].append(None)
    return out
