"""Vectorized pandas/Arrow UDFs wrapping the kernel (SURVEY §2.10).

Hard rule (BASELINE.json input_hint): NO per-row Python UDFs. Everything here
is either a scalar ``pandas_udf`` (Arrow-batched Series→Series) or a
``mapInPandas`` batch transformer. The hot loops inside are plain Python over
a batch — the same code path the sequential oracle runs, which is precisely
what makes extracted text byte-identical (kernel shared verbatim).

Cheap predicates (pattern match, depth, domain equality on literals) are NOT
UDFs — they are native Column expressions built by ``include_exclude_predicate``
so Catalyst can push them into scans and keep them in whole-stage codegen.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from crawl4ai_scraper_spark.kernel.cleaning import CleaningConfig
from crawl4ai_scraper_spark.kernel.extraction import extract_record
from crawl4ai_scraper_spark.kernel.htmlkit import decode_html, scan_links
from crawl4ai_scraper_spark.kernel.naming import output_rel_path
from crawl4ai_scraper_spark.kernel.urls import canon_url, wildcard_to_regex

# ---------------------------------------------------------------------------
# Scalar pandas UDFs
# ---------------------------------------------------------------------------

@pandas_udf(StringType())
def canon_url_udf(urls: pd.Series, bases: pd.Series) -> pd.Series:
    """URL canonicalization (kernel.urls.canon_url ≙ crawler.py:150-165)."""
    return pd.Series([canon_url(u, b) for u, b in zip(urls, bases)])


def make_path_udf(strategy: str, convention: str, run_ts_iso: str, pattern: str = "{domain}/{filename}"):
    """Relative output path per organization strategy (output_manager.py:229-292)."""
    from datetime import datetime

    run_ts = datetime.fromisoformat(run_ts_iso)

    @pandas_udf(StringType())
    def _fn(urls: pd.Series, titles: pd.Series) -> pd.Series:
        return pd.Series(
            [
                output_rel_path(u, t or "Untitled", strategy, convention, run_ts, pattern)
                for u, t in zip(urls, titles)
            ]
        )

    return _fn


# ---------------------------------------------------------------------------
# Native predicate builders (no UDF — push-down friendly)
# ---------------------------------------------------------------------------

def include_exclude_predicate(
    col: Column,
    patterns: Optional[List[str]],
    exclude_patterns: Optional[List[str]],
) -> Column:
    """Wildcard include/exclude as a pure Column predicate: exclusions first,
    empty include list accepts all (≙ crawler.py:111-130). The regexes come
    from the SAME kernel converter the oracle uses, so semantics are
    identical; rlike is anchored because the converter emits ^...$."""
    pred = F.lit(True)
    for pat in exclude_patterns or []:
        pred = pred & ~col.rlike(wildcard_to_regex(pat))
    if patterns:
        inc = F.lit(False)
        for pat in patterns:
            inc = inc | col.rlike(wildcard_to_regex(pat))
        pred = pred & inc
    return pred


# ---------------------------------------------------------------------------
# Batch transformers (mapInPandas)
# ---------------------------------------------------------------------------

VISIT_EXPAND_SCHEMA = (
    "kind tinyint, url string, host string, depth int, arrival_rank long, "
    "success boolean, link_pos int, child_url string, child_domain string, "
    "child_host string"
)

# Fused mode: visit rows additionally carry the full extracted document.
_DOC_COLS = ("title", "description", "markdown", "content_length", "links_count",
             "user_agent", "rel_path")
VISIT_EXPAND_DOC_SCHEMA = VISIT_EXPAND_SCHEMA + (
    ", title string, description string, markdown string, content_length long, "
    "links_count long, user_agent string, rel_path string, doc_matched boolean"
)


def visit_and_expand(max_depth: int, extraction: Optional[dict] = None):
    """Single-pass round kernel: fetched page batches → a per-page VISIT row
    (kind=0) plus one LINK row per internal link (kind=1), canonicalized
    against the parent. One Arrow pass touches ``html``; every downstream
    frame of the round (visits bookkeeping, budget cut, dedup, rank) is
    html-free — at 10^10 scale the binary column never enters a shuffle.

    FUSED EXTRACTION: with ``extraction`` set, pattern-MATCHED successful
    visits also get the full document record (byte-identical text, output
    path) in the same pass — the page's html is already in worker memory, so
    the reference's separate Phase-2 extraction scan (crawler.py:547-599) is
    folded away entirely. ``extraction`` keys: cleaning (CleaningConfig
    kwargs), naming (strategy, convention, run_ts_iso), patterns,
    exclude_patterns. Output schema becomes VISIT_EXPAND_DOC_SCHEMA.

    Input columns: url, host, depth, arrival_rank, html (html may be null on
    the shuffled-join fallback path; null → failed visit, no links).
    """
    from datetime import datetime
    from urllib.parse import urlparse

    from crawl4ai_scraper_spark.kernel.urls import match_url_pattern

    def _expand(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("kind", "url", "host", "depth", "arrival_rank", "success",
                "link_pos", "child_url", "child_domain", "child_host")
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
            # doc_matched is the SINGLE source of truth for pattern membership
            # in fused mode (the round's matched column reuses it; see
            # frontier.run_round) — JVM rlike never re-evaluates the patterns.
            cols = cols + _DOC_COLS + ("doc_matched",)
        for pdf in it:
            out = {k: [] for k in cols}
            for url, host, depth, rank, html in zip(
                pdf["url"], pdf["host"], pdf["depth"], pdf["arrival_rank"], pdf["html"]
            ):
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
                        for c in _DOC_COLS:
                            out[c].append(rec.get(c))
                    else:
                        for c in _DOC_COLS:
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
                        for c in _DOC_COLS:
                            out[c].append(None)
            yield pd.DataFrame(out)

    return _expand


EXTRACTED_SCHEMA = (
    "url string, title string, description string, markdown string, "
    "content_length long, links_count long, crawled_at string, success boolean, "
    "user_agent string, error string, rel_path string"
)


def extract_documents(cfg_kwargs: dict, naming: Optional[tuple] = None):
    """Builder for the content-extraction batch transformer (the Phase-2 pass,
    crawler.py:547-599). Input columns: url, html, crawled_at. Output: the
    content record — ``markdown`` is the byte-identical text.

    ``naming=(strategy, convention, run_ts_iso)`` folds the output-path
    computation (output_manager.py:229-342) into the SAME Arrow pass — a
    separate path UDF would round-trip every (url, title) through a second
    Python stage."""
    from datetime import datetime

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cleaning = CleaningConfig.build(**cfg_kwargs)
        run_ts = datetime.fromisoformat(naming[2]) if naming else None
        cols = ["url", "title", "description", "markdown", "content_length",
                "links_count", "crawled_at", "success", "user_agent", "error",
                "rel_path"]
        for pdf in it:
            rows = []
            for url, html, crawled_at in zip(pdf["url"], pdf["html"], pdf["crawled_at"]):
                if html is None:
                    rows.append(
                        {
                            "url": url, "title": None, "description": None,
                            "markdown": None, "content_length": 0, "links_count": 0,
                            "crawled_at": str(crawled_at), "success": False,
                            "user_agent": None,
                            # ≙ the failure record message, crawler.py:519-525
                            "error": "Crawl failed: Unknown error",
                            "rel_path": None,
                        }
                    )
                else:
                    rec = extract_record(url, html, str(crawled_at), cleaning)
                    if naming:
                        rec["rel_path"] = output_rel_path(
                            url, rec["title"] or "Untitled", naming[0], naming[1], run_ts
                        )
                    rows.append(rec)
            yield pd.DataFrame(rows, columns=cols)

    return _extract
