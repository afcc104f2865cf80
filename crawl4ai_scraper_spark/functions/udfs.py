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
from crawl4ai_scraper_spark.kernel.expand import expand_rows
from crawl4ai_scraper_spark.kernel.extraction import extract_record
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

VISIT_EXPAND_DOC_SCHEMA = VISIT_EXPAND_SCHEMA + (
    ", title string, description string, markdown string, content_length long, "
    "links_count long, user_agent string, rel_path string, doc_matched boolean"
)


def visit_and_expand(max_depth: int, extraction: Optional[dict] = None):
    """Single-pass round kernel as a ``mapInPandas`` batch function: fetched
    page batches → a per-page VISIT row (kind=0) plus one LINK row per
    internal link (kind=1), canonicalized against the parent. One Arrow pass
    touches ``html``; every downstream frame of the round (visits
    bookkeeping, budget cut, dedup, rank) is html-free — at 10^10 scale the
    binary column never enters a shuffle.

    FUSED EXTRACTION: with ``extraction`` set, pattern-MATCHED successful
    visits also get the full document record (byte-identical text, output
    path) in the same pass — the page's html is already in worker memory, so
    the reference's separate Phase-2 extraction scan (crawler.py:547-599) is
    folded away entirely. Output schema becomes VISIT_EXPAND_DOC_SCHEMA.

    Each batch is one ``kernel.expand.expand_rows`` call — the kernel the
    driver-local tier runs too. Input columns: url, host, depth,
    arrival_rank, html (html may be null on the shuffled-join fallback path;
    null → failed visit, no links).
    """

    def _expand(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = zip(pdf["url"], pdf["host"], pdf["depth"], pdf["arrival_rank"], pdf["html"])
            yield pd.DataFrame(expand_rows(max_depth, extraction, rows))

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
