"""The documents table's ``formatted`` payload is built in SQL
(``plans.driver.FRONT_MATTER_SQL``); it must equal the kernel's
``format_with_metadata`` byte for byte, row by row, in both round tiers and
after ``rematerialize_documents``, and the bare markdown without metadata."""

import dataclasses
from unittest import mock

import pytest

from crawl4ai_scraper_spark.config import CrawlJobConfig
from crawl4ai_scraper_spark.kernel.naming import format_with_metadata
from crawl4ai_scraper_spark.plans import driver

SEED = "https://site0.example/"
TIERS = {"local": 10 ** 9, "spark": 0}  # driver.LOCAL_ROUND_MAX forcing each tier

# the documents view's schema: (name, type, nullable), in column order
DOCUMENTS_SCHEMA = [
    ("url", "string", True), ("title", "string", True), ("description", "string", True),
    ("markdown", "string", True), ("content_length", "bigint", True),
    ("links_count", "bigint", True), ("crawled_at", "string", False),
    ("success", "boolean", False), ("user_agent", "string", True),
    ("error", "string", True), ("rel_path", "string", True),
    ("formatted", "string", True),
]


def expected_formatted(row, include_metadata):
    if include_metadata:
        return format_with_metadata(row.asDict())
    return row["markdown"] if row["markdown"] is not None else ""


def assert_formatted(docs, include_metadata):
    rows = docs.collect()
    assert len(rows) > 5
    for row in rows:
        assert row["formatted"] == expected_formatted(row, include_metadata), row["url"]


@pytest.mark.parametrize("include_metadata", [True, False], ids=["metadata", "bare"])
@pytest.mark.parametrize("tier", list(TIERS))
def test_fused_documents_formatted_matches_kernel(spark, pages3, chk_dir, tier,
                                                  include_metadata):
    cfg = CrawlJobConfig(max_depth=2, max_pages=30, include_metadata=include_metadata)
    with mock.patch.object(driver, "LOCAL_ROUND_MAX", TIERS[tier]):
        res = driver.run_crawl(spark, pages3, SEED, cfg, chk_dir)
    schema = [(f.name, f.dataType.simpleString(), f.nullable) for f in res.documents.schema]
    assert schema == DOCUMENTS_SCHEMA
    assert_formatted(res.documents, include_metadata)


def test_rematerialized_formatted_matches_kernel(spark, pages3, chk_dir):
    cfg = CrawlJobConfig(max_depth=2, max_pages=30, include_metadata=False)
    with mock.patch.object(driver, "LOCAL_ROUND_MAX", TIERS["local"]):
        docs = driver.run_crawl(spark, pages3, SEED, cfg, chk_dir).documents
    for include_metadata in (True, False):
        out = driver.rematerialize_documents(
            spark, docs, dataclasses.replace(cfg, include_metadata=include_metadata))
        assert_formatted(out, include_metadata)
