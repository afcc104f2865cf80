from crawl4ai_scraper_spark.functions.udfs import (
    EXTRACTED_SCHEMA,
    canon_url_udf,
    extract_documents,
    include_exclude_predicate,
    make_path_udf,
)

__all__ = [
    "EXTRACTED_SCHEMA",
    "canon_url_udf",
    "extract_documents",
    "include_exclude_predicate",
    "make_path_udf",
]
