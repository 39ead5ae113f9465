"""The ``pages`` input table (Common-Crawl-style web pages).

Production shape (BASELINE.json ``input_hint``)::

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

In production this is an Iceberg table at 10^12 rows. In the sandbox we
derive it **deterministically** from the driver's ``documents`` table
(doc_id, text, lang, source, n_chars) with pure SQL so the DuckDB oracle can
rebuild the identical table. The derivation preserves ``text`` byte-for-byte
(the per-row invariant) and carries ``doc_id`` through as ``page_id`` — the
integer seed for fallback geocoding.

``load_table`` (a DataFrame) and ``table_sql`` (the same scan as SQL
relation text, for queries that bind their tables inside the statement
instead of through session temp views) are the only places that name the
scan format, so the parquet→Iceberg switch is two lines here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# One shared SQL fragment set for the pages projection; valid in both
# dialects (|| concat, CAST AS VARCHAR, to_timestamp/epoch arithmetic kept
# out on purpose — warc_ts is synthesized from doc_id as epoch seconds which
# both engines render identically once cast).
PAGES_COLS_SQL = {
    "page_id": "doc_id",
    "url": (
        "('https://site' || CAST(doc_id % 50 AS STRING) || '.example/d/'"
        " || CAST(doc_id AS STRING))"
    ),
    "text": "text",
    "lang": "lang",
    "n_chars": "n_chars",
}


def pages_select_sql(documents_rel: str = "documents") -> str:
    """Dialect-portable SELECT deriving pages from the documents relation."""
    cols = ", ".join(f"{expr} AS {name}" for name, expr in PAGES_COLS_SQL.items())
    return f"SELECT {cols} FROM {documents_rel}"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def table_sql(sf_dir: str, name: str) -> str:
    """``load_table``'s scan as a Spark SQL relation (``parquet.`path```)."""
    return f"parquet.`{sf_dir}/{name}.parquet`"


def load_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages DataFrame derived from documents (see module docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        *[f"{expr} AS {name}" for name, expr in PAGES_COLS_SQL.items()]
    )
