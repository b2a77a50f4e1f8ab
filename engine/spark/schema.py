"""Spark StructTypes for the transcript extraction engine.

Mirrors FIXTURES.md §3 and SURVEY.md §1.2/§1.4. Table rows use
``array<map<string,string>>`` because the reference's table cells are
heterogeneous (json schema.json:246-262) and Spark needs one type; typed
values live in the numerics collection. ``arrow_frame`` builds a frame
over driver-held rows of any schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               MapType, StringType, StructField, StructType,
                               TimestampType)

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), True),
])

SPAN_TYPE = StructType([
    StructField("kind", StringType(), False),
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
    StructField("label", StringType(), True),
])

PASSAGE_TYPE = StructType([
    StructField("passage_id", StringType(), False),
    StructField("text", StringType(), False),
    StructField("page", IntegerType(), False),
    StructField("section", StringType(), True),
])

TABLE_TYPE = StructType([
    StructField("table_id", StringType(), False),
    StructField("title", StringType(), True),
    StructField("page", IntegerType(), False),
    StructField("columns", ArrayType(StringType()), False),
    StructField("rows", ArrayType(MapType(StringType(), StringType())), False),
])

NUMERIC_TYPE = StructType([
    StructField("num_id", StringType(), False),
    StructField("value", DoubleType(), False),
    StructField("unit", StringType(), True),
    StructField("metric_type", StringType(), True),
    StructField("context", StringType(), True),
    StructField("page", IntegerType(), False),
])

ENTITY_TYPE = StructType([
    StructField("entity_id", StringType(), False),
    StructField("name", StringType(), False),
    StructField("type", StringType(), True),
    StructField("aliases", ArrayType(StringType()), True),
])

FIGURE_TYPE = StructType([
    StructField("page", IntegerType(), False),
    StructField("label", StringType(), True),
    StructField("path", StringType(), True),
    StructField("filename", StringType(), True),
    StructField("context", StringType(), True),
])

CLEAN_STATS_TYPE = StructType([
    StructField("original_length", IntegerType(), False),
    StructField("final_length", IntegerType(), False),
    StructField("removed_sections", IntegerType(), False),
    StructField("removed_paragraphs", IntegerType(), False),
    StructField("reduction_ratio", DoubleType(), False),
])

SUMMARY_TYPE = StructType([
    StructField("passages_count", IntegerType(), False),
    StructField("tables_count", IntegerType(), False),
    StructField("numerics_count", IntegerType(), False),
    StructField("entities_count", IntegerType(), False),
    StructField("figures_count", IntegerType(), False),
])

EXTRACTED_SCHEMA = StructType([
    # identity columns stay nullable: dirty inputs (null conv_id/turn_idx)
    # must flow through as records, not task failures
    StructField("conv_id", StringType(), True),
    StructField("turn_idx", IntegerType(), True),
    StructField("role", StringType(), True),
    StructField("ts", TimestampType(), True),
    StructField("payload_kind", StringType(), False),
    StructField("cleaned_text", StringType(), True),
    StructField("title", StringType(), True),
    StructField("date", StringType(), True),
    StructField("language", StringType(), True),
    StructField("word_count", IntegerType(), False),
    StructField("page_count", IntegerType(), False),
    StructField("doc_id", StringType(), False),
    StructField("tickers", ArrayType(StringType()), False),
    StructField("authors", ArrayType(StringType()), False),
    StructField("passages", ArrayType(PASSAGE_TYPE), False),
    StructField("tables", ArrayType(TABLE_TYPE), False),
    StructField("numerics", ArrayType(NUMERIC_TYPE), False),
    StructField("entities", ArrayType(ENTITY_TYPE), False),
    StructField("figures", ArrayType(FIGURE_TYPE), False),
    StructField("figures_kept", ArrayType(StringType()), False),
    StructField("figures_dropped", ArrayType(StringType()), False),
    StructField("clean_stats", CLEAN_STATS_TYPE, False),
    StructField("summary", SUMMARY_TYPE, False),
    StructField("spans", ArrayType(SPAN_TYPE), False),
    StructField("error", StringType(), True),
    # lineage plumbing (cheap int columns; aggregated into the manifest)
    StructField("conv_bucket", IntegerType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("bytes_in", LongType(), False),
])

LINEAGE_SCHEMA = StructType([
    StructField("run_id", StringType(), False),
    StructField("wave", IntegerType(), False),
    StructField("conv_bucket", IntegerType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("turns_processed", LongType(), False),
    StructField("extraction_failures", LongType(), False),
    StructField("bytes_parsed", LongType(), False),
    StructField("wall_ms", LongType(), False),
    StructField("completed_at", TimestampType(), False),
])


def arrow_frame(spark: SparkSession, rows: list,
                schema: StructType | str) -> DataFrame:
    """A frame over driver-held rows (dicts, or tuples in schema order),
    shipped to the JVM as one Arrow table: a local relation that runs no
    Python task, where a Python-list source runs one per slice. A DDL
    string ``schema`` is parsed as ``createDataFrame`` parses it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = [r if isinstance(r, dict) else dict(zip(schema.names, r))
            for r in rows]
    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)), schema)
