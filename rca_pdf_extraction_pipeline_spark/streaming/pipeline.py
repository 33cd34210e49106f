"""Streaming extraction: the batch operators applied to an unbounded
docs stream.

The reference pipeline is stateless per document (SURVEY.md §2.13 —
no watermarks or cross-doc state), so streaming support is exact reuse:
``extract_documents`` is a narrow mapInArrow stage, legal on a
streaming DataFrame as-is. ``run_file_stream(spark, in_dir, out_dir,
checkpoint_dir)`` is the deployable file-watch job: new parquet files of
docs(doc_id, spans) appearing under ``in_dir`` are extracted exactly-once
using Spark's own streaming checkpoint (complementary to
plans/checkpoint.py, which handles *batch* resume).

Scale notes: each micro-batch inherits the batch pipeline's properties
(narrow, Arrow-batched, skew handled by the source partitioning);
``maxFilesPerTrigger`` bounds micro-batch size so executor memory is
stable regardless of backlog depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.extraction import extract_documents
from ..sources.fixtures import SPAN_SCHEMA_DDL


def docs_file_stream(spark: SparkSession, in_dir: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    """Unbounded reader over a directory of docs parquet files."""
    return (
        spark.readStream.schema(SPAN_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_dir)
    )


def run_file_stream(spark: SparkSession, in_dir: str, out_dir: str,
                    checkpoint_dir: str,
                    max_files_per_trigger: int = 8) -> StreamingQuery:
    """File-watch extraction job with exactly-once semantics via the
    streaming checkpoint; call ``.awaitTermination()`` on the result."""
    extracted = extract_documents(docs_file_stream(spark, in_dir,
                                                   max_files_per_trigger))
    return (
        extracted.writeStream
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
