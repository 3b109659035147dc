"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-extraction pipeline (transcripts →
packed markers → mentions → fused triples) on a deterministic synthetic
transcript corpus. ``queries()``/``oracle_sql()`` expose the catalog's 121
rows, each with a DuckDB twin: the KG pipeline's outputs and the queries
over them (``kg_*``, twinned by the Python oracle rendered as VALUES), the
reference-semantics operators, and the corpus-curation, near-dup,
tokenizer and media operators over the driver's parquet tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pl_marker_spark import queries_catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: synthetic multi-turn transcripts → (subj, pred, obj)
    triples via the packed-marker NER→RE pipeline."""
    from pl_marker_spark import synth
    from pl_marker_spark.config import DEFAULT_CONFIG
    from pl_marker_spark.pipeline.runner import run_extraction

    transcripts = synth.transcripts_df(spark, n_convs=50)
    return run_extraction(spark, transcripts, DEFAULT_CONFIG)["triples"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return queries_catalog.queries()


def oracle_sql() -> dict[str, str]:
    return queries_catalog.oracle_sql()
