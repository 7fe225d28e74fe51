"""Parquet/Iceberg table sources.

The reference's sources are a recursive file walk with suffix filtering
and dir pruning (reference: ingestion/manager.py:179-193, cli.py:49-72);
ours are table scans — Catalyst does the pruning (PushDownPredicate +
column pruning reach the parquet reader; verified in
tests/test_plans.py). At production scale these would be Iceberg tables
(`spark.read.table`); the sandbox uses plain parquet files, same plans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Guarantee downstream NARROW heavy compute (interpreted
    higher-order functions, regex chains, Python kernels) sees at least
    ``defaultParallelism`` partitions.

    Single-file/single-row-group parquet inputs arrive as ONE scan
    split (guide §2.5 "input skew: one huge unsplittable file"), so a
    codegen-cheap but lambda-heavy projection runs on one core of 32 —
    measured r6: the whole minhash shingle+hash chain, bm25's per-term
    tf filters and the cosine kernels were single-task at sf1.0. The
    repartition is CONDITIONAL: at cluster scale inputs already arrive
    in many splits and this is a no-op — it never adds a shuffle to an
    already-parallel plan."""
    if df.isStreaming:  # micro-batch sizing is the stream's own knob
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame of driver-side rows (tuples or Rows, in ``schema``'s
    DDL column order) that plans as a LocalTableScan. Built through
    Arrow: ``spark.createDataFrame(list)`` parallelizes a Python RDD, and
    every job reading it pays a Python-worker stage (~0.3 s on a 4-core
    local session, however few the rows)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema=struct)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; one of {TABLES}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus being indexed: (doc_id, text, lang, source, n_chars)."""
    return load_table(spark, sf_dir, "documents")
