"""Bucket-level checkpoint manifests with idempotent resume.

North-rule requirement (not a reference behaviour): the 10^12-doc job must
resume after failure without reprocessing or duplicating work.

Mechanism (SURVEY.md §4.3):

* every document is assigned a deterministic ``bucket = pmod(xxhash64(
  doc_id), num_buckets)``;
* extraction output is written as parquet **partitioned by bucket** with
  ``partitionOverwriteMode=dynamic`` — re-running a bucket *overwrites* its
  partition instead of duplicating it (the parquet stand-in for an Iceberg
  ``overwrite``; with an Iceberg catalog configured the same flow maps to
  ``writeTo(...).overwritePartitions()`` and snapshot-isolated commits);
* after a successful write, one manifest row per bucket
  ``(bucket, status, n_docs, n_spans, n_chars, bytes_in, wall_ms, app_id,
  run_ts)`` is appended to ``{output}/_manifest`` — lineage + extraction
  metrics;
* resume = the input filtered against the completed manifest buckets,
  collected once up front: already-done buckets are never re-read past the
  scan.

Crash-safety: the manifest append happens only after the data write
returns, so a failure mid-write leaves at worst a torn partition that the
next run's dynamic overwrite replaces — manifests never point at
unfinished buckets (write-ahead of data, write-behind of manifest).
Out-of-band data loss *after* a manifest commit (someone deletes files
under {output}/data) is not detected — resume trusts the manifest; that is
the gap Iceberg snapshot isolation closes on the production path (delete
the manifest rows for affected buckets to force reprocessing).
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .config import DEFAULT_NUM_BUCKETS
from .pipeline import OUT_SCHEMA, extract_spans_df

_DATA_SCHEMA = StructType(
    OUT_SCHEMA.fields + [StructField("bucket", IntegerType())])


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, output_dir: str) -> DataFrame | None:
    """The manifest's done buckets, one row per manifest entry (a bucket
    that was re-run repeats), or None when there is no manifest yet.

    The manifest writer's own schema is given, so the read infers none, and
    callers dedupe in Python: collecting this is one Spark job."""
    try:
        m = spark.read.schema("bucket int, status string").parquet(
            f"{output_dir}/_manifest")
    except AnalysisException:
        return None
    return m.filter(F.col("status") == "done").select("bucket")


def _summary(rows: list, wall_ms: int) -> dict:
    """The processed increment's totals, from its manifest rows."""
    return {
        "buckets": len(rows),
        "docs": sum(r.n_docs for r in rows),
        "spans": sum(r.n_spans for r in rows),
        "bytes_in": sum(r.bytes_in for r in rows),
        "wall_ms": wall_ms,
    }


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    salt_partitions: int | None = None,
    resume: bool = True,
    bucket_filter=None,
) -> dict:
    """Extract ``docs`` into ``{output_dir}/data`` with manifest checkpoints.

    ``bucket_filter`` (testing/fault-injection): optional predicate column
    over ``bucket`` restricting which buckets this invocation processes —
    simulates a killed run that only finished part of the input.

    ``docs`` is read exactly once, so a side-effecting input (a URL fetch,
    the byte-ingest kernel) runs once per row and needs no persist: the
    done-bucket set (at most ``num_buckets`` ints) is collected before the
    write and the input is filtered against that frozen set, and the
    manifest is built from a partition-pruned read-back of the buckets
    just written. A ``status`` column on ``docs`` (ingest errors) is
    carried through to the output.

    Returns summary metrics for the processed increment.
    """
    t0 = time.monotonic()
    done_df = completed_buckets(spark, output_dir) if resume else None
    done = ({r.bucket for r in done_df.collect()} if done_df is not None
            else set())
    if set(range(num_buckets)) <= done:   # nothing left: read nothing
        return _summary([], int((time.monotonic() - t0) * 1000))
    todo = ~F.col("bucket").isin(sorted(done))
    if bucket_filter is not None:
        todo = todo & bucket_filter(F.col("bucket"))
    cols = [c for c in ("doc_id", "spans", "status") if c in docs.columns]
    docs = with_bucket(docs.select(*cols), num_buckets).filter(todo).drop(
        "bucket")

    # NB: fan-out children land in the *parent's* bucket so bucket-level
    # resume stays exact (children re-derive deterministically from parents).
    # The pipeline carries the pre-fan-out root_id through the kernel —
    # string-splitting the child doc_id would mis-bucket inputs whose own
    # doc_id contains '/'.
    result = extract_spans_df(
        docs, salt_partitions=salt_partitions, keep_root=True,
    )
    result = result.withColumn(
        "bucket", F.pmod(F.xxhash64("root_id"), F.lit(num_buckets)).cast("int")
    ).drop("root_id")
    # The overwrite mode is pinned on THIS write, not the shared session:
    # under Spark's default *static* mode, mode('overwrite').partitionBy
    # would truncate the whole {output}/data directory while the manifest
    # still marks prior buckets done — resume would silently lose them.
    # A write-local option cannot leak dynamic semantics into the caller's
    # other partitioned overwrites.
    result.write.mode("overwrite").partitionBy("bucket").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(f"{output_dir}/data")
    wall_ms = int((time.monotonic() - t0) * 1000)

    # An explicit schema reads an increment that wrote no rows as empty.
    written = spark.read.schema(_DATA_SCHEMA).parquet(
        f"{output_dir}/data").filter(todo)
    manifest = (
        written.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum(F.when(F.col("status").startswith("error"), 1)
                  .otherwise(0)).alias("n_errors"),
            F.sum(F.when(F.col("status") == "empty", 1)
                  .otherwise(0)).alias("n_empty"),
        )
        .withColumn("status", F.lit("done"))
        .withColumn("wall_ms", F.lit(wall_ms))
        .withColumn("app_id", F.lit(spark.sparkContext.applicationId))
        .withColumn("run_ts", F.lit(int(time.time() * 1000)))
    )
    rows = manifest.collect()
    if rows:
        # straight from the JVM aggregate: one file, no Python worker
        manifest.coalesce(1).write.mode("append").parquet(
            f"{output_dir}/_manifest")
    return _summary(rows, wall_ms)
