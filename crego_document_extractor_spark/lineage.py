"""Per-partition checkpointed lineage + idempotent resume (north_rule).

The corpus is hash-bucketed on ``doc_id``; each bucket is a resumable
unit of work.  A manifest table records completed buckets with metrics
``(bucket, status, n_docs, n_rows, wall_ms, attempt, run_id,
completed_at)``.  Resuming is an anti-join of pending buckets against
the manifest (the Spark form of the reference's SHA256 parse cache,
cache.py:36-125: only misses recompute).

Output is written ``partitionBy(bucket)`` with dynamic partition
overwrite, so a re-run of an interrupted bucket atomically replaces
any partial files — the plain-parquet stand-in for an Iceberg
MERGE/commit at production scale.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .parse import parse_documents
from .pipeline import extract_parameters

MANIFEST = "_manifest"
RESULTS = "results"


def with_bucket(docs: DataFrame, n_buckets: int) -> DataFrame:
    return docs.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    try:
        m = spark.read.parquet(f"{out_dir}/{MANIFEST}")
    except Exception:
        return set()
    return {r["bucket"] for r in
            m.where("status = 'done'").select("bucket").distinct().collect()}


def _attempt_no(spark: SparkSession, out_dir: str) -> int:
    try:
        m = spark.read.parquet(f"{out_dir}/{MANIFEST}")
        return m.agg(F.max("attempt")).collect()[0][0] + 1
    except Exception:
        return 1


def run_with_lineage(docs: DataFrame, out_dir: str,
                     n_buckets: int = 64,
                     buckets_subset: list[int] | None = None) -> dict:
    """Run the extraction pipeline over all buckets not yet marked done
    (optionally restricted to ``buckets_subset`` — used by tests to
    simulate an interrupted run).  Returns run metrics."""
    spark = docs.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    done = completed_buckets(spark, out_dir)
    attempt = _attempt_no(spark, out_dir)
    run_id = f"run-{attempt}"

    bucketed = with_bucket(docs, n_buckets)
    pending = bucketed.where(~F.col("bucket").isin(list(done)) if done else F.lit(True))
    if buckets_subset is not None:
        pending = pending.where(F.col("bucket").isin(buckets_subset))

    t0 = time.perf_counter()
    # the shipped form (pipeline.extract_from_raw), spelled through this
    # module's imports so the two calls stay individually traceable
    results = extract_parameters(
        parse_documents(pending.select("doc_id", "spans"), fuse_retrieval=True))
    out = (results
           .withColumn("bucket",
                       F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")))
    (out.write.mode("overwrite").partitionBy("bucket")
        .parquet(f"{out_dir}/{RESULTS}"))
    wall_ms = int((time.perf_counter() - t0) * 1000)

    # per-bucket metrics for the manifest (lineage + extraction metrics)
    stats = (bucketed
             .where(~F.col("bucket").isin(list(done)) if done else F.lit(True))
             .where(F.col("bucket").isin(buckets_subset)
                    if buckets_subset is not None else F.lit(True))
             .groupBy("bucket").agg(F.count("*").alias("n_docs")))
    rows = (spark.read.parquet(f"{out_dir}/{RESULTS}")
            .groupBy("bucket").agg(F.count("*").alias("n_rows")))
    manifest = (stats.join(rows, "bucket", "left")
                .select("bucket",
                        F.lit("done").alias("status"),
                        "n_docs",
                        F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
                        F.lit(wall_ms).alias("wall_ms"),
                        F.lit(attempt).alias("attempt"),
                        F.lit(run_id).alias("run_id"),
                        F.current_timestamp().alias("completed_at")))
    manifest.write.mode("append").parquet(f"{out_dir}/{MANIFEST}")

    n_done = manifest.count()
    return {"run_id": run_id, "attempt": attempt,
            "buckets_processed": n_done, "wall_ms": wall_ms,
            "buckets_previously_done": len(done)}


def read_results(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/{RESULTS}")
