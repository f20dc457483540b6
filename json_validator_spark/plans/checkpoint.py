"""Checkpoint / resume with per-partition lineage (SURVEY §4.3.3).

The unit of resumability is a *logical bucket*: ``pmod(xxhash64(doc_id),
n_buckets)`` — stable across cluster sizes and re-runs, unlike physical
partition ids. A run processes pending buckets, writes violations
dynamic-partition-overwritten per bucket (idempotent redo), then appends
lineage rows ``(run_id, bucket, status, n_docs, n_errors, ts)``. Crash
between the two ⇒ the bucket's lineage is absent ⇒ it is redone and its
output overwritten — exactly-once at the bucket level. Both writes are
parquet (violations per bucket directory, lineage appended), so they
are two commits, not one: readers see only buckets whose lineage row
exists (``_committed_buckets``), which stands in for the single
snapshot commit an Iceberg table would give. No Iceberg path exists
here.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_validator_spark.rules.model import RuleSet
from json_validator_spark.session import scoped_conf

LINEAGE_SCHEMA = "run_id string, bucket int, status string, n_docs long, n_errors long, ts double"
VIOLATIONS_SCHEMA = (
    "doc_id string, span_path string, rule_id string, severity string, "
    "message string, bucket int"
)
METRICS_SCHEMA = "run_id string, rule_id string, severity string, count long, bucket int"


def bucket_col(doc_id: str = "doc_id", n_buckets: int = 64) -> F.Column:
    """Stable bucket assignment. ALWAYS hashes the STRING form of the
    id: ``validate_run`` casts doc_id to string in its violation rows,
    and xxhash64(123L) != xxhash64('123') — hashing native types here
    would route a bigint corpus's violations into different buckets
    than the pending-doc selection used."""
    return F.pmod(
        F.xxhash64(F.col(doc_id).cast("string")), F.lit(n_buckets)
    ).cast("int")


def completed_buckets(spark: SparkSession, ckpt_dir: str, run_id: str) -> set[int]:
    path = os.path.join(ckpt_dir, "lineage")
    try:
        lineage = spark.read.parquet(path)
    except Exception:
        return set()
    rows = (
        lineage.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("bucket").distinct().collect()
    )
    return {r["bucket"] for r in rows}


def run_with_checkpoint(
    spark: SparkSession,
    docs: DataFrame,
    ruleset: RuleSet,
    ckpt_dir: str,
    run_id: str,
    n_buckets: int = 64,
    doc_id: str = "doc_id",
    max_buckets_this_call: int | None = None,
    media_catalog: DataFrame | None = None,
    extra_violations: list[DataFrame] | None = None,
    definitions: dict | None = None,
) -> list[int]:
    """Process pending buckets; returns the buckets completed by THIS
    call. ``max_buckets_this_call`` exists so tests can simulate a crash
    mid-run and then resume. Violations land in
    ``{ckpt_dir}/violations/bucket=<b>/``.

    ``extra_violations`` (plugin providers, same contract as
    ``validate_run``) participate in the bucket protocol: each frame is
    filtered to THIS call's pending buckets by the same
    ``pmod(xxhash64(doc_id))`` assignment, so a redone bucket rewrites
    its plugin rows too and completed buckets never duplicate them."""
    from json_validator_spark.plans.pipeline import validate_run

    done = completed_buckets(spark, ckpt_dir, run_id)
    pending = [b for b in range(n_buckets) if b not in done]
    if max_buckets_this_call is not None:
        pending = pending[:max_buckets_this_call]
    if not pending:
        return []

    subset = docs.filter(bucket_col(doc_id, n_buckets).isin(pending))
    extra_subset = [
        e.filter(bucket_col("doc_id", n_buckets).isin(pending))
        for e in extra_violations or []
    ]
    # uniqueness within the whole corpus can't be bucketed arbitrarily —
    # but bucketing BY doc_id hash means duplicates co-locate in one
    # bucket, so per-bucket uniqueness == global uniqueness.
    result = validate_run(
        spark, subset, ruleset, definitions=definitions, doc_id=doc_id,
        media_catalog=media_catalog, extra_violations=extra_subset or None,
    )
    # result's frames are materialized: the actions below (per-bucket
    # counts, violations write, metrics write) re-run no rule
    out = result.violations.withColumn("bucket", bucket_col("doc_id", n_buckets))

    per_bucket = (
        result.doc_verdicts.groupBy(bucket_col("doc_id", n_buckets).alias("__bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    )
    err_by_bucket = {
        r["bucket"]: r["n"]
        for r in out.filter(F.col("severity") == "error")
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    now = time.time()
    lineage_rows = [
        (run_id, int(r["__bucket"]), "done", int(r["n_docs"]),
         int(err_by_bucket.get(r["__bucket"], 0)), now)
        for r in per_bucket
    ]
    # buckets with zero docs still count as done
    seen = {r[1] for r in lineage_rows}
    lineage_rows += [(run_id, b, "done", 0, 0, now) for b in pending if b not in seen]

    # rule-level metrics per bucket (the north-rule's "per-partition
    # lineage + rule-level metrics"): same idempotence contract as the
    # violations — dynamic-partition overwrite per bucket, so a redone
    # bucket replaces its own metrics. Tiny: buckets × rules rows.
    metrics = (
        out.groupBy("bucket", "rule_id", "severity")
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("run_id", F.lit(run_id))
        .select("run_id", "rule_id", "severity", "count", "bucket")
    )

    # clear the pending buckets' directories first: dynamic overwrite
    # only replaces partitions PRESENT in the new data, so a redone
    # bucket that now yields zero rows — or a reused checkpoint dir from
    # an earlier run — would otherwise leak stale rows to readers
    _clear_bucket_dirs(spark, ckpt_dir, pending)
    with scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        for frame, sub in ((out, "violations"), (metrics, "metrics")):
            frame.write.mode("overwrite").partitionBy("bucket").parquet(
                os.path.join(ckpt_dir, sub)
            )

    spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA).write.mode("append").parquet(
        os.path.join(ckpt_dir, "lineage")
    )
    return pending


def _clear_bucket_dirs(spark: SparkSession, ckpt_dir: str, buckets: list[int]) -> None:
    """Remove ``violations/bucket=b`` and ``metrics/bucket=b`` for the
    buckets about to be (re)written — via Hadoop's FS API so remote
    checkpoints work. Safe: these buckets are uncommitted for this call
    (their redo is the reason we're here), and readers only see
    committed buckets."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for sub in ("violations", "metrics"):
        for b in buckets:
            p = jvm.org.apache.hadoop.fs.Path(
                os.path.join(ckpt_dir, sub, f"bucket={b}")
            )
            fs = p.getFileSystem(conf)
            if fs.exists(p):
                fs.delete(p, True)


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-explicit read tolerating an all-clean run: a zero-violation
    write under partitionBy emits NO parquet files (only a _SUCCESS
    marker, or nothing at all), so inference fails even though the run
    is valid. Only the legitimately-empty cases read as empty — a
    corrupted checkpoint must raise, not silently report zero
    violations (ADVICE r01: blanket ``except Exception`` here turned
    unreadable checkpoints into empty-but-successful reports)."""
    # probe through Hadoop's FS API: it resolves a scheme-less path
    # against fs.defaultFS exactly as spark.read does (os.path would
    # probe the local disk even when the default FS is HDFS)
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return spark.createDataFrame([], schema)
    it = fs.listFiles(hpath, True)
    has_data = False
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            has_data = True
            break
    if not has_data:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def _committed_buckets(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Buckets whose lineage row exists — the COMMIT POINT of the
    protocol: bucket data is written first, lineage appended after, so
    a crash in between leaves data that no reader may see (it will be
    overwritten on redo). Readers join against this set — the parquet
    emulation of Iceberg's snapshot isolation named by the north star."""
    lineage = _read_or_empty(
        spark, os.path.join(ckpt_dir, "lineage"), LINEAGE_SCHEMA
    )
    return (
        lineage.filter(F.col("status") == "done").select("bucket").distinct()
    )


def read_violations(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Violations of COMMITTED buckets only: a torn write (crash between
    the bucket's data write and its lineage append) is invisible to
    readers — its partial output is excluded here and overwritten when
    the bucket is redone."""
    raw = _read_or_empty(
        spark, os.path.join(ckpt_dir, "violations"), VIOLATIONS_SCHEMA
    )
    return raw.join(
        F.broadcast(_committed_buckets(spark, ckpt_dir)), "bucket", "leftsemi"
    ).drop("bucket")


def read_rule_metrics(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Per-bucket rule-level metrics ``(run_id, bucket, rule_id,
    severity, count)`` of COMMITTED buckets (same isolation as
    ``read_violations``); corpus-level rollup = groupBy(rule_id,
    severity) sum — equals ``report.aggregate_report`` of the resumed
    violations."""
    raw = _read_or_empty(spark, os.path.join(ckpt_dir, "metrics"), METRICS_SCHEMA)
    return raw.join(
        F.broadcast(_committed_buckets(spark, ckpt_dir)), "bucket", "leftsemi"
    )
