"""Structured Streaming surface — incremental validation.

The reference is strictly batch-synchronous (no streaming anywhere; see
SURVEY §2.6), so this module is an *extension*: the same compiled rule
layer applied incrementally as new document files/partitions land.
Because the row-rule layer is one narrow projection (zero shuffles),
it streams trivially — each micro-batch is scan → project → sink, and
the rule Columns are compiled ONCE at stream definition.

- ``validate_stream``: ``readStream`` (file source; Iceberg streaming
  read at scale) → violations → ``foreachBatch`` writing each
  micro-batch into its OWN ``batch_id=<id>`` partition with
  dynamic-partition overwrite — a replayed batch (failure between sink
  write and offset commit) overwrites its previous output instead of
  appending a duplicate copy, making the sink exactly-once per batch
  (the streaming sibling of ``plans/checkpoint.py``'s bucket lineage).
- ``windowed_violation_rates``: event-time windowed violation counts
  with a watermark for late data — the streaming analogue of the
  per-partition verdict rollup (``operators/report.partition_verdicts``).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from json_validator_spark.operators.row_checks import explode_violations, with_violations
from json_validator_spark.rules.compiler import severity_count
from json_validator_spark.rules.model import RuleSet
from json_validator_spark.session import scoped_conf


def validate_stream(
    spark: SparkSession,
    input_path: str,
    schema: str,
    ruleset: RuleSet,
    output_path: str,
    checkpoint_path: str,
    doc_id: str = "doc_id",
    definitions: dict[str, dict[str, Any]] | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start an incremental validation stream over a landing directory.

    Each micro-batch: evaluate rules (narrow), explode violations,
    append to ``{output_path}/violations`` tagged with ``batch_id``.
    Restart-safe via the Spark streaming checkpoint; ``availableNow``
    trigger makes it drainable in tests and backfills."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    wv = with_violations(stream, ruleset, definitions)
    viols = explode_violations(wv, F.col(doc_id).cast("string"))

    def sink(batch: DataFrame, batch_id: int) -> None:
        write_batch_idempotent(batch, batch_id, f"{output_path}/violations")

    return (
        viols.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def write_batch_idempotent(batch: DataFrame, batch_id: int, path: str) -> None:
    """Idempotent micro-batch sink: the batch lands in
    ``{path}/batch_id=<id>/`` via dynamic-partition overwrite, so Spark
    re-executing a batch after a restart (foreachBatch is at-least-once)
    REPLACES that batch's previous rows rather than duplicating them —
    the same dynamic-overwrite idempotence trick as
    ``plans/checkpoint.py``'s per-bucket violation writes. Module-level
    so the replay contract is directly unit-testable."""
    spark = batch.sparkSession
    with scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        (
            batch.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(path)
        )


def windowed_violation_rates(
    docs_with_ts: DataFrame,
    ruleset: RuleSet,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed verdict rollup for a *streaming* DataFrame:
    per window, docs seen / docs failed / violation count, tolerating
    late arrivals up to ``watermark``. Works identically on a batch
    frame (drop the watermark) — used that way in tests."""
    wv = with_violations(docs_with_ts, ruleset)
    is_stream = wv.isStreaming
    if is_stream:
        wv = wv.withWatermark(ts_col, watermark)
    n_err = severity_count(F.col("violations"), "error")
    return (
        wv.select(F.col(ts_col), n_err.alias("n_err"))
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_err") > 0).cast("long")).alias("n_failed"),
            F.sum("n_err").alias("n_violations"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_docs", "n_failed", "n_violations",
        )
    )


def windowed_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-event-time-window fixed-edge histogram ``(window_start,
    bucket, count)`` — the streaming half of drift monitoring. Edges
    are fixed by the baseline snapshot (``operators/set_checks.
    histogram``) so every window's histogram is PSI/KS-comparable to
    it; the shuffle carries ≤ windows × n_bins rows after map-side
    combine. Batch frames work identically (watermark skipped)."""
    bucket = F.width_bucket(
        F.col(value_col).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(n_bins)
    )
    src = df
    if df.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.select(F.col(ts_col), bucket.alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy(F.window(ts_col, window).alias("w"), "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
        .select(F.col("w.start").alias("window_start"), "bucket", "count")
    )


def window_drift_scores(
    windowed_hist: DataFrame, baseline_hist: DataFrame, n_bins: int = 20
) -> "list[dict]":
    """PSI + KS of every window against the baseline histogram, sorted by
    ``window_start``: the windowed histogram and the baseline are each
    collected ONCE (tiny — ≤ windows × n_bins rows), then every window
    is scored driver-side by the same functions as ``set_checks.psi`` /
    ``ks_statistic``, so the job count does not depend on the number of
    windows. Call from the sink on each micro-batch or on the batch
    result."""
    from collections import defaultdict

    from json_validator_spark.operators.set_checks import _ks, _normalize, _psi

    p = _normalize(baseline_hist.collect(), n_bins)
    by_window = defaultdict(list)
    for r in windowed_hist.select("window_start", "bucket", "count").collect():
        by_window[r["window_start"]].append(r)
    out: list[dict] = []
    for w, rows in sorted(by_window.items()):
        q = _normalize(rows, n_bins)
        out.append({"window_start": w, "psi": round(_psi(p, q), 6), "ks": round(_ks(p, q), 6)})
    return out
