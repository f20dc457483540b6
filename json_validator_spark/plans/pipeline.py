"""End-to-end validation run — the Spark lifecycle of SURVEY §3.4.

The reference's per-document loop (``RestValidationController.java:276-289``
``validateMultiple``; CLI loop ``ValidationRunner.java:141-192``) becomes
one set-based run: scan → salted repartition → row rules (one narrow
projection, materialized per doc) → set checks (uniqueness groupBy +
broadcast referential) → one materialized violation stream. Those two
materializations are the only work ``validate_run`` does: the run
metrics are observed while the violation stream is materialized, and
verdicts, partition verdicts and the aggregate are plans over the two
materialized frames, built the first time a caller reads them. So the
rules are evaluated once per run however many reports the caller
writes, and a caller pays only for the reports it reads.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from json_validator_spark.operators import report as rpt
from json_validator_spark.operators import set_checks as sc
from json_validator_spark.operators.row_checks import explode_violations, with_violations
from json_validator_spark.rules.compiler import VIOLATION_FIELD_NAMES
from json_validator_spark.rules.model import RuleSet, RuleSetGroup
from json_validator_spark.session import (
    SHUFFLE_SIZING_CONFS,
    restored_confs,
    size_shuffle_for,
)


def salted_repartition(df: DataFrame, n: int, key: str = "doc_id") -> DataFrame:
    """Explicit skew-spreading repartition (SURVEY §4.3.1).

    Media-heavy documents (100-1000 spans vs a 1-10 median) cluster in
    input FILES; hashing the key scatters them uniformly so no task
    inherits a run of heavy docs (quantified in
    ``tests/test_pipeline.py::test_salted_repartition_balances...``).

    Identical keys deliberately CO-LOCATE: per-bucket uniqueness and
    the checkpoint protocol depend on duplicates landing together, and
    a salt derived from the key itself could never separate them anyway
    (a pure function of equal inputs is equal — an earlier version
    carried such a salt column and it was dead computation).
    Deterministic — a pure function of the key — so N-vs-4N runs see
    identical row→partition *groups* (partition count differs, content
    hashes don't)."""
    return df.repartition(n, F.xxhash64(F.col(key)))


@dataclass
class RunResult:
    """The frames of one ``validate_run``.

    ``per_doc`` ``(doc_id, __pid, violations)`` and ``tagged`` (the
    merged violation stream with its ``__pid``, NULL on set-layer rows)
    are the run's two materialized frames; ``metrics`` is a one-row
    local relation of the values observed while ``tagged`` was
    materialized, so collecting it runs no Spark job. Every other field
    is a plan over ``per_doc`` and ``tagged``, built on first read and
    then kept, so a caller that never reads one never pays for its
    analysis."""

    per_doc: DataFrame
    tagged: DataFrame
    # one-row run metrics (n_violations, n_errors, n_warnings,
    # n_failing_partitions) over the merged stream
    metrics: DataFrame

    @cached_property
    def violations(self) -> DataFrame:
        """(doc_id, span_path, rule_id, severity, message)"""
        return self.tagged.drop("__pid")

    @cached_property
    def doc_verdicts(self) -> DataFrame:
        """(doc_id, n_errors, n_warnings, result) — row rules only"""
        return rpt.doc_verdicts(self.per_doc)

    @cached_property
    def partition_verdicts(self) -> DataFrame:
        """(partition_id, n_docs, n_errors, result) — row rules only"""
        return rpt.partition_rollup(self.per_doc)

    @cached_property
    def aggregate(self) -> DataFrame:
        """(rule_id, severity, count)"""
        return rpt.aggregate_report(self.violations)

    @cached_property
    def doc_verdicts_merged(self) -> DataFrame:
        """Per-doc verdicts over row rules ∪ uniqueness ∪ referential ∪
        plugins — the reference's merged-TAR counter semantics."""
        return rpt.doc_verdicts_merged(self.per_doc, self.violations)


def validate_run(
    spark: SparkSession,
    docs: DataFrame,
    ruleset: RuleSet | RuleSetGroup,
    definitions: dict[str, dict[str, Any]] | None = None,
    media_catalog: DataFrame | None = None,
    doc_id: str = "doc_id",
    repartition_to: int | None = None,
    check_uniqueness: bool = True,
    extra_violations: list[DataFrame] | None = None,
) -> RunResult:
    """The whole engine, one call. Everything row-level happens in a
    single narrow projection; only uniqueness (groupBy) and the report
    aggregates shuffle, and the referential join broadcasts its dimension.

    The rules are evaluated exactly once, before this returns, into two
    frames materialized with ``localCheckpoint(eager=True)``:

    - the per-doc frame ``(doc_id, __pid, violations)``, where ``__pid``
      is the partition the rules ran in;
    - the merged violation stream (row rules ∪ uniqueness ∪ referential
      ∪ extras), carrying ``__pid`` (NULL on set-layer rows).

    The run metrics are observed on the second materialization, so
    ``RunResult.metrics`` is a one-row local relation and reading it
    runs no job; every other ``RunResult`` field is a plan over the two
    frames, built on first read, so writing all of them costs no second
    rule evaluation or corpus scan, and a field nobody reads costs
    nothing.
    A local checkpoint leaves no cache entry to unpersist, but its blocks
    live on the executors and are not recomputed from lineage: losing an
    executor loses them. At a scale where that matters,
    ``plans/checkpoint.run_with_checkpoint`` is the recovery unit — it
    runs this per bucket set and commits each bucket's output.

    ``extra_violations`` is the plugin fan-out hook
    (``JSONValidator.java:193-219``: configured plugin validators run
    after the schema pass and their TAR reports merge into one): each
    DataFrame must carry ``(doc_id, span_path, rule_id, severity,
    message)`` and is unioned into the violation stream, so plugin
    findings flow through verdicts / aggregate / metrics identically to
    built-in rules.

    ``size_shuffle_for`` sizes the shuffles of the two checkpoints only:
    its confs are restored before this returns, set or unset as the
    caller had them, so the derived ``RunResult`` plans run under the
    caller's confs."""

    def _untagged(df: DataFrame) -> DataFrame:
        return df.withColumn("__pid", F.lit(None).cast("int"))

    # Data-proportional wide start for the run's shuffles (uniqueness
    # groupBy inside the merged-stream checkpoint): input_bytes/64MB
    # initial partitions, floored at the session base — see
    # session.size_shuffle_for.
    with restored_confs(spark, *SHUFFLE_SIZING_CONFS):
        size_shuffle_for(spark, docs)
        if repartition_to:
            docs = salted_repartition(docs, repartition_to, key=doc_id)

        per_doc = (
            with_violations(docs, ruleset, definitions)
            .select(
                F.col(doc_id).alias("doc_id"),
                F.spark_partition_id().alias("__pid"),
                "violations",
            )
            .localCheckpoint(eager=True)
        )

        all_viols = [
            explode_violations(
                per_doc, F.col("doc_id").cast("string"), __pid=F.col("__pid")
            )
        ]
        if check_uniqueness:
            all_viols.append(_untagged(sc.uniqueness_violations(docs, key=doc_id)))
        if media_catalog is not None:
            refs = sc.span_media_refs(docs, doc_id=doc_id)
            all_viols.append(
                _untagged(
                    sc.referential_violations(
                        refs, "media_ref", media_catalog, "media_ref",
                        rule_id="ref.media_catalog",
                        span_path=F.col("span_path"),
                    )
                )
            )
        for extra in extra_violations or []:
            all_viols.append(
                _untagged(
                    extra.select(
                        F.col("doc_id").cast("string").alias("doc_id"),
                        *VIOLATION_FIELD_NAMES,
                    )
                )
            )
        tagged = all_viols[0]
        for v in all_viols[1:]:
            tagged = tagged.unionByName(v)
        # Total/error/warning counts plus failing row-rule partitions
        # (distinct __pid among error rows; set-layer rows carry NULL
        # __pid, which collect_set drops, matching partition_verdicts'
        # row-rule scope). Observed metrics refuse DISTINCT aggregates,
        # hence the size of a set. coalesce: F.sum over an EMPTY stream
        # is NULL — a fully clean corpus must report 0 counters, not
        # None. Unnamed, so no name can clash with a caller's frames.
        observed = Observation()
        tagged = tagged.observe(
            observed,
            F.count(F.lit(1)).alias("n_violations"),
            F.coalesce(
                F.sum((F.col("severity") == "error").cast("long")), F.lit(0)
            ).alias("n_errors"),
            F.coalesce(
                F.sum((F.col("severity") == "warning").cast("long")), F.lit(0)
            ).alias("n_warnings"),
            F.size(
                F.collect_set(F.when(F.col("severity") == "error", F.col("__pid")))
            ).alias("n_failing_partitions"),
        ).localCheckpoint(eager=True)

    # a LocalRelation: collecting it runs no job (createDataFrame would
    # be RDD-backed and run one)
    metrics = spark.sql(
        "SELECT * FROM VALUES (CAST(:n_violations AS BIGINT), "
        "CAST(:n_errors AS BIGINT), CAST(:n_warnings AS BIGINT), "
        "CAST(:n_failing_partitions AS BIGINT)) "
        "AS t(n_violations, n_errors, n_warnings, n_failing_partitions)",
        args=observed.get,
    )
    return RunResult(per_doc=per_doc, tagged=tagged, metrics=metrics)
