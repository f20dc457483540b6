"""End-to-end validation run — the Spark lifecycle of SURVEY §3.4.

The reference's per-document loop (``RestValidationController.java:276-289``
``validateMultiple``; CLI loop ``ValidationRunner.java:141-192``) becomes
ONE DataFrame pass: scan → salted repartition → row rules (narrow) →
set checks (uniqueness groupBy + broadcast referential)
→ union violations → verdicts/aggregate/metrics.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_validator_spark.operators import report as rpt
from json_validator_spark.operators import set_checks as sc
from json_validator_spark.operators.row_checks import explode_violations, with_violations
from json_validator_spark.rules.compiler import VIOLATION_FIELD_NAMES
from json_validator_spark.rules.model import RuleSet, RuleSetGroup
from json_validator_spark.session import size_shuffle_for


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
    violations: DataFrame      # (doc_id, span_path, rule_id, severity, message)
    doc_verdicts: DataFrame    # (doc_id, n_errors, n_warnings, result) — row rules only, no join
    partition_verdicts: DataFrame
    aggregate: DataFrame       # (rule_id, severity, count)
    # row rules ∪ uniqueness ∪ referential ∪ plugins — the reference's
    # merged-TAR counter semantics (lazy; costs a join only if used)
    doc_verdicts_merged: DataFrame | None = None
    # ONE-ACTION run metrics: (n_violations, n_errors, n_warnings,
    # n_failing_partitions) over the merged stream. Collecting this is
    # ONE evaluation of the whole pipeline; collecting violations.count()
    # and a partition_verdicts action separately evaluates the rule
    # projection once per action (Spark shares no work between actions
    # without an explicit persist, which costs more than it saves here —
    # measured: 7.2s two-action vs 4.0s single-action on a 1M-doc corpus).
    metrics: DataFrame | None = None


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

    ``extra_violations`` is the plugin fan-out hook
    (``JSONValidator.java:193-219``: configured plugin validators run
    after the schema pass and their TAR reports merge into one): each
    DataFrame must carry ``(doc_id, span_path, rule_id, severity,
    message)`` and is unioned into the violation stream, so plugin
    findings flow through verdicts / aggregate / metrics identically to
    built-in rules."""
    # Data-proportional wide start for the run's shuffles (uniqueness
    # groupBy, report aggs): input_bytes/64MB initial partitions, floored
    # at the session base — see session.size_shuffle_for.
    size_shuffle_for(spark, docs)
    if repartition_to:
        docs = salted_repartition(docs, repartition_to, key=doc_id)

    wv = with_violations(docs, ruleset, definitions)
    # __pid rides along so `metrics` can count failing partitions from
    # the SAME subtree (same partition ids partition_verdicts sees).
    row_viols_tagged = explode_violations(
        wv, F.col(doc_id).cast("string"), __pid=F.spark_partition_id()
    )

    def _untagged(df: DataFrame) -> DataFrame:
        return df.withColumn("__pid", F.lit(None).cast("int"))

    all_viols = [row_viols_tagged]
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
    violations = tagged.drop("__pid")

    # One global agg over the merged stream: total/error/warning counts
    # plus failing row-rule partitions (distinct __pid among error rows;
    # set-layer rows carry NULL __pid and are excluded, matching
    # partition_verdicts' row-rule scope). Collect = one pipeline pass.
    # coalesce: F.sum over an EMPTY stream is NULL — a fully clean corpus
    # must report 0 counters, not None
    metrics = tagged.agg(
        F.count(F.lit(1)).alias("n_violations"),
        F.coalesce(
            F.sum((F.col("severity") == "error").cast("long")), F.lit(0)
        ).alias("n_errors"),
        F.coalesce(
            F.sum((F.col("severity") == "warning").cast("long")), F.lit(0)
        ).alias("n_warnings"),
        F.count_distinct(
            F.when(F.col("severity") == "error", F.col("__pid"))
        ).alias("n_failing_partitions"),
    )

    return RunResult(
        violations=violations,
        doc_verdicts=rpt.doc_verdicts(wv, doc_id=doc_id),
        partition_verdicts=rpt.partition_verdicts(wv),
        aggregate=rpt.aggregate_report(violations),
        doc_verdicts_merged=rpt.doc_verdicts_merged(docs, violations, doc_id=doc_id),
        metrics=metrics,
    )
