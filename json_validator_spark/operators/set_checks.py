"""Set-based checks — the north-rule layer on top of per-row keywords.

These generalize the reference's report counters / aggregate rollup
(``JSONValidator.java:447-459,466-481``) to corpus-level invariants:

- ``column_stats``: null-rate / min / max / approx-distinct (HLL) /
  approx quantiles for many columns in ONE ``agg`` pass — the corpus is
  scanned once (SURVEY §4.3.2). Partial (map-side) aggregation means the
  shuffle carries one sketch per partition, not data.
- ``tdigest_quantiles``: mergeable centroid sketch via ``mapInPandas``
  (Arrow-vectorized partial) + a keyed ``applyInPandas`` merge — the
  partial+final pattern; complements the built-in ``percentile_approx``
  (which is a GK sketch) with a true streaming-mergeable digest.
- ``uniqueness_violations``: hash-partitioned groupBy (the groupBy's own
  hash exchange IS the explicit partitioning; AQE splits skewed keys).
- ``referential_violations``: broadcast left_anti against a dimension
  table (the LocalSchemaCache $id→path preload analogue,
  ``LocalSchemaCache.java:62-73`` — small side shipped to every executor).
- drift: fixed-edge histograms shuffled as tiny (bucket,count) rows;
  KS / PSI computed driver-side on the histogram (SURVEY §2.2 drift row).
"""

from __future__ import annotations

import math
from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ----------------------------------------------------------------------
# Single-pass column stats
# ----------------------------------------------------------------------

_NUMERIC = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal", "long"}


def _is_numeric(df: DataFrame, col: str) -> bool:
    t = dict(df.dtypes)[col]
    return t.split("(")[0] in _NUMERIC


def column_stats(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    rsd: float = 0.05,
) -> DataFrame:
    """One row per column: ``(column, n, null_rate, min, max, approx_distinct,
    q (array<double> for numeric cols))`` — all from a single aggregation
    pass (one scan, one tiny shuffle of partial sketches)."""
    columns = list(columns or df.columns)
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs.append(F.avg(F.col(c).isNull().cast("double")).alias(f"nr_{c}"))
        aggs.append(F.min(c).cast("string").alias(f"min_{c}"))
        aggs.append(F.max(c).cast("string").alias(f"max_{c}"))
        aggs.append(F.approx_count_distinct(c, rsd).alias(f"cd_{c}"))
        if _is_numeric(df, c):
            aggs.append(
                F.percentile_approx(F.col(c).cast("double"), list(quantiles)).alias(f"q_{c}")
            )
    wide = df.agg(*aggs)

    per_col = []
    for c in columns:
        q = F.col(f"q_{c}") if _is_numeric(df, c) else F.lit(None).cast("array<double>")
        per_col.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n"),
                F.round(F.col(f"nr_{c}"), 9).alias("null_rate"),
                F.col(f"min_{c}").alias("min"),
                F.col(f"max_{c}").alias("max"),
                F.col(f"cd_{c}").alias("approx_distinct"),
                q.alias("quantiles"),
            )
        )
    return wide.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


def exact_column_stats(
    df: DataFrame, columns: Sequence[str]
) -> DataFrame:
    """Exact variant of ``column_stats`` for numeric columns — count /
    nulls / min / max / exact distinct, one row per column, ONE agg pass.
    Exists alongside the approx version because exactness is what an
    external oracle can reproduce; at 100 TB you run the approx one."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"),
            F.round(F.min(F.col(c).cast("double")), 6).alias(f"min_{c}"),
            F.round(F.max(F.col(c).cast("double")), 6).alias(f"max_{c}"),
            F.count_distinct(F.col(c)).alias(f"cd_{c}"),
        ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n"),
            F.col(f"nn_{c}").alias("n_nulls"),
            F.col(f"min_{c}").alias("min"),
            F.col(f"max_{c}").alias("max"),
            F.col(f"cd_{c}").alias("n_distinct"),
        )
        for c in columns
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


# ----------------------------------------------------------------------
# t-digest-style mergeable quantile sketch
# ----------------------------------------------------------------------

def tdigest_quantiles(
    df: DataFrame,
    col: str,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
    compression: int = 200,
) -> dict[float, float]:
    """Approximate quantiles ``{p: q}`` via a mergeable centroid digest:
    ``grouped_tdigest_quantiles`` over one constant group, so the
    partial (each Arrow batch → ≤``compression`` weighted centroids) and
    the final merge (one keyed ``applyInPandas``) are the grouped
    operator's; only the ``len(probs)`` result rows reach the driver.
    This is the partial+final pattern the built-in sketches use,
    expressed for a custom sketch Spark lacks (SURVEY §4.3.2). NaN per
    prob on empty or all-NULL input."""
    got = {
        r["p"]: r["q"]
        for r in grouped_tdigest_quantiles(
            df.select(F.lit(0).alias("__g1"), col), "__g1", col, probs, compression
        ).collect()
    }
    return {p: got.get(float(p), float("nan")) for p in probs}


# ----------------------------------------------------------------------
# Uniqueness
# ----------------------------------------------------------------------

def uniqueness_violations(df: DataFrame, key: str = "doc_id", rule_id: str | None = None) -> DataFrame:
    """Keys appearing more than once → violation rows. The groupBy's hash
    exchange is the explicit partitioning; at 100 TB pre-aggregate
    (map-side combine) means each duplicate key ships one row per input
    partition, and AQE splits a pathological hot key."""
    rid = rule_id or f"unique.{key}"
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select(
            F.col(key).cast("string").alias("doc_id"),
            F.lit(f"/{key}").alias("span_path"),
            F.lit(rid).alias("rule_id"),
            F.lit("error").alias("severity"),
            F.concat(F.lit("duplicate key (x"), F.col("n").cast("string"), F.lit(")")).alias("message"),
        )
    )


# ----------------------------------------------------------------------
# Referential integrity
# ----------------------------------------------------------------------

def referential_violations(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    rule_id: str,
    doc_id: str = "doc_id",
    span_path: Column | None = None,
) -> DataFrame:
    """Fact keys absent from the dimension → violations, via broadcast
    left_anti: no shuffle of either side. The dimension's key column
    ships once per executor as it is — a left-anti result is the same
    under duplicate dimension keys, and the hashed relation stores them
    anyway, so a ``distinct()`` would only add a shuffle and a job."""
    path = span_path if span_path is not None else F.lit(f"/{fact_key}")
    probe = fact.select(
        F.col(doc_id).cast("string").alias("doc_id"),
        path.alias("span_path"),
        F.col(fact_key).alias("__k"),
    ).filter(F.col("__k").isNotNull())
    missing = probe.join(
        F.broadcast(dim.select(F.col(dim_key).alias("__k"))),
        on="__k",
        how="left_anti",
    )
    return missing.select(
        "doc_id",
        "span_path",
        F.lit(rule_id).alias("rule_id"),
        F.lit("error").alias("severity"),
        F.concat(F.lit("unresolved reference: "), F.col("__k").cast("string")).alias("message"),
    )


def span_media_refs(docs: DataFrame, doc_id: str = "doc_id") -> DataFrame:
    """Explode media spans to (doc_id, span_path, media_ref) for the
    referential check — posexplode keeps the span index for the path.
    Only ``kind`` and ``media_ref`` of each span are zipped and
    exploded, so the scan reads neither span text nor offsets."""
    spans = F.arrays_zip(F.col("spans.kind"), F.col("spans.media_ref"))
    return (
        docs.select(F.col(doc_id).alias("doc_id"), F.posexplode(spans).alias("i", "s"))
        .filter(F.col("s.kind") == "media")
        .select(
            "doc_id",
            F.concat(F.lit("/spans/"), F.col("i").cast("string"), F.lit("/media_ref")).alias("span_path"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )


# ----------------------------------------------------------------------
# Distribution drift — histogram + KS / PSI
# ----------------------------------------------------------------------

def histogram(df: DataFrame, col: Column | str, lo: float, hi: float, n_bins: int = 20) -> DataFrame:
    """Fixed-edge histogram ``(bucket, count)``. Edges are fixed by the
    baseline snapshot so two histograms are comparable; the shuffle
    carries n_bins rows after map-side combine."""
    c = F.col(col) if isinstance(col, str) else col
    bucket = F.width_bucket(c.cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(n_bins))
    return (
        df.select(bucket.alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _normalize(rows, n_bins: int) -> list[float]:
    """Collected ``(bucket, count)`` rows → ``n_bins`` mass fractions."""
    counts = {r["bucket"]: r["count"] for r in rows}
    total = sum(counts.values()) or 1
    # width_bucket returns 0 / n_bins+1 for out-of-range → fold into edge bins
    folded = [0.0] * n_bins
    for b, n in counts.items():
        idx = min(max(int(b) - 1, 0), n_bins - 1)
        folded[idx] += n
    return [x / total for x in folded]


def _psi(p: list[float], q: list[float], eps: float = 1e-6) -> float:
    return float(sum((pi - qi) * math.log((pi + eps) / (qi + eps)) for pi, qi in zip(p, q)))


def _ks(p: list[float], q: list[float]) -> float:
    cp = cq = 0.0
    worst = 0.0
    for pi, qi in zip(p, q):
        cp += pi
        cq += qi
        worst = max(worst, abs(cp - cq))
    return float(worst)


def psi(baseline: DataFrame, current: DataFrame, n_bins: int = 20, eps: float = 1e-6) -> float:
    """Population Stability Index over two fixed-edge histograms; driver-side
    on the tiny results. PSI < 0.1 ⇒ stable, > 0.25 ⇒ drifted."""
    return _psi(
        _normalize(baseline.collect(), n_bins), _normalize(current.collect(), n_bins), eps
    )


def ks_statistic(baseline: DataFrame, current: DataFrame, n_bins: int = 20) -> float:
    """Kolmogorov–Smirnov statistic (max CDF gap) over the bucketed
    distributions — an upper-resolution-limited but mergeable estimate."""
    return _ks(_normalize(baseline.collect(), n_bins), _normalize(current.collect(), n_bins))


def stats_violations(
    df: DataFrame,
    checks: Sequence[dict],
) -> DataFrame:
    """Corpus-level stat thresholds → violation rows — the north rule's
    "per-column stats as checks": each check is
    ``{"column": c, "max_null_rate": x, "min": lo, "max": hi,
    "min_distinct": k}`` (all bounds optional) and a breach emits ONE
    violation row with the corpus as the subject (``doc_id='__corpus__'``),
    flowing through the same report/aggregate layer as row violations.

    One scan: all columns' stats come from a single ``exact``-style agg
    pass (same shape as ``exact_column_stats``); the threshold
    comparison is a driver-side projection over the one-row result —
    nothing here scales with corpus size except the scan itself."""
    # dedupe: two checks on the same column must not emit duplicate
    # aliases (ambiguous-reference error in the threshold projection)
    cols = list(dict.fromkeys(c["column"] for c in checks))
    aggs: list[Column] = []
    for c in cols:
        aggs += [
            F.avg(F.col(c).isNull().cast("double")).alias(f"nr_{c}"),
            F.min(F.col(c).cast("double")).alias(f"min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"max_{c}"),
            F.count_distinct(F.col(c)).alias(f"cd_{c}"),
        ]
    wide = df.agg(*aggs)

    parts: list[Column] = []
    for chk in checks:
        c = chk["column"]

        def viol(cond: Column, kind: str, msg: str) -> Column:
            return F.when(
                cond,
                F.struct(
                    F.lit(f"/{c}").alias("span_path"),
                    F.lit(f"stats.{kind}.{c}").alias("rule_id"),
                    F.lit("error").alias("severity"),
                    F.lit(f"[/{c}] {msg}").alias("message"),
                ),
            )

        if "max_null_rate" in chk:
            parts.append(viol(
                F.col(f"nr_{c}") > chk["max_null_rate"],
                "null_rate", "null rate exceeds the allowed maximum",
            ))
        if "min" in chk:
            parts.append(viol(
                F.col(f"min_{c}") < chk["min"],
                "min", "minimum value below the allowed bound",
            ))
        if "max" in chk:
            parts.append(viol(
                F.col(f"max_{c}") > chk["max"],
                "max", "maximum value above the allowed bound",
            ))
        if "min_distinct" in chk:
            parts.append(viol(
                F.col(f"cd_{c}") < chk["min_distinct"],
                "min_distinct", "distinct-value count below the allowed minimum",
            ))
    return (
        wide.select(F.explode(F.array_compact(F.array(*parts))).alias("v"))
        .select(
            F.lit("__corpus__").alias("doc_id"),
            F.col("v.span_path").alias("span_path"),
            F.col("v.rule_id").alias("rule_id"),
            F.col("v.severity").alias("severity"),
            F.col("v.message").alias("message"),
        )
    )


def drift_violations(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    n_bins: int = 20,
    max_psi: float = 0.25,
    max_ks: float | None = None,
) -> "list[dict]":
    """Distribution-drift thresholds as checks: PSI (and optionally KS)
    between two fixed-edge histograms; breaches return violation dicts
    in the standard row shape (corpus-subject, like
    ``stats_violations``). Histograms are tiny (n_bins rows after
    map-side combine) so the comparison is driver-side by design; each
    is collected once and both statistics read the same vectors."""
    out: list[dict] = []
    p = _normalize(baseline.collect(), n_bins)
    q = _normalize(current.collect(), n_bins)
    if _psi(p, q) > max_psi:
        out.append({
            "doc_id": "__corpus__", "span_path": f"/{column}",
            "rule_id": f"drift.psi.{column}", "severity": "error",
            "message": f"[/{column}] population stability index exceeds the allowed maximum",
        })
    if max_ks is not None and _ks(p, q) > max_ks:
        out.append({
            "doc_id": "__corpus__", "span_path": f"/{column}",
            "rule_id": f"drift.ks.{column}", "severity": "error",
            "message": f"[/{column}] KS statistic exceeds the allowed maximum",
        })
    return out


# ----------------------------------------------------------------------
# Snapshot diff — row-level change detection between corpus versions
# ----------------------------------------------------------------------

def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    hash_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Row-level diff between two corpus snapshots: ``(doc_id, status,
    old_hash, new_hash)`` with status ∈ {added, removed, changed};
    unchanged rows are not emitted. The row-granular complement of the
    distribution-drift checks (``psi``/``ks_statistic``) and the input
    side of incremental validation: re-validate exactly the added ∪
    changed set against the rule layer instead of the whole corpus.

    Content identity is an md5 over PER-COLUMN md5 digests of the
    non-id columns (or ``hash_cols``) — fixed-width components cannot
    shift across column boundaries, so values containing the separator
    can never make a changed row hash unchanged (separator injection);
    NULL gets a non-hex sentinel so NULL ≠ '' ≠ any value. Shape: one
    narrow hash projection per side,
    ONE full-outer hash join on the id — co-partitioned (zero exchange)
    when both snapshots are bucket-stored on the id
    (``sources/tables.write_bucketed``); the emitted frame is
    change-rate-sized. Requires unique ids per snapshot (the
    ``uniqueness_violations`` gate) — duplicate ids would cross-product
    in the join."""
    cols = list(hash_cols) if hash_cols is not None else [
        c for c in old_df.columns if c != id_col
    ]
    missing = [c for c in cols if c not in new_df.columns]
    if missing:
        raise ValueError(f"hash_cols absent from new snapshot: {missing}")

    # unbound column expression — resolves against whichever side's
    # select it lands in
    row_hash = F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.md5(F.col(c).cast("string")), F.lit("\x1e"))
                for c in cols
            ],
        )
    )
    old = old_df.select(F.col(id_col).alias("doc_id"), row_hash.alias("old_hash"))
    new = new_df.select(F.col(id_col).alias("doc_id"), row_hash.alias("new_hash"))
    joined = old.join(new, "doc_id", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
    )
    return (
        joined.select("doc_id", status.alias("status"), "old_hash", "new_hash")
        .filter(F.col("status").isNotNull())
    )


# ----------------------------------------------------------------------
# Robust outliers — exact median/MAD over the value histogram
# ----------------------------------------------------------------------

def exact_median_mad(df: DataFrame, col: str) -> tuple[float, float, int]:
    """Exact ``(median, MAD, n)`` of a numeric column, NULLs excluded —
    ``grouped_median_mad`` over one constant group, so there is one
    implementation of the order statistics and their rounding, and only
    the 1-row result reaches the driver. ``(nan, nan, 0)`` on empty
    input.

    Interpolation is ANSI ``percentile_cont``'s: at even n the two
    middle order statistics interpolate; MAD = median(|x − median|)
    around the ROUNDED median. Both equal DuckDB's
    ``round(median(v), 6)`` bit for bit (same interpolant, same
    rounding: 1.0000015 → 1.000002, where Python's ``round`` gives
    1.000001) as part of the contract, so engine differences cannot leak
    into downstream thresholds (the ``lm_scores`` quantization
    discipline).

    Scale: the shuffle carries one row per DISTINCT value per partition,
    and the single group's window sorts that value histogram in one
    spill-capable task — cheap for a bounded value domain (a 2-decimal
    metric capped at 10^4 has ≤10^6 distinct values at any row count),
    slow but never an OOM at extreme cardinality; truly unbounded
    domains should use ``tdigest_quantiles`` instead."""
    row = grouped_median_mad(df.select(F.lit(0).alias("__g1"), col), "__g1", col).first()
    if row is None:
        return (float("nan"), float("nan"), 0)
    return (row["med"], row["mad"], row["n"])


def robust_outlier_violations(
    df: DataFrame,
    col: str,
    id_col: str = "event_id",
    k: float = 6.0,
    rule_id: str | None = None,
) -> DataFrame:
    """Robust (median/MAD) outlier detection as a set-based check:
    values with ``|x − median| > k·MAD`` become violation rows carrying
    the robust z-score ``|x − median| / MAD`` (rounded to 4 — identical
    arithmetic on the rounded median/MAD contract values on both
    engines, so the oracle reproduces it bit-for-bit). Median/MAD are
    resistant to the very outliers being hunted, unlike mean/stddev
    (``stats_violations``' μ±kσ complement).

    Shape: ``exact_median_mad`` (the single-group form of
    ``grouped_median_mad``) returns the median and MAD as two driver
    constants, then a NARROW filter+projection over the corpus — no
    join back, no window over the corpus; the violation frame is
    outlier-rate-sized. MAD = 0 (≥50% of mass on one value) disables
    the check rather than dividing by zero."""
    rid = rule_id or f"outlier.mad.{col}"
    med, mad, _n = exact_median_mad(df, col)
    out_cols = [
        F.col(id_col).cast("string").alias("doc_id"),
        F.lit(f"/{col}").alias("span_path"),
        F.lit(rid).alias("rule_id"),
        F.lit("warning").alias("severity"),
        F.col(col).cast("double").alias("value"),
    ]
    if _n == 0 or mad == 0.0 or math.isnan(mad):
        return (
            df.select(*out_cols, F.lit(0.0).alias("zscore")).filter(F.lit(False))
        )
    z = F.round(F.abs(F.col(col).cast("double") - F.lit(med)) / F.lit(mad), 4)
    return (
        df.filter(
            F.col(col).isNotNull()
            & (F.abs(F.col(col).cast("double") - F.lit(med)) > F.lit(k * mad))
        )
        .select(*out_cols, z.alias("zscore"))
    )


# ----------------------------------------------------------------------
# Functional-dependency discovery
# ----------------------------------------------------------------------

def fd_violations(
    df: DataFrame,
    determinant: str | Sequence[str],
    dependent: str,
    rule_id: str | None = None,
    severity: str = "warning",
) -> DataFrame:
    """Functional-dependency check ``determinant → dependent``:
    determinant values under which the dependent takes more than one
    distinct value violate the FD (the set-based generalization of the
    reference's per-row ``dependentRequired`` — cross-ROW consistency
    instead of cross-FIELD presence). One violation row per offending
    determinant value, message carrying the distinct/dependent row
    counts (integers — exact across engines).

    Shape: ``groupBy(determinant).agg(countDistinct(dependent))`` —
    Catalyst plans the distinct-agg as two cascaded partial-agg
    exchanges keyed on (det, dep) then (det), so each (det, dep) combo
    ships once per input partition regardless of row count; AQE splits
    a viral determinant. No join, no window. ``determinant`` may be a
    list of columns — a COMPOSITE determinant (the multi-column FDs
    real schemas have); the violation subject is then the
    '|'-joined key tuple."""
    det = [determinant] if isinstance(determinant, str) else list(determinant)
    det_name = ",".join(det)
    rid = rule_id or f"fd.{det_name}->{dependent}"
    subject = (
        F.col(det[0]).cast("string")
        if len(det) == 1
        else F.concat_ws("|", *[F.col(c).cast("string") for c in det])
    )
    return (
        df.groupBy(*det)
        .agg(
            F.countDistinct(dependent).alias("n_distinct"),
            F.count(dependent).alias("n_rows"),
        )
        .filter(F.col("n_distinct") > 1)
        .select(
            subject.alias("doc_id"),
            F.lit(f"/{dependent}").alias("span_path"),
            F.lit(rid).alias("rule_id"),
            F.lit(severity).alias("severity"),
            F.concat(
                F.lit(f"functional dependency {det_name}->{dependent} violated: "),
                F.col("n_distinct").cast("string"),
                F.lit(" distinct values in "),
                F.col("n_rows").cast("string"),
                F.lit(" rows"),
            ).alias("message"),
        )
    )


# ----------------------------------------------------------------------
# Dimensional completeness — missing cells in an expected grid
# ----------------------------------------------------------------------

def completeness_gaps(
    df: DataFrame,
    dims: Sequence[Column | str],
    names: Sequence[str],
    rule_id: str | None = None,
) -> DataFrame:
    """Missing-cell detection: the expected universe is the cross
    product of each dimension's OBSERVED distinct values; cells absent
    from the observed (dim₁, …, dimₙ) combinations are gaps — e.g. an
    event type that went silent for an hour, a partition that never
    arrived. One violation row per missing cell.

    Shape: per-dim ``distinct()`` partial-aggregates to tiny frames;
    the universe is a chain of broadcast-sized cross joins (|A|·|B|·…
    rows — caller picks dims whose product is small, it IS the report
    size); observed combinations partial-agg to ≤ that same size; ONE
    broadcast left_anti ships the observed cells, never the corpus."""
    if len(dims) < 2 or len(dims) != len(names):
        raise ValueError("need ≥2 dims and one name per dim")
    rid = rule_id or f"complete.{'x'.join(names)}"
    cols = [
        (F.col(d) if isinstance(d, str) else d).alias(nm)
        for d, nm in zip(dims, names)
    ]
    proj = df.select(*cols)
    universe = proj.select(names[0]).distinct()
    for nm in names[1:]:
        universe = universe.crossJoin(proj.select(nm).distinct())
    observed = proj.distinct()
    gaps = universe.join(F.broadcast(observed), list(names), "left_anti")
    return gaps.select(
        *[F.col(nm).cast("string").alias(nm) for nm in names],
        F.lit(rid).alias("rule_id"),
        F.lit("warning").alias("severity"),
        F.lit("expected cell missing from corpus").alias("message"),
    )


# ----------------------------------------------------------------------
# Grouped robust outliers — distributed exact median/MAD per group
# ----------------------------------------------------------------------

def _grouped_wmedian(vc: DataFrame, out_name: str) -> DataFrame:
    """Weighted interpolated median per group over a value histogram
    ``(g, __v, __c)`` — the one implementation of the order statistics
    behind ``grouped_median_mad`` and ``exact_median_mad``; nothing
    histogram-sized reaches the driver.

    Per group: window cumsums give each distinct value its start rank
    and the group total; the rows covering ranks floor/ceil((n−1)/2)
    are flagged and a conditional agg picks them out; interpolation
    is ANSI percentile_cont's, written as DuckDB computes it. Shape:
    one exchange to key the histogram, one window over it
    (group-partitioned — never global), and a final agg that reuses the
    window's partitioning (subset-keyed ClusteredDistribution, zero
    extra exchange). Everything after the first groupBy is
    histogram-sized."""
    from pyspark.sql import Window as W

    part = W.partitionBy("g").orderBy("__v")
    cum = F.sum("__c").over(part.rowsBetween(W.unboundedPreceding, W.currentRow))
    total = F.sum("__c").over(
        W.partitionBy("g").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    ranked = vc.select(
        "g", "__v", "__c",
        (cum - F.col("__c")).alias("__start"),
        total.alias("__n"),
    )
    pos = (F.col("__n") - 1) / 2.0
    lo_rank = F.floor(pos)
    hi_rank = F.ceil(pos)
    covers = lambda r: (F.col("__start") <= r) & (r < F.col("__start") + F.col("__c"))
    # DuckDB's interpolant and round(x, 6) — half away from zero of
    # x·10^6 on the binary value — op for op: at a 7th-decimal tie the
    # last ulp decides, and Spark's round(x, 6) rounds the shortest
    # decimal form instead, which disagrees on ~1% of such ties.
    frac = F.col("__frac")
    interp = F.col("__vlo") * (1.0 - frac) + F.col("__vhi") * frac
    return (
        ranked.withColumn("__frac", pos - lo_rank)
        .groupBy("g")
        .agg(
            F.max(F.when(covers(lo_rank), F.col("__v"))).alias("__vlo"),
            F.max(F.when(covers(hi_rank), F.col("__v"))).alias("__vhi"),
            F.max("__frac").alias("__frac"),
            F.max("__n").alias("__n"),
        )
        .select(
            "g",
            (F.round(interp * 1e6) / 1e6).alias(out_name),
            F.col("__n").alias(f"{out_name}_n"),
        )
    )


def grouped_median_mad(df: DataFrame, group_col: str, col: str) -> DataFrame:
    """Exact ``(group, med, mad, n)`` per group — two cascaded
    ``_grouped_wmedian`` passes (values, then |v − med| deviations),
    joined on the group key. All exchanges carry histogram-sized rows;
    the med↔histogram join keys both sides on the group so AQE plans a
    co-partitioned (or broadcast, when groups are few) join. Median and
    MAD are rounded to 6 as the cross-engine contract (see
    ``exact_median_mad``, which is this over one constant group)."""
    vc = (
        df.filter(F.col(col).isNotNull())
        .groupBy(
            F.col(group_col).alias("g"),
            F.col(col).cast("double").alias("__v"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    med = _grouped_wmedian(vc, "med")
    dev = (
        vc.join(med, "g")
        .groupBy("g", F.abs(F.col("__v") - F.col("med")).alias("__v"))
        .agg(F.sum("__c").alias("__c"))
    )
    mad = _grouped_wmedian(dev, "mad")
    return (
        med.join(mad.select("g", "mad"), "g")
        .select(
            F.col("g").alias(group_col),
            "med",
            "mad",
            F.col("med_n").alias("n"),
        )
    )


def grouped_outlier_violations(
    df: DataFrame,
    group_col: str,
    col: str,
    id_col: str = "event_id",
    k: float = 6.0,
    rule_id: str | None = None,
) -> DataFrame:
    """Per-GROUP robust outliers: ``|x − med_g| > k·MAD_g`` using each
    group's own median/MAD — a global threshold would drown a quiet
    group's anomalies in a loud group's spread. Fully distributed (no
    driver constants, unlike ``robust_outlier_violations``): the
    per-group stats join back on the group key (broadcast when the
    group count is small, co-partitioned otherwise). Groups with
    MAD = 0 are skipped, same contract as the ungrouped form."""
    rid = rule_id or f"outlier.mad.{group_col}.{col}"
    stats = grouped_median_mad(df, group_col, col).filter(F.col("mad") > 0.0)
    x = F.col(col).cast("double")
    return (
        df.filter(F.col(col).isNotNull())
        .join(stats, group_col)
        .filter(F.abs(x - F.col("med")) > k * F.col("mad"))
        .select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.lit(f"/{col}").alias("span_path"),
            F.lit(rid).alias("rule_id"),
            F.lit("warning").alias("severity"),
            F.col(group_col).cast("string").alias("group_key"),
            x.alias("value"),
            F.round(F.abs(x - F.col("med")) / F.col("mad"), 4).alias("zscore"),
        )
    )


# ----------------------------------------------------------------------
# Benford first-digit distribution check
# ----------------------------------------------------------------------

def benford_check(
    df: DataFrame,
    col: str,
    tol: float = 0.02,
    rule_id: str | None = None,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law: one row
    per digit 1-9 with the observed frequency, the expected
    ``log10(1 + 1/d)``, and a ``flagged`` bit when the absolute
    deviation exceeds ``tol`` — the classic fabricated-/synthetic-data
    smell test for naturally occurring magnitudes.

    The digit comes from the value's STRING form (first [1-9] char) —
    robust to scientific notation (the mantissa leads with the first
    significant digit) where ``floor(x / 10^floor(log10 x))`` corrupts
    exact powers of ten through libm rounding. Shape: narrow projection
    → 9-row partial-agg groupBy; frequencies and expectations rounded
    to 6 before comparison (cross-engine contract)."""
    rid = rule_id or f"benford.{col}"
    from pyspark.sql import Window as W

    digit = F.regexp_extract(F.col(col).cast("string"), "[1-9]", 0)
    per_digit = (
        df.filter(F.col(col).isNotNull() & (digit != ""))
        .groupBy(digit.cast("int").alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the windowed grand total runs on the 9-row aggregate, not the corpus
    withtot = per_digit.withColumn(
        "__total", F.sum("n").over(W.partitionBy())
    )
    freq = F.round(F.col("n") / F.col("__total"), 6)
    expected = F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
    return withtot.select(
        "digit",
        "n",
        freq.alias("freq"),
        expected.alias("expected"),
        F.round(F.abs(freq - expected), 6).alias("deviation"),
        (F.round(F.abs(freq - expected), 6) > F.lit(tol)).alias("flagged"),
        F.lit(rid).alias("rule_id"),
    )


def _two_sample_counts(df: DataFrame, is_baseline: Column, **keys: Column) -> DataFrame:
    """``(keys…, nb, nc)``: ONE partial-agg groupBy on the keys that
    splits each cell's rows by the ``is_baseline`` flag into baseline
    and current counts — the only corpus-sized exchange of every
    two-sample drift test."""
    return (
        df.select(
            *[c.alias(k) for k, c in keys.items()],
            is_baseline.cast("int").alias("base"),
        )
        .groupBy(*keys)
        .agg(
            F.sum("base").alias("nb"),
            F.sum(1 - F.col("base")).alias("nc"),
        )
    )


def grouped_drift_psi(
    df: DataFrame,
    segment_col: str,
    bucket: Column,
    is_baseline: Column,
    eps: float = 1e-6,
    threshold: float = 0.25,
) -> DataFrame:
    """Per-SEGMENT Population Stability Index — global ``psi`` says THAT
    the corpus drifted, this says WHERE: each segment's baseline/current
    histograms are compared independently, so a drift confined to one
    event type / source / shard cannot hide inside a stable aggregate.
    ``(segment, n_base, n_cur, psi, drifted)``, one row per segment.

    Fully distributed (unlike the driver-side ``psi``, which collects
    two tiny global histograms): ONE scan splits rows by the
    ``is_baseline`` flag into both histograms of a shared
    (segment, bucket) groupBy — the only corpus-sized exchange; segment
    totals ride windows over the histogram frame; (segment, bucket)
    cells absent from BOTH sides contribute exactly 0 to PSI, so the
    sparse outer-join grid never needs generating. Terms are rounded to
    6 before the per-segment sum (cross-engine ``ln`` contract)."""
    from pyspark.sql import Window as W

    counts = _two_sample_counts(
        df, is_baseline, segment=F.col(segment_col), bucket=bucket
    )
    seg = W.partitionBy("segment")
    withtot = counts.select(
        "segment", "nb", "nc",
        F.sum("nb").over(seg).alias("tb"),
        F.sum("nc").over(seg).alias("tc"),
    )
    p = F.col("nb") / F.col("tb")
    q = F.col("nc") / F.col("tc")
    term = F.round((p - q) * F.log((p + eps) / (q + eps)), 6)
    # segments present on only one side are a NEW/VANISHED-segment
    # condition (completeness_gaps territory), not a distribution shift
    # — excluded rather than emitting a division artifact
    return (
        withtot.filter((F.col("tb") > 0) & (F.col("tc") > 0))
        .groupBy("segment")
        .agg(
            F.max("tb").alias("n_base"),
            F.max("tc").alias("n_cur"),
            F.round(F.sum(term), 6).alias("psi"),
        )
        .withColumn("drifted", F.col("psi") > threshold)
    )


def grouped_tdigest_quantiles(
    df: DataFrame,
    group_col: str,
    col: str,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
    compression: int = 200,
) -> DataFrame:
    """Per-GROUP approximate quantiles via mergeable centroid digests —
    ``tdigest_quantiles`` is this over one constant group, with no
    centroid ever reaching the driver: partials collapse each Arrow batch's
    per-group values to ≤``compression`` weighted centroids inside
    ``mapInPandas``; the final merge is ``applyInPandas`` keyed on the
    group (ONE centroid-sized shuffle), so the group count is unbounded
    — 10^6 groups never touch the driver. Returns ``(group, p, q)``,
    one row per group × prob.

    Accuracy contract is the ``tdigest`` one: merge-order-invariant
    (centroids re-sorted before interpolation), sketch lands within the
    stated tolerance of the exact quantile regardless of partitioning."""
    import numpy as np

    gname, vname = "__g", "__v"
    prob_list = [float(p) for p in probs]

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            frames = []
            for g, sub in b.groupby(gname, dropna=False):
                v = sub[vname].dropna().to_numpy(dtype="float64")
                if not len(v):
                    continue
                v = np.sort(v)
                k = min(compression, len(v))
                splits = np.array_split(v, k)
                frames.append(
                    pd.DataFrame(
                        {
                            gname: g,
                            "mean": [float(s.mean()) for s in splits],
                            "weight": [float(len(s)) for s in splits],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        means = pdf["mean"].to_numpy(dtype="float64")
        weights = pdf["weight"].to_numpy(dtype="float64")
        order = np.argsort(means)
        means, weights = means[order], weights[order]
        cum = np.cumsum(weights) - weights / 2.0
        total = weights.sum()
        return pd.DataFrame(
            {
                gname: pdf[gname].iloc[0],
                "p": prob_list,
                "q": [float(np.interp(p * total, cum, means)) for p in prob_list],
            }
        )

    cent = df.select(
        F.col(group_col).cast("string").alias(gname),
        F.col(col).cast("double").alias(vname),
    ).mapInPandas(partial, schema=f"{gname} string, mean double, weight double")
    out = cent.groupBy(gname).applyInPandas(
        merge, schema=f"{gname} string, p double, q double"
    )
    return out.select(F.col(gname).alias(group_col), "p", "q")


def value_ranks(
    df: DataFrame,
    col: str,
    id_col: str = "doc_id",
    max_distinct: int = 1_000_000,
    n_shards: int = 256,
) -> DataFrame:
    """Exact global rank and percent_rank of every row by ``col`` —
    score normalization (quality score → corpus percentile) WITHOUT a
    global row sort: ``Window.orderBy(col)`` over the corpus would
    single-task 10^12 rows; instead the cumulative count over the
    VALUE HISTOGRAM (bounded by the value domain, the
    ``exact_median_mad`` precondition) gives every distinct value its
    min-rank, joined back to the rows. Tie semantics = SQL ``rank()``:
    equal values share the rank ``(# strictly smaller) + 1``;
    ``pct = (rank − 1) / (n − 1)`` (``percent_rank``), rounded to 6.

    Shape: one corpus-sized histogram groupBy; the single-partition
    window runs over the HISTOGRAM (distinct-value-sized, never the
    corpus); the rank join keys on the value — broadcast when the
    domain is small. NULL values pass through with NULL rank.

    CARDINALITY GUARD: above ``max_distinct`` (probed with
    ``approx_count_distinct`` — a raw-float column makes the histogram
    corpus-sized, and a single-task window over it is the 100×-scale
    cliff) the rank reroutes through a SHARDED histogram: driver-
    constant shard boundaries from ``percentile_approx`` split the
    value domain into ``n_shards`` contiguous ranges, each shard ranks
    locally under its own window partition, and the per-shard offsets
    come from a window over the shard-total frame (≤ ``n_shards`` rows).
    Ranks are exact integers either way — results never depend on which
    path ran, and nothing domain-sized touches the driver or any single
    task."""
    from pyspark.sql import Window as W

    v = F.col(col).cast("double")
    hist = (
        df.filter(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    approx_nd = df.agg(F.approx_count_distinct(v)).first()[0] or 0
    if approx_nd > max_distinct:
        ranked = _sharded_hist_ranks(df, hist, v, n_shards)
    else:
        w = W.orderBy("__v").rowsBetween(W.unboundedPreceding, W.currentRow)
        ranked = hist.select(
            "__v",
            (F.sum("__c").over(w) - F.col("__c") + 1).alias("rank"),
            F.sum("__c").over(
                W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            ).alias("__n"),
        )
    out = df.select(F.col(id_col), v.alias("__v")).join(
        ranked, "__v", "left"
    )
    pct = F.when(F.col("rank").isNull(), F.lit(None).cast("double")).when(
        F.col("__n") > 1,
        F.round((F.col("rank") - 1) / (F.col("__n") - 1).cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        F.col("__v").alias(col),
        "rank",
        pct.alias("pct"),
    )


def _sharded_hist_ranks(
    df: DataFrame, hist: DataFrame, v, n_shards: int
) -> DataFrame:
    """Distributed exact min-rank per distinct value for UNBOUNDED
    domains — the scale path of ``value_ranks``. Shard boundaries are
    ``percentile_approx`` quantiles of the raw column (n_shards-1
    driver constants — bounded; they only steer load balance, never the
    arithmetic, so approx is fine). Each shard's window partition
    cumsums locally; global offsets come from a second window over the
    shard totals (≤ n_shards rows, trivially single-partition). Same
    md5-prefix-sharding shape as ``packing.global_shuffle``
    (packing.py), applied to order statistics."""
    from pyspark.sql import Window as W

    qs = [i / n_shards for i in range(1, n_shards)]
    bounds = df.filter(v.isNotNull()).agg(
        F.percentile_approx(v, qs, 10_000).alias("b")
    ).first()["b"] or []
    # strictly increasing boundary set (percentile_approx repeats values
    # on skewed data; equal values must share a shard)
    uniq: list[float] = []
    for b in bounds:
        if not uniq or b > uniq[-1]:
            uniq.append(b)
    shard = F.lit(0)
    for b in uniq:
        shard = shard + F.when(F.col("__v") >= F.lit(float(b)), 1).otherwise(0)
    sharded = hist.withColumn("__shard", shard)
    local = W.partitionBy("__shard").orderBy("__v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    with_local = sharded.select(
        "__v", "__c", "__shard",
        (F.sum("__c").over(local) - F.col("__c")).alias("__before_local"),
    )
    totals = sharded.groupBy("__shard").agg(F.sum("__c").alias("__t"))
    off_w = W.orderBy("__shard").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = totals.select(
        "__shard",
        (F.sum("__t").over(off_w) - F.col("__t")).alias("__offset"),
        F.sum("__t").over(
            W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("__n"),
    )
    return with_local.join(F.broadcast(offsets), "__shard").select(
        "__v",
        (F.col("__offset") + F.col("__before_local") + 1).alias("rank"),
        "__n",
    )


def correlation_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns in ONE
    aggregation pass — redundant-feature / collinearity detection
    (|r| ≈ 1 means one column is a linear alias of another; the
    numeric sibling of ``fd_violations``' categorical dependency and
    ``info.mutual_information``'s nonlinear one). One row per unordered
    pair: ``(col_a, col_b, n, corr)``; corr is rounded to 4 as the
    cross-engine contract (both engines use one-pass co-moments that
    agree to ~1e-15).

    Shape: a single ``agg`` with k·(k−1)/2 ``corr`` expressions —
    partial (map-side) co-moments, one 1-row result; the corpus is
    scanned once regardless of the pair count."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for a, b in pairs:
        aggs.append(
            F.round(
                F.corr(F.col(a).cast("double"), F.col(b).cast("double")), 4
            ).alias(f"__c_{a}__{b}")
        )
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col("__n").alias("n"),
                F.col(f"__c_{a}__{b}").alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return one.select(F.explode(rows).alias("r")).select(
        "r.col_a", "r.col_b", "r.n", "r.corr"
    )


def key_skew_stats(df: DataFrame, key: str) -> DataFrame:
    """Shuffle-key skew diagnostics, one row: ``(key_col, n_rows,
    n_keys, max_n, mean_n, p99_n, skew_factor)`` where ``skew_factor =
    max_n / mean_n`` — the number that decides whether a join/groupBy
    on this key needs salting or AQE skew handling BEFORE the job runs
    (north-rule skew discipline as a measurable check, not folklore).
    skew_factor ≈ 1 means uniform; ≫ 10 means a hot key will serialize
    its reducer.

    Shape: one partial-agg groupBy builds the per-key histogram (the
    only corpus-sized exchange); the summary aggregates the key-count
    frame. p99 is the exact percentile of the per-key counts —
    key-count-sized input, so exactness is affordable here."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
    return counts.agg(
        F.lit(key).alias("key_col"),
        F.sum("__n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__n").alias("max_n"),
        F.round(F.avg("__n"), 4).alias("mean_n"),
        F.round(F.percentile(F.col("__n").cast("double"), F.lit(0.99)), 4).alias(
            "p99_n"
        ),
        F.round(F.max("__n") / F.avg("__n"), 4).alias("skew_factor"),
    )


def grouped_drift_ks(
    df: DataFrame,
    segment_col: str,
    bucket: Column,
    is_baseline: Column,
    threshold: float = 0.1,
) -> DataFrame:
    """Per-segment Kolmogorov–Smirnov statistic (max CDF gap at bucket
    resolution) between the baseline/current halves — the rank-based
    companion of ``grouped_drift_psi`` (PSI weighs mass ratios, KS
    catches location shifts PSI's log-ratio can understate at coarse
    bins). ``(segment, n_base, n_cur, ks, drifted)``, one row per
    two-sided segment.

    Shape: the same single-scan shared (segment, bucket) groupBy;
    per-segment CDFs are cumulative-sum windows ORDERED BY BUCKET over
    the histogram frame; the max-gap agg reuses the window's segment
    partitioning (zero extra exchange). The cumulative gap is exact at
    every observed bucket even though absent-on-both-sides buckets are
    never generated (the CDF gap is constant across them)."""
    from pyspark.sql import Window as W

    counts = _two_sample_counts(
        df, is_baseline, segment=F.col(segment_col), bucket=bucket
    )
    seg = W.partitionBy("segment")
    cum = W.partitionBy("segment").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    withcdf = counts.select(
        "segment",
        F.sum("nb").over(seg).alias("tb"),
        F.sum("nc").over(seg).alias("tc"),
        F.sum("nb").over(cum).alias("cb"),
        F.sum("nc").over(cum).alias("cc"),
    )
    gap = F.round(
        F.abs(
            F.col("cb") / F.col("tb") - F.col("cc") / F.col("tc")
        ),
        6,
    )
    return (
        withcdf.filter((F.col("tb") > 0) & (F.col("tc") > 0))
        .groupBy("segment")
        .agg(
            F.max("tb").alias("n_base"),
            F.max("tc").alias("n_cur"),
            F.max(gap).alias("ks"),
        )
        .withColumn("drifted", F.col("ks") > threshold)
    )


def categorical_drift_chi2(
    df: DataFrame,
    cat_col: str,
    is_baseline: Column,
    threshold: float = 30.0,
) -> DataFrame:
    """Two-sample chi-square homogeneity test on a CATEGORICAL column —
    the drift family's member for unordered domains where binned
    PSI/KS don't apply (event types, sources, languages): did the
    category mix shift between the baseline and current halves? One
    row: ``(col, n_base, n_cur, n_categories, chi2, dof, drifted)``
    with the textbook expected counts ``e = row_total · col_total /
    grand`` and ``chi2 = Σ (o − e)²/e`` over both samples (rounded
    terms, the cross-engine float contract); ``dof = n_categories − 1``.

    Shape: one partial-agg groupBy on the category (the only
    corpus-sized exchange) splits counts by the flag; grand/sample
    totals ride windows over the category frame; NULL is its own
    category."""
    from pyspark.sql import Window as W

    counts = _two_sample_counts(
        df, is_baseline,
        cat=F.coalesce(F.col(cat_col).cast("string"), F.lit("\x00null")),
    )
    all_w = W.partitionBy()
    cells = counts.select(
        "nb", "nc",
        F.sum("nb").over(all_w).alias("tb"),
        F.sum("nc").over(all_w).alias("tc"),
    ).withColumn("grand", F.col("tb") + F.col("tc"))
    # double-first arithmetic: long*long row_tot*tb overflows once
    # category and sample totals both approach 2^31-scale counts
    row_tot = (F.col("nb") + F.col("nc")).cast("double")
    eb = row_tot * F.col("tb").cast("double") / F.col("grand").cast("double")
    ec = row_tot * F.col("tc").cast("double") / F.col("grand").cast("double")
    term = F.round(
        (F.col("nb") - eb) * (F.col("nb") - eb) / eb
        + (F.col("nc") - ec) * (F.col("nc") - ec) / ec,
        6,
    )
    return (
        cells.agg(
            F.lit(cat_col).alias("col"),
            F.max("tb").alias("n_base"),
            F.max("tc").alias("n_cur"),
            F.count(F.lit(1)).alias("n_categories"),
            F.round(F.sum(term), 4).alias("chi2"),
        )
        .withColumn("dof", F.col("n_categories") - 1)
        .withColumn("drifted", F.col("chi2") > threshold)
        # two-sided guard (grouped_drift_psi/ks discipline): a one-sided
        # sample (all baseline or all current) has zero expected counts
        # → chi2 undefined; emit no row instead of NULL/NaN
        .filter((F.col("n_base") > 0) & (F.col("n_cur") > 0))
    )
