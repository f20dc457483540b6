"""Set-based checks: stats, t-digest, uniqueness, referential, drift."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from json_validator_spark.operators import set_checks as sc
from json_validator_spark.sources.synth import synth_documents, synth_media_catalog
from tests.conftest import job_count, rows_set


def _duckdb_median_mad(groups):
    """Independent reference: DuckDB ``round(median(v), 6)`` and the MAD
    around that rounded median, per group → ``{g: (med, mad, n)}``."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INTEGER, v DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(g, v) for g, vals in groups.items() for v in vals]
    )
    return {
        g: (med, mad, n)
        for g, med, mad, n in con.execute(
            """
            WITH m AS (SELECT g, round(median(v), 6) AS med, count(*) AS n FROM t GROUP BY g)
            SELECT g, med, round(median(abs(v - med)), 6), n FROM t JOIN m USING (g)
            GROUP BY g, med, n
            """
        ).fetchall()
    }


def test_column_stats_single_pass(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, 10.0, "b"), (3, 20.0, None), (4, 30.0, "a")],
        "id int, x double, s string",
    )
    stats = {r["column"]: r for r in sc.column_stats(df, ["x", "s"]).collect()}
    assert stats["x"]["n"] == 4
    assert abs(stats["x"]["null_rate"] - 0.25) < 1e-9
    assert float(stats["x"]["min"]) == 10.0 and float(stats["x"]["max"]) == 30.0
    assert stats["x"]["quantiles"] is not None
    assert stats["s"]["approx_distinct"] == 2
    assert stats["s"]["quantiles"] is None


def test_tdigest_quantiles_matches_exact(spark):
    df = spark.range(0, 10_001).select(F.col("id").cast("double").alias("v"))
    q = sc.tdigest_quantiles(df, "v", probs=(0.5, 0.9))
    assert abs(q[0.5] - 5000) < 100
    assert abs(q[0.9] - 9000) < 100
    empty = sc.tdigest_quantiles(df.filter("v < 0"), "v", probs=(0.5, 0.9))
    assert list(empty) == [0.5, 0.9] and all(math.isnan(x) for x in empty.values())


def test_uniqueness(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("a",), ("c",), ("a",)], "doc_id string"
    )
    got = rows_set(sc.uniqueness_violations(df), "doc_id", "rule_id")
    assert got == {("a", "unique.doc_id")}


def test_referential_broadcast_anti(spark):
    fact = spark.createDataFrame(
        [("d1", "k1"), ("d2", "k2"), ("d3", None), ("d4", "k3")], "doc_id string, k string"
    )
    # duplicate dimension keys leave a left-anti result unchanged
    dim = spark.createDataFrame([("k1",), ("k3",), ("k1",), (None,)], "k string")
    v = sc.referential_violations(fact, "k", dim, "k", rule_id="ref.k")
    assert rows_set(v, "doc_id", "rule_id") == {("d2", "ref.k")}
    # the plan broadcasts the dimension side, and shuffles neither side
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the build side is the join's last child, so its subtree ends the plan
    assert "Exchange" not in plan.split("BroadcastExchange", 1)[1], plan


def test_span_media_refs_reads_no_span_text(spark, tmp_path):
    """The referential branch reads only each span's ``kind`` and
    ``media_ref``, and yields the rows of a posexplode of whole spans,
    NULL ``spans`` and NULL span elements included."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, [("text", "hello", 0, None), ("media", "", 5, "media://a"), ("media", "x", 6, None)]),
            (2, None),
            (3, [None, ("media", "y", 0, "media://b")]),
            (4, []),
            (5, [("text", "z", 0, "media://c")]),
        ],
        "doc_id long, spans array<struct<kind string, text string, offset int, media_ref string>>",
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    refs = sc.span_media_refs(docs)
    plan = refs._jdf.queryExecution().executedPlan().toString()
    read_schema = [line[line.index("ReadSchema"):] for line in plan.splitlines() if "ReadSchema" in line]
    assert read_schema == ["ReadSchema: struct<doc_id:bigint,spans:array<struct<kind:string,media_ref:string>>>"]
    whole = (
        docs.select("doc_id", F.posexplode("spans").alias("i", "s"))
        .filter(F.col("s.kind") == "media")
        .select(
            "doc_id",
            F.concat(F.lit("/spans/"), F.col("i").cast("string"), F.lit("/media_ref")),
            F.col("s.media_ref"),
        )
    )
    got = sorted(map(tuple, refs.collect()))
    assert got == sorted(map(tuple, whole.collect()))
    assert got == [(1, "/spans/1/media_ref", "media://a"), (1, "/spans/2/media_ref", None),
                   (3, "/spans/1/media_ref", "media://b")]


def test_span_media_refs_and_catalog_coverage(spark):
    docs = synth_documents(spark, 500, catalog_size=1000)
    cat = synth_media_catalog(spark, 1000)
    refs = sc.span_media_refs(docs).filter(F.col("media_ref").rlike("^media://[0-9a-f-]{36}$"))
    v = sc.referential_violations(
        refs, "media_ref", cat, "media_ref", rule_id="ref.media",
        span_path=F.col("span_path"),
    )
    n_refs, n_missing = refs.count(), v.count()
    assert n_refs > 0
    # ~1% of catalog indices are deliberately absent
    assert 0 < n_missing < 0.05 * n_refs


def test_drift_psi_ks(spark):
    base = synth_documents(spark, 2000)
    same = synth_documents(spark, 2000)
    drifted = synth_documents(spark, 2000, drift=True)

    def hist(df):
        return sc.histogram(df.select(F.size("spans").alias("ns")), "ns", 0, 50, n_bins=25)

    h0, h1, h2 = hist(base), hist(same), hist(drifted)
    assert sc.psi(h0, h1) < 1e-9 and sc.ks_statistic(h0, h1) < 1e-9
    assert sc.psi(h0, h2) > 0.1
    assert sc.ks_statistic(h0, h2) > 0.1


def test_stats_violations_thresholds(spark):
    """Corpus-level stat checks: breached bounds emit exactly one
    violation row each through the standard contract; satisfied bounds
    emit nothing."""
    df = spark.createDataFrame(
        [(1, 10.0, None), (2, 99.0, "x"), (3, 5.0, "y")],
        "id long, v double, s string",
    )
    got = rows_set(
        sc.stats_violations(
            df,
            [
                {"column": "v", "min": 0.0, "max": 50.0},       # max breached (99)
                {"column": "s", "max_null_rate": 0.1},          # breached (1/3 null)
                {"column": "id", "min_distinct": 2},            # satisfied
            ],
        ),
        "doc_id", "rule_id",
    )
    assert got == {
        ("__corpus__", "stats.max.v"),
        ("__corpus__", "stats.null_rate.s"),
    }


def test_drift_violations_thresholds(spark):
    """Identical snapshots → no drift violations; a shifted current
    distribution breaches the PSI and KS bounds."""
    base = spark.range(0, 4000).select((F.col("id") % 100).cast("double").alias("v"))
    same = sc.histogram(base, "v", 0, 100, 10)
    shifted = sc.histogram(
        spark.range(0, 4000).select(
            ((F.col("id") % 40) + 60).cast("double").alias("v")
        ),
        "v", 0, 100, 10,
    )
    assert sc.drift_violations(same, same, "v", 10, max_psi=0.1, max_ks=0.05) == []
    got = sc.drift_violations(same, shifted, "v", 10, max_psi=0.1, max_ks=0.05)
    assert {g["rule_id"] for g in got} == {"drift.psi.v", "drift.ks.v"}
    assert all(g["doc_id"] == "__corpus__" and g["severity"] == "error" for g in got)


def test_ungrouped_drift_goldens(spark):
    """psi / ks_statistic / drift_violations pinned bit-for-bit over
    histograms with the out-of-range buckets 0 and n_bins+1 (folded into
    the edge bins) and with one side empty; drift_violations collects
    each histogram once for both statistics."""
    base = sc.histogram(
        spark.range(0, 3000).select(((F.col("id") % 120) - 10).cast("double").alias("v")),
        "v", 0, 100, 10,
    )
    cur = sc.histogram(
        spark.range(0, 2000).select(((F.col("id") % 70) * 1.7 + 3).cast("double").alias("v")),
        "v", 0, 100, 10,
    )
    empty = base.filter(F.lit(False))
    assert {r["bucket"] for r in base.collect()} == set(range(12))
    cases = [
        (base, cur, 0.11597262843229605, 0.10500000000000001),
        (base, empty, 11.561662968308923, 1.0),
        (empty, cur, 11.60934871426881, 0.9999999999999998),
    ]
    for b, c, want_psi, want_ks in cases:
        assert sc.psi(b, c, 10) == want_psi
        assert sc.ks_statistic(b, c, 10) == want_ks
        assert sc.drift_violations(b, c, "v", 10, max_psi=want_psi, max_ks=want_ks) == []
        got = sc.drift_violations(
            b, c, "v", 10,
            max_psi=math.nextafter(want_psi, 0), max_ks=math.nextafter(want_ks, 0),
        )
        assert [g["rule_id"] for g in got] == ["drift.psi.v", "drift.ks.v"]
    both = job_count(spark, lambda: sc.drift_violations(base, cur, "v", 10, max_ks=0.0))
    assert both == job_count(spark, lambda: sc.psi(base, cur, 10))


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key sort-merge-join with ZERO
    Exchange — the co-location contract write_bucketed provides; the
    same join over plain parquet shuffles both sides."""
    from json_validator_spark.sources.tables import load_bucketed, write_bucketed

    facts = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    dims = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("w")
    )
    write_bucketed(facts, "t_facts", "k", 8, str(tmp_path / "facts"))
    write_bucketed(dims, "t_dims", "k", 8, str(tmp_path / "dims"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = load_bucketed(spark, "t_facts").join(
            load_bucketed(spark, "t_dims"), "k"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == 5000
        # and the groupBy on the bucket key skips its exchange too
        agg = load_bucketed(spark, "t_facts").groupBy("k").agg(F.sum("v"))
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan
        # control: the identical join over non-bucketed reads shuffles
        plain = facts.join(dims, "k")
        pplan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in pplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_facts")
        spark.sql("DROP TABLE IF EXISTS t_dims")


def test_stats_violations_same_column_twice(spark):
    """Two check dicts on the same column must not collide on agg
    aliases (regression: ambiguous-reference error)."""
    df = spark.createDataFrame([(1, 99.0), (2, None)], "id long, v double")
    got = rows_set(
        sc.stats_violations(
            df,
            [{"column": "v", "max": 50.0}, {"column": "v", "max_null_rate": 0.1}],
        ),
        "rule_id",
    )
    assert got == {("stats.max.v",), ("stats.null_rate.v",)}


def test_snapshot_diff_statuses(spark):
    from json_validator_spark.operators.set_checks import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "en"), (3, "c", None), (4, "d", "fr")],
        "doc_id long, text string, lang string",
    )
    new = spark.createDataFrame(
        [(1, "a", "en"),          # unchanged -> omitted
         (2, "b2", "en"),         # changed
         (3, "c", ""),            # NULL -> '' must read as changed
         (5, "e", "de")],         # added; 4 removed
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r for r in snapshot_diff(old, new).collect()}
    assert set(out) == {2, 3, 4, 5}
    assert out[2]["status"] == "changed"
    assert out[3]["status"] == "changed"  # the NULL sentinel at work
    assert out[4]["status"] == "removed" and out[4]["new_hash"] is None
    assert out[5]["status"] == "added" and out[5]["old_hash"] is None
    # subsetting the hashed columns: lang-only diff vanishes for doc 3
    sub = {r["doc_id"]: r["status"]
           for r in snapshot_diff(old, new, hash_cols=["text"]).collect()}
    assert sub == {2: "changed", 4: "removed", 5: "added"}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="absent"):
        snapshot_diff(old, new.drop("lang"))


def test_snapshot_diff_separator_injection(spark):
    """Per-column digests: values containing the separator can no
    longer shift content across column boundaries and mask a change."""
    from json_validator_spark.operators.set_checks import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a\x1fb", "c")], "doc_id long, text string, lang string"
    )
    new = spark.createDataFrame(
        [(1, "a", "b\x1fc")], "doc_id long, text string, lang string"
    )
    out = snapshot_diff(old, new).collect()
    assert len(out) == 1 and out[0]["status"] == "changed"


def test_exact_median_mad_matches_statistics(spark):
    """Weighted order statistics on the value histogram = the textbook
    interpolated median/MAD over the raw multiset."""
    import statistics

    vals = [1.0, 2.0, 2.0, 3.0, 10.0, 50.0]  # even n -> interpolation
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    med, mad, n = sc.exact_median_mad(df, "v")
    assert n == 6
    assert med == round(statistics.median(vals), 6)
    exp_mad = round(statistics.median(sorted(abs(v - med) for v in vals)), 6)
    assert mad == exp_mad
    # odd n, and NULLs excluded
    df2 = spark.createDataFrame([(1.0,), (None,), (5.0,), (9.0,)], "v double")
    med2, mad2, n2 = sc.exact_median_mad(df2, "v")
    assert (med2, mad2, n2) == (5.0, 4.0, 3)
    # empty
    med3, mad3, n3 = sc.exact_median_mad(df2.filter("v > 100"), "v")
    assert n3 == 0 and math.isnan(med3)
    # a 7th-decimal tie rounds as DuckDB does (Python's round gives 1.000001)
    tie = [1.000001, 1.000002]
    got = sc.exact_median_mad(spark.createDataFrame([(v,) for v in tie], "v double"), "v")
    assert got == _duckdb_median_mad({0: tie})[0]
    assert got[0] == 1.000002


def test_robust_outlier_violations(spark):
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([10, 11, 12, 13, 14, 1000])],
        "event_id long, value double",
    )
    out = sc.robust_outlier_violations(df, "value", "event_id", k=6.0).collect()
    assert [r["doc_id"] for r in out] == ["5"]
    assert out[0]["rule_id"] == "outlier.mad.value"
    assert out[0]["value"] == 1000.0 and out[0]["zscore"] > 100
    # MAD=0 (majority mass on one value) disables the check, no div-by-zero
    df0 = spark.createDataFrame(
        [(i, 5.0) for i in range(5)] + [(9, 500.0)], "event_id long, value double"
    )
    assert sc.robust_outlier_violations(df0, "value", "event_id").count() == 0


def test_fd_violations(spark):
    df = spark.createDataFrame(
        [("k1", "a"), ("k1", "a"), ("k2", "a"), ("k2", "b"), ("k3", None)],
        "det string, dep string",
    )
    out = sc.fd_violations(df, "det", "dep").collect()
    assert len(out) == 1
    r = out[0]
    assert r["doc_id"] == "k2" and r["rule_id"] == "fd.det->dep"
    assert "2 distinct values in 2 rows" in r["message"]


def test_completeness_gaps(spark):
    # 2x3 grid with one missing cell (a2,b3)
    df = spark.createDataFrame(
        [("a1", "b1"), ("a1", "b2"), ("a1", "b3"), ("a2", "b1"), ("a2", "b2")],
        "x string, y string",
    )
    out = sc.completeness_gaps(df, ["x", "y"], ["x", "y"]).collect()
    assert [(r["x"], r["y"]) for r in out] == [("a2", "b3")]
    assert out[0]["rule_id"] == "complete.xxy"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sc.completeness_gaps(df, ["x"], ["x"])


def test_completeness_gaps_plan_is_broadcast_anti(spark):
    """The anti-join must ship the tiny observed-cells side broadcast,
    never shuffle the universe."""
    df = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2")], "x string, y string"
    )
    plan = sc.completeness_gaps(df, ["x", "y"], ["x", "y"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_grouped_median_mad_matches_statistics(spark):
    import statistics

    a = [1.0, 2.0, 2.0, 3.0, 10.0, 50.0]     # even n
    b = [5.0, 7.0, 100.0]                     # odd n
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r for r in sc.grouped_median_mad(df, "g", "v").collect()}
    for key, vals in (("a", a), ("b", b)):
        med = round(statistics.median(vals), 6)
        mad = round(statistics.median(sorted(abs(x - med) for x in vals)), 6)
        assert got[key]["med"] == med and got[key]["mad"] == mad
        assert got[key]["n"] == len(vals)
    # agrees with the ungrouped entry point on a single group
    med1, mad1, n1 = sc.exact_median_mad(df.filter("g = 'a'"), "v")
    assert (got["a"]["med"], got["a"]["mad"], got["a"]["n"]) == (med1, mad1, n1)
    # 6-decimal fuzz: even-n medians are 7th-decimal ties, so the
    # interpolant's last ulp and the rounding rule both show
    rng = random.Random(7)
    fuzz = {
        i: [round(rng.uniform(0, 10), 6) for _ in range(rng.randint(2, 9))]
        for i in range(40)
    }
    fdf = spark.createDataFrame(
        [(g, v) for g, vals in fuzz.items() for v in vals], "g int, v double"
    )
    got = {
        r["g"]: (r["med"], r["mad"], r["n"])
        for r in sc.grouped_median_mad(fdf, "g", "v").collect()
    }
    assert got == _duckdb_median_mad(fuzz)


def test_grouped_outliers_use_per_group_scale(spark):
    # group 'quiet' has tiny spread: 20 is a huge outlier there, but
    # would be invisible under the loud group's scale
    rows = ([("quiet", i, 10.0 + 0.001 * i) for i in range(5)]
            + [("quiet", 9, 20.0)]
            + [("loud", 10 + i, float(100 * i)) for i in range(6)])
    df = spark.createDataFrame(rows, "g string, event_id long, value double")
    out = sc.grouped_outlier_violations(df, "g", "value", k=6.0).collect()
    assert {r["doc_id"] for r in out} == {"9"}
    assert out[0]["group_key"] == "quiet" and out[0]["zscore"] > 1000


def test_benford_check_digits_and_flags(spark):
    # values engineered so string forms vary: plain, <1, large
    rows = [(1.0,), (0.05,), (123.0,), (1999.0,), (None,), (0.0,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in sc.benford_check(df, "v", tol=0.02).collect()}
    # digits: 1 (x2: 1.0 and 123->1? no: 123 leads with 1... 1999 leads 1)
    # 1.0 -> 1, 0.05 -> 5, 123.0 -> 1, 1999.0 -> 1; 0.0 has no [1-9]
    assert out[1]["n"] == 3 and out[5]["n"] == 1
    assert abs(out[1]["freq"] - 0.75) < 1e-9
    assert abs(out[1]["expected"] - 0.30103) < 1e-6
    assert out[1]["flagged"] and bool(out[1]["flagged"]) is True
    # only the observed digits are emitted, with per-digit expectations
    assert set(out) == {1, 5}
    assert abs(out[5]["expected"] - 0.079181) < 1e-6


def test_grouped_drift_psi_localizes_drift(spark):
    # segment 'shift' moves all mass between halves; 'stable' is identical
    rows = []
    for i in range(400):
        base = i % 2 == 0
        rows.append(("stable", i, 5.0))
        rows.append(("shift", i, 1.0 if base else 9.0))
    df = spark.createDataFrame(rows, "seg string, i long, v double")
    out = {r["segment"]: r for r in sc.grouped_drift_psi(
        df, "seg",
        bucket=F.least(F.floor(F.col("v") / 2.0), F.lit(4)),
        is_baseline=F.col("i") % 2 == 0,
    ).collect()}
    assert out["stable"]["psi"] == 0.0 and not out["stable"]["drifted"]
    assert out["shift"]["psi"] > 1.0 and out["shift"]["drifted"]
    assert out["shift"]["n_base"] == 200 and out["shift"]["n_cur"] == 200
    # one-sided segment excluded
    df2 = df.union(spark.createDataFrame([("newseg", 1, 5.0)], df.schema))
    segs = {r["segment"] for r in sc.grouped_drift_psi(
        df2, "seg",
        bucket=F.least(F.floor(F.col("v") / 2.0), F.lit(4)),
        is_baseline=F.col("i") % 2 == 0,
    ).collect()}
    assert segs == {"stable", "shift"}


def test_grouped_tdigest_close_to_exact_and_merge_invariant(spark):
    df = (
        spark.range(0, 20_000)
        .select(
            (F.col("id") % 2).cast("string").alias("g"),
            (F.col("id") / 2).cast("double").alias("v"),
        )
    )
    got = {(r["g"], r["p"]): r["q"] for r in
           sc.grouped_tdigest_quantiles(df, "g", "v", probs=(0.5, 0.9)).collect()}
    exact = {r["g"]: r["qs"] for r in df.groupBy("g").agg(
        F.percentile(F.col("v"), F.array(F.lit(0.5), F.lit(0.9))).alias("qs")
    ).collect()}
    for g in ("0", "1"):
        assert abs(got[(g, 0.5)] - exact[g][0]) <= 0.01 * abs(exact[g][0])
        assert abs(got[(g, 0.9)] - exact[g][1]) <= 0.01 * abs(exact[g][1])
    # partitioning must not move the estimate outside tolerance
    got7 = {(r["g"], r["p"]): r["q"] for r in sc.grouped_tdigest_quantiles(
        df.repartition(7), "g", "v", probs=(0.5, 0.9)).collect()}
    for k, v in got7.items():
        g = k[0]
        e = exact[g][0 if k[1] == 0.5 else 1]
        assert abs(v - e) <= 0.01 * abs(e)


def test_value_ranks_ties_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 1.0), (3, 5.0), (4, 9.0), (5, None)],
        "doc_id long, v double",
    )
    got = {r["doc_id"]: (r["rank"], r["pct"]) for r in
           sc.value_ranks(df, "v").collect()}
    # rank() semantics: ties share min-rank; pct = (rank-1)/(n-1), n=4
    assert got[2] == (1, 0.0)
    assert got[1] == (2, round(1 / 3, 6)) and got[3] == (2, round(1 / 3, 6))
    assert got[4] == (4, 1.0)
    assert got[5] == (None, None)
    # the corpus-sized window must NOT appear: single-partition window
    # runs over the histogram only
    plan = sc.value_ranks(df, "v")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") <= 2


def test_correlation_matrix_pairs_and_plan(spark):
    rows = [(float(i), 2.0 * i + 1, float((i * 7) % 5)) for i in range(100)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    got = {(r["col_a"], r["col_b"]): r for r in
           sc.correlation_matrix(df, ["a", "b", "c"]).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert got[("a", "b")]["corr"] == 1.0       # exact linear alias
    assert abs(got[("a", "c")]["corr"]) < 0.3   # near-independent
    assert all(r["n"] == 100 for r in got.values())
    # one scan, no shuffle beyond the single partial-agg exchange
    plan = sc.correlation_matrix(df, ["a", "b", "c"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= 1


def test_key_skew_stats(spark):
    # 1 hot key with 90 rows + 10 keys with 1 row each
    rows = [("hot",)] * 90 + [(f"k{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, "k string")
    r = sc.key_skew_stats(df, "k").first()
    assert (r["n_rows"], r["n_keys"], r["max_n"]) == (100, 11, 90)
    assert abs(r["mean_n"] - round(100 / 11, 4)) < 1e-9
    assert r["skew_factor"] == round(90 / (100 / 11), 4)
    # uniform key: factor 1
    u = spark.createDataFrame([(i % 5,) for i in range(100)], "k long")
    assert sc.key_skew_stats(u, "k").first()["skew_factor"] == 1.0


def test_grouped_drift_ks_localizes_shift(spark):
    rows = []
    for i in range(400):
        base = i % 2 == 0
        rows.append(("stable", i, 5.0))
        # pure location shift within the same bin edges
        rows.append(("shift", i, 2.0 if base else 8.0))
    df = spark.createDataFrame(rows, "seg string, i long, v double")
    bucket = F.least(F.floor(F.col("v") / 2.0), F.lit(4))
    out = {r["segment"]: r for r in sc.grouped_drift_ks(
        df, "seg", bucket=bucket, is_baseline=F.col("i") % 2 == 0,
    ).collect()}
    assert out["stable"]["ks"] == 0.0 and not out["stable"]["drifted"]
    assert out["shift"]["ks"] == 1.0 and out["shift"]["drifted"]


def test_categorical_drift_chi2(spark):
    # identical halves -> chi2 = 0; shifted mix -> large chi2
    same = [(i, "a" if i % 4 < 2 else "b") for i in range(400)]
    df = spark.createDataFrame(same, "i long, cat string")
    r = sc.categorical_drift_chi2(df, "cat", F.col("i") % 2 == 0).first()
    assert r["chi2"] == 0.0 and not r["drifted"]
    assert (r["n_base"], r["n_cur"], r["dof"]) == (200, 200, 1)
    shifted = [(i, "a" if (i % 2 == 0) == (i % 3 == 0) else "b")
               for i in range(600)]
    df2 = spark.createDataFrame(shifted, "i long, cat string")
    r2 = sc.categorical_drift_chi2(df2, "cat", F.col("i") % 2 == 0).first()
    assert r2["chi2"] > 30 and r2["drifted"]


def test_fd_violations_composite_determinant(spark):
    df = spark.createDataFrame(
        [("k1", "x", "a"), ("k1", "x", "a"), ("k1", "y", "a"),
         ("k1", "y", "b"), ("k2", "x", "c")],
        "d1 string, d2 string, dep string",
    )
    out = sc.fd_violations(df, ["d1", "d2"], "dep").collect()
    assert len(out) == 1
    r = out[0]
    assert r["doc_id"] == "k1|y" and r["rule_id"] == "fd.d1,d2->dep"
    # single-column call path unchanged
    single = sc.fd_violations(df, "d1", "dep").collect()
    assert {x["doc_id"] for x in single} == {"k1"}


def test_categorical_drift_chi2_one_sided_guard(spark):
    """ADVICE r03 #2: an all-baseline (or all-current) sample has zero
    expected counts — emit NO row (sibling grouped_drift_psi/ks
    discipline) instead of a silent NULL/NaN chi2."""
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(10)], "i long, cat string"
    )
    assert sc.categorical_drift_chi2(df, "cat", F.lit(True)).count() == 0
    assert sc.categorical_drift_chi2(df, "cat", F.lit(False)).count() == 0
    # empty input likewise emits nothing
    assert sc.categorical_drift_chi2(
        df.filter(F.lit(False)), "cat", F.col("i") % 2 == 0
    ).count() == 0


def test_exact_median_mad_5001_rows_matches_duckdb(spark):
    df = spark.range(5001).select(
        F.col("id"), ((F.col("id") % 977) / 7.0 + (F.col("id") % 13)).alias("x")
    )
    got = sc.exact_median_mad(df, "x")
    assert got == _duckdb_median_mad({0: [r["x"] for r in df.collect()]})[0]
    assert got[2] == 5001 and got[1] > 0


# ----------------------------------------------------------------------
# Cardinality guard: a high-distinct column must not single-task the
# value_ranks window
# ----------------------------------------------------------------------


def test_value_ranks_sharded_path_matches_and_distributes(spark):
    from json_validator_spark.operators.set_checks import value_ranks

    # ~10^6 rows, near-all-distinct values plus deliberate tie blocks —
    # the raw-float shape the round-3 verdict flagged as the 100× cliff
    df = spark.range(1_000_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 101 == 0, F.lit(-1.5))  # heavy tie block
        .otherwise(F.col("id") * 1.0000001 + (F.col("id") % 7) * 0.25)
        .alias("score"),
    )
    sharded = value_ranks(df, "score", max_distinct=1000, n_shards=16)
    # plan-asserted: ranking windows partition on the shard key, never a
    # single global partition over the histogram
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    assert "__shard" in plan
    plain = value_ranks(df.where(F.col("doc_id") < 20_000), "score")
    guard = value_ranks(
        df.where(F.col("doc_id") < 20_000), "score", max_distinct=100, n_shards=8
    )
    a = {r["doc_id"]: (r["rank"], r["pct"]) for r in plain.collect()}
    b = {r["doc_id"]: (r["rank"], r["pct"]) for r in guard.collect()}
    assert a == b
    # spot exactness on the big frame: global min rank is 1, ties share
    top = sharded.where(F.col("score") == -1.5).select("rank").distinct().collect()
    assert len(top) == 1 and top[0]["rank"] == 1
