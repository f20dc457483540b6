"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: derive the interleaved span corpus from the
sf0.001 ``documents`` table and run the full validation engine over it.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
(SURVEY.md §2 + the training-data pipeline layer), each mirrored in
DuckDB ANSI SQL over the same parquet tables. All hashing inside the
checked queries is md5-based so both engines compute identical values
(see ``json_validator_spark/functions/text.py``); every aggregate /
computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ----------------------------------------------------------------------
# helpers
# ----------------------------------------------------------------------

DIM = 64  # embeddings.embedding length in the driver testdata


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from json_validator_spark.sources.tables import load_table

    return load_table(spark, name, sf_dir)


def _load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like ``_load`` but repartitioned to the session parallelism: the
    sf testdata tables are single small parquet files → ONE input split,
    which serializes any CPU-heavy (tokenize/hash) query on one core.
    The tiny round-robin shuffle buys full-width execution; a real
    corpus has many files and never needs this."""
    return _load(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


def _doc_ruleset():
    from json_validator_spark.rules.model import Rule, RuleSet

    return RuleSet(
        name="documents",
        rules=(
            Rule("required.text", "/text", "required"),
            Rule("range.n_chars", "/n_chars", "range", {"min": 50, "max": 400}),
            Rule("enum.lang", "/lang", "enum", {"values": ["en", "es", "fr"]}, severity="warning"),
            Rule("pattern.source", "/source", "pattern", {"regex": "^src[0-9]$"}),
        ),
    )


def _oneof_ruleset():
    from json_validator_spark.rules.model import Combination, Rule, RuleSet

    return RuleSet(
        name="oneof",
        combination=Combination.ONE_OF,
        rules=(
            Rule("a.range.n_chars", "/n_chars", "range", {"min": 50, "max": 250}, ruleset="A"),
            Rule("b.enum.lang", "/lang", "enum", {"values": ["en"]}, ruleset="B"),
        ),
    )


def _union_dup_docs(docs: DataFrame) -> DataFrame:
    """documents ∪ copies of every 10th doc (id+100000) — deterministic
    injected duplicates for the dedup operators. Callers pass a
    ``_load_spread`` frame so the shingle/hash work runs full-width."""
    extra = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(extra)


_UNION_DUP_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0"
)

# the ingest increment of _increment_docs, mirrored
_INCR_NEW_SQL = (
    "SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0 "
    "UNION ALL SELECT doc_id + 300000 AS doc_id, "
    "text || ' zq' || (doc_id + 300000)::VARCHAR AS text "
    "FROM documents WHERE doc_id % 7 = 3"
)

# DuckDB fragments mirroring functions/text.py
_DUCK_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"


def _duck_u(args: str, hex_chars: int = 6) -> str:
    """unit_uniform / hash_long mirror: md5 of ':'-joined args."""
    denom = float(1 << (4 * hex_chars))
    return (
        f"(('0x' || substr(md5(concat_ws(':', {args})), 1, {hex_chars}))::BIGINT"
        f" / {denom:.1f})"
    )


# ----------------------------------------------------------------------
# queries
# ----------------------------------------------------------------------

def q_corpus_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.sources.derive import derive_corpus, derived_corpus_ruleset

    # spread before the compute-heavy span derivation (see _load_spread)
    corpus = derive_corpus(_load_spread(spark, sf_dir, "documents"))
    return violations_df(corpus, derived_corpus_ruleset())


def q_preprocess_pointer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S5 JSONPath-preprocessor analogue
    (``sources/preprocess.pointer_project``): project ``/spans/*/kind``
    out of the derived span corpus into addressable (doc_id, span_path,
    value) rows — the reference's per-type JSONPath pre-projection
    (``ValidationSpecs.java:87-130``) as a narrow posexplode. Oracle:
    the same spans2 construction the corpus_validation mirror uses."""
    from json_validator_spark.sources.derive import derive_corpus
    from json_validator_spark.sources.preprocess import pointer_project

    corpus = derive_corpus(_load_spread(spark, sf_dir, "documents"))
    return pointer_project(corpus, "/spans/*/kind").select(
        "doc_id", "span_path", F.col("value").cast("string").alias("value")
    )


def q_row_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.row_checks import violations_df

    return violations_df(_load(spark, sf_dir, "documents"), _doc_ruleset())


def q_schema_spans_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-object ``items`` IMPORT path over the north-rule spans
    shape: the natural JSON Schema for the derived corpus ("each span is
    an object with kind/media_ref/offset constraints") imports into
    per-field span rules (``rules/schema_import._add_element_object_rules``
    → ``/spans/*/<field>`` targets, indexed JSON-pointer locations — the
    nested paths networknt reports, ``JSONValidator.java:461-465``).
    Firing set: 'imge' kinds (enum), broken media refs (pattern), and
    off-broken docs' constant offset 5 (multipleOf 8 — real offsets are
    i*8)."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.schema_import import ruleset_from_json_schema
    from json_validator_spark.sources.derive import derive_corpus

    rs, defs = ruleset_from_json_schema(
        {
            "$schema": "https://json-schema.org/draft/2020-12/schema",
            "type": "object",
            "properties": {
                "spans": {
                    "type": "array",
                    "minItems": 1,
                    "items": {
                        "type": "object",
                        "required": ["kind"],
                        "properties": {
                            "kind": {"enum": ["text", "media"]},
                            "media_ref": {"pattern": "^media://[0-9a-f]{32}$"},
                            "offset": {"multipleOf": 8},
                        },
                    },
                }
            },
        },
        name="spans-items",
    )
    corpus = derive_corpus(_load_spread(spark, sf_dir, "documents"))
    return violations_df(corpus, rs, definitions=defs)


def q_doc_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.report import doc_verdicts
    from json_validator_spark.operators.row_checks import with_violations

    wv = with_violations(_load(spark, sf_dir, "documents"), _doc_ruleset())
    v = doc_verdicts(wv)
    return v.select(
        "doc_id",
        F.col("n_errors").cast("long").alias("n_errors"),
        F.col("n_warnings").cast("long").alias("n_warnings"),
        "result",
    )


def q_aggregate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.report import aggregate_report
    from json_validator_spark.operators.row_checks import violations_df

    v = violations_df(_load(spark, sf_dir, "documents"), _doc_ruleset())
    return aggregate_report(v).select(
        "rule_id", "severity", F.col("count").cast("long").alias("count")
    )


def q_run_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row run rollup (the FileReport CLI summary,
    ``ValidationRunner.java:156-157``) over the documents ruleset."""
    from json_validator_spark.operators.report import run_summary
    from json_validator_spark.operators.row_checks import with_violations

    wv = with_violations(_load(spark, sf_dir, "documents"), _doc_ruleset())
    s = run_summary(wv)
    return s.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_errors").cast("long").alias("n_errors"),
        F.col("n_warnings").cast("long").alias("n_warnings"),
        F.col("n_failed_docs").cast("long").alias("n_failed_docs"),
        "failure_rate",
    )


def q_combination_oneof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.row_checks import with_violations

    wv = with_violations(_load(spark, sf_dir, "documents"), _oneof_ruleset())
    return wv.select(
        "doc_id",
        F.col("n_branches_passed").cast("long").alias("n_branches_passed"),
        F.when(F.col("doc_pass"), F.lit("SUCCESS")).otherwise(F.lit("FAILURE")).alias("result"),
    )


def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.set_checks import exact_column_stats

    return exact_column_stats(
        _load(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_orderkey"],
    )


def q_stats_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level stat thresholds as CHECKS (the north-rule reading of
    per-column stats): one scan, breaches become violation rows through
    the same report contract as row rules. Thresholds chosen so some
    pass and some fail on the driver testdata."""
    from json_validator_spark.operators.set_checks import stats_violations

    li = _load(spark, sf_dir, "lineitem")
    return stats_violations(
        li,
        [
            {"column": "l_quantity", "min": 1.0, "max": 40.0},       # max breached (50)
            {"column": "l_discount", "max_null_rate": 0.0, "max": 0.5},
            {"column": "l_orderkey", "min_distinct": 10**9},          # breached
            {"column": "l_extendedprice", "min": 0.0},
        ],
    )


def q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.set_checks import uniqueness_violations

    return uniqueness_violations(_load(spark, sf_dir, "orders"), key="o_custkey")


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier check over ``events.value`` — exact
    median/MAD from the bounded value histogram (``exact_median_mad``),
    then a narrow filter; z-scores reproduce bit-for-bit in the oracle
    because both engines compute them from the same rounded-to-6
    median/MAD contract values."""
    from json_validator_spark.operators.set_checks import robust_outlier_violations

    return robust_outlier_violations(
        _load(spark, sf_dir, "events"), "value", id_col="event_id", k=6.0
    )


def q_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery ``o_custkey → o_orderstatus`` —
    cross-row consistency as a set-based check (the corpus-level
    sibling of the per-row dependentRequired keyword)."""
    from json_validator_spark.operators.set_checks import fd_violations

    return fd_violations(_load(spark, sf_dir, "orders"), "o_custkey", "o_orderstatus")


def q_fd_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-determinant FD: (l_orderkey, l_returnflag) →
    l_linestatus — multi-column functional dependency with the
    '|'-joined key tuple as the violation subject."""
    from json_validator_spark.operators.set_checks import fd_violations

    return fd_violations(
        _load(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_returnflag"],
        "l_linestatus",
    )


def q_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensional completeness over events: every observed event_type
    is expected in every observed hour; silent (type, hour) cells are
    violations. Universe = cross join of tiny per-dim distincts;
    broadcast left_anti against observed cells."""
    from json_validator_spark.operators.set_checks import completeness_gaps

    ev = _load(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00")
    return completeness_gaps(
        ev, [F.col("event_type"), hour], ["event_type", "hour"]
    )


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization rollup (``temporal.session_stats``):
    per-(user, session) event counts and whole-second durations; the
    session boundary is a strict 30-minute microsecond-exact gap."""
    from json_validator_spark.operators.temporal import session_stats

    ev = _load(spark, sf_dir, "events")
    s = session_stats(ev, gap_minutes=30)
    return s.select(
        "user_id",
        "session_idx",
        "session_id",
        "n_events",
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss").alias("start_ts"),
        "duration_s",
    )


def _write_chunks(df: DataFrame, base: str, conds) -> str:
    """Write ``df`` filtered by each condition as one parquet file per
    arrival chunk under ``{base}/in``, with strictly increasing mtimes —
    the file stream source orders micro-batches by modification time, so
    explicit utimes make the arrival order deterministic (copy-order
    mtimes can tie at filesystem resolution)."""
    import os
    import shutil
    from pathlib import Path

    in_dir = f"{base}/in"
    Path(in_dir).mkdir(parents=True)
    for i, cond in enumerate(conds):
        stage = f"{base}/stage{i}"
        df.filter(cond).coalesce(1).write.parquet(stage)
        part = next(Path(stage).glob("part-*.parquet"))
        dst = f"{in_dir}/chunk{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return in_dir


def _rows_then_remove(df: DataFrame, base: str) -> DataFrame:
    """``df`` — a read of a stream's output under ``base`` — collected
    to a driver-side frame of the same schema, and ``base`` (arrival
    chunks, checkpoint, outputs) removed, so a parity row leaves no
    temp dir behind."""
    import shutil

    try:
        rows, schema = df.collect(), df.schema
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return df.sparkSession.createDataFrame(rows, schema)


def _arrival_chunks(spark: SparkSession, df: DataFrame, base: str) -> str:
    """Write ``df`` as three event-time-ordered parquet arrival chunks
    under ``{base}/in`` — the landing-directory shape the streaming
    layer consumes. Chunk boundaries are exact percentiles of the event
    time, so cross-batch arrival order matches event-time order (the
    streaming sessionizer's documented batch-parity precondition)."""
    cuts = df.select(
        F.expr(
            "percentile(unix_micros(cast(ts as timestamp)), array(0.33, 0.66))"
        ).alias("c")
    ).first()["c"]
    lo, hi = int(cuts[0]), int(cuts[1])
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return _write_chunks(df, base, [us <= lo, (us > lo) & (us <= hi), us > hi])


def q_session_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization batch parity (VERDICT r03 #8): the
    events table replayed as three time-ordered arrival chunks through
    ``streaming/session_stream`` (``applyInPandasWithState``, one file
    per micro-batch so per-user state genuinely carries across
    batches), then the materialized per-event assignments are compared
    against the batch gap-sessionization SQL. The streaming layer's
    math stops being pytest-only: its output IS the oracle row."""
    import tempfile

    from json_validator_spark.streaming.session_stream import session_stream

    ev = (
        _load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.col("user_id").cast("string").alias("user_id"),
            F.col("event_id").cast("string").alias("event_id"),
            "ts",
        )
    )
    base = tempfile.mkdtemp(prefix="jvs_sess_parity_")
    in_dir = _arrival_chunks(spark, ev, base)
    q = session_stream(
        spark, in_dir, "user_id string, event_id string, ts timestamp",
        f"{base}/out", f"{base}/ckpt", gap_minutes=30, max_files_per_trigger=1,
    )
    q.awaitTermination()
    return _rows_then_remove(
        spark.read.parquet(f"{base}/out/sessions").select(
            "user_id", "event_id", "session_idx", "session_id"
        ),
        base,
    )


def q_running_stats_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-key running stats batch parity: three arrival
    chunks through ``streaming/running_stats_stream`` (Chan/Welford
    moment merges in keyed state), then each key's LAST emitted row —
    its lifetime stats after the final batch — must equal the one-pass
    batch aggregate over the same events."""
    import tempfile

    from json_validator_spark.streaming.stats_stream import running_stats_stream

    ev = (
        _load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(F.col("event_type").cast("string").alias("event_type"), "value", "ts")
    )
    base = tempfile.mkdtemp(prefix="jvs_stats_parity_")
    in_dir = _arrival_chunks(spark, ev, base)
    q = running_stats_stream(
        spark, in_dir, "event_type string, value double, ts timestamp",
        f"{base}/out", f"{base}/ckpt", max_files_per_trigger=1,
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{base}/out/stats")
    last = out.groupBy("key").agg(F.max("batch_id").alias("batch_id"))
    return _rows_then_remove(
        out.join(last, ["key", "batch_id"]).select("key", "n", "mean", "std", "min", "max"),
        base,
    )


def q_drift_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift-monitoring parity: events replayed as three
    time-ordered arrival chunks through ``windowed_histogram`` (daily
    windows, ``value`` over [0, 100) in 10 bins — values ≥ 100 land in
    the n_bins+1 edge bucket), and every micro-batch scored in the sink
    by ``window_drift_scores`` against the fixed-edge baseline
    histogram of the whole table. The row set is the last batch's
    scores: every window over all the data. Complete output mode,
    because append mode emits a window only once the watermark has
    passed its end, and the stream stops before the last windows
    close."""
    import shutil
    import tempfile

    from json_validator_spark.operators.set_checks import histogram
    from json_validator_spark.streaming.validate_stream import (
        window_drift_scores,
        windowed_histogram,
    )

    # the watermark needs TIMESTAMP; the table's TIMESTAMP_NTZ reads as
    # the same UTC wall clock (session.py pins the session time zone)
    ev = _load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    baseline = histogram(ev, "value", 0, 100, 10)
    base = tempfile.mkdtemp(prefix="jvs_drift_parity_")
    in_dir = _arrival_chunks(spark, ev, base)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    scores: list[dict] = []

    def sink(batch: DataFrame, _batch_id: int) -> None:
        scores[:] = window_drift_scores(batch, baseline, 10)

    q = (
        windowed_histogram(stream, "value", 0, 100, 10, window="1 day")
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)  # the scores are driver-side
    return spark.createDataFrame(
        [(s["window_start"], s["psi"], s["ks"]) for s in scores],
        "window_start timestamp, psi double, ks double",
    ).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "psi", "ks",
    )


def q_validate_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP path through Structured Streaming: the derived span
    corpus replayed as three arrival chunks through
    ``streaming/validate_stream`` (rule layer compiled once at stream
    definition, idempotent per-batch sink); the materialized violations
    must equal the batch ``corpus_validation`` result — same oracle SQL,
    doc_id as string (the stream contract)."""
    import tempfile

    from json_validator_spark.sources.derive import SPAN_SCHEMA, derive_corpus, derived_corpus_ruleset
    from json_validator_spark.streaming.validate_stream import validate_stream

    corpus = derive_corpus(_load(spark, sf_dir, "documents"))
    base = tempfile.mkdtemp(prefix="jvs_val_parity_")
    c = F.col("doc_id") % 3
    in_dir = _write_chunks(corpus, base, [c == 0, c == 1, c == 2])
    q = validate_stream(
        spark, in_dir, f"doc_id long, spans {SPAN_SCHEMA}",
        derived_corpus_ruleset(), f"{base}/out", f"{base}/ckpt",
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    return _rows_then_remove(
        spark.read.parquet(f"{base}/out/violations").select(
            "doc_id", "span_path", "rule_id", "severity", "message"
        ),
        base,
    )


def q_dedup_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact-dedup batch parity: documents∪dups replayed as
    three arrival chunks (``doc_id % 3`` — one file per micro-batch)
    through ``streaming/dedup_stream`` (keyed content-hash state). The
    stream's contract — canonical = lexicographic-min doc_id within the
    FIRST batch that sees the hash, everything after is a duplicate —
    is re-derived in the DuckDB mirror from the same chunk assignment,
    so per-doc verdicts are a hard cross-engine check."""
    import tempfile

    from json_validator_spark.streaming.dedup_stream import dedup_stream

    docs = _union_dup_docs(_load(spark, sf_dir, "documents"))
    base = tempfile.mkdtemp(prefix="jvs_dedup_parity_")
    c = F.col("doc_id") % 3
    in_dir = _write_chunks(docs, base, [c == 0, c == 1, c == 2])
    q = dedup_stream(
        spark, in_dir, "doc_id long, text string",
        f"{base}/out", f"{base}/ckpt", max_files_per_trigger=1,
    )
    q.awaitTermination()
    return _rows_then_remove(
        spark.read.parquet(f"{base}/out/dedup").select(
            "doc_id", "text_hash", "is_duplicate", "first_doc_id"
        ),
        base,
    )


def q_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rate check: users firing >2 events in any
    (t−60m, t] window — RANGE frame over microsecond ticks, one
    violation row per offending event."""
    from json_validator_spark.operators.temporal import rate_limit_violations

    return rate_limit_violations(
        _load(spark, sf_dir, "events"), max_events=2, window_minutes=60
    )


def q_asof_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union-window technique, single exchange on the join
    key) of each event to the latest deterministic rate snapshot at or
    before its timestamp; events before the first snapshot keep NULLs.
    Oracle: DuckDB's native ASOF LEFT JOIN over the identically
    md5-derived snapshot dimension."""
    from json_validator_spark.operators.temporal import asof_join, synth_rate_snapshots

    ev = _load(spark, sf_dir, "events")
    joined = asof_join(
        ev, synth_rate_snapshots(ev), on="event_type",
        left_ts="ts", right_ts="snap_ts", value_cols=["rate"],
    )
    return joined.select(
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "rate",
        F.date_format("snap_ts", "yyyy-MM-dd HH:mm:ss").alias("snap_ts"),
    )


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics for the lineitem join key — the
    measurable pre-flight check behind the salting/AQE discipline."""
    from json_validator_spark.operators.set_checks import key_skew_stats

    return key_skew_stats(_load(spark, sf_dir, "lineitem"), "l_orderkey")


def q_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem numerics in one
    aggregation pass — collinearity / redundant-feature check."""
    from json_validator_spark.operators.set_checks import correlation_matrix

    return correlation_matrix(
        _load(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


def q_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global rank / percent_rank of every event by value — score
    normalization without a global row sort (cumulative counts over the
    bounded value histogram; the corpus never passes through a
    single-partition window)."""
    from json_validator_spark.operators.set_checks import value_ranks

    return value_ranks(_load(spark, sf_dir, "events"), "value", id_col="event_id")


def q_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency cap (domain balancing): keep at most 10
    docs per source, deterministic md5-of-id order — partition- and
    arrival-order-invariant kept set."""
    from json_validator_spark.operators.sampling import frequency_cap

    docs = _load(spark, sf_dir, "documents")
    return frequency_cap(docs, "source", cap=10, id_col="doc_id").select(
        "doc_id", "source", "n_chars"
    )


def q_grouped_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group centroid-digest quantiles (fully distributed final
    merge via applyInPandas — no driver). Contract: the RANK SANDWICH —
    the sketch estimate must land between the exact quantiles at
    p ∓ 0.01 rank (computed in-Spark; DuckDB emits the same sandwich
    bounds with literal true), so a drifting sketch flips within_tol
    and reds the hash check regardless of value scale."""
    from json_validator_spark.operators.set_checks import grouped_tdigest_quantiles

    probs = (0.5, 0.9)
    ev = _load_spread(spark, sf_dir, "events")
    approx = grouped_tdigest_quantiles(ev, "event_type", "value", probs=probs)
    exact = (
        _load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            *[
                F.round(
                    F.percentile(F.col("value").cast("double"), F.lit(p - 0.01)), 6
                ).alias(f"lo_{i}")
                for i, p in enumerate(probs)
            ],
            *[
                F.round(
                    F.percentile(F.col("value").cast("double"), F.lit(p + 0.01)), 6
                ).alias(f"hi_{i}")
                for i, p in enumerate(probs)
            ],
        )
    )
    bounds = exact.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(p)).alias("p"),
                        F.col(f"lo_{i}").alias("exact_lo"),
                        F.col(f"hi_{i}").alias("exact_hi"),
                    )
                    for i, p in enumerate(probs)
                ]
            )
        ).alias("s"),
    ).select("event_type", "s.p", "s.exact_lo", "s.exact_hi")
    joined = approx.join(bounds, ["event_type", "p"])
    within = (
        F.col("q") >= F.col("exact_lo") - 0.001 * F.abs(F.col("exact_lo"))
    ) & (F.col("q") <= F.col("exact_hi") + 0.001 * F.abs(F.col("exact_hi")))
    return joined.select(
        "event_type", "p", "exact_lo", "exact_hi", within.alias("within_tol")
    )


def q_grouped_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment drift: PSI per event_type between the deterministic
    even/odd event_id halves — one scan, shared (segment, bucket)
    groupBy, per-segment window totals."""
    from json_validator_spark.operators.set_checks import grouped_drift_psi

    ev = _load(spark, sf_dir, "events")
    return grouped_drift_psi(
        ev,
        "event_type",
        bucket=F.least(F.floor(F.col("value") / 25.0), F.lit(19)),
        is_baseline=F.col("event_id") % 2 == 0,
    )


def q_cat_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square homogeneity on event_type between the
    even/odd halves — categorical drift where binned PSI/KS don't
    apply."""
    from json_validator_spark.operators.set_checks import categorical_drift_chi2

    ev = _load(spark, sf_dir, "events")
    return categorical_drift_chi2(
        ev, "event_type", F.col("event_id") % 2 == 0, threshold=30.0
    )


def q_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly ingest-volume anomaly detection vs the trailing-24h
    mean/std (warm-up hours emit NULL stats; zero-variance history
    flags any deviation)."""
    from json_validator_spark.operators.temporal import volume_anomalies

    return volume_anomalies(
        _load(spark, sf_dir, "events"), trailing=24, k=4.0
    )


def q_grouped_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment KS (max CDF gap at bucket resolution) between the
    even/odd event_id halves — the rank-based companion of grouped_psi."""
    from json_validator_spark.operators.set_checks import grouped_drift_ks

    ev = _load(spark, sf_dir, "events")
    return grouped_drift_ks(
        ev,
        "event_type",
        bucket=F.least(F.floor(F.col("value") / 25.0), F.lit(19)),
        is_baseline=F.col("event_id") % 2 == 0,
    )


def q_fuzzy_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-duplicate key detection over supplier names — FastSS
    deletion-neighborhood join + exact levenshtein verify; the
    record-linkage complement of exact uniqueness."""
    from json_validator_spark.operators.dedup import fuzzy_key_pairs

    return fuzzy_key_pairs(_load(spark, sf_dir, "supplier"), "s_name")


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column Shannon entropy (degenerate-feature check) over
    events — NULL is its own category; histogram-sized aggregation."""
    from json_validator_spark.operators.info import column_entropy

    return column_entropy(
        _load(spark, sf_dir, "events"), ["event_type", "user_id", "value"]
    )


def q_mi_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (target-leakage detector) between event_type
    and the bucketed value — single corpus scan, window sums over the
    joint histogram, row_number-gated marginal terms."""
    from json_validator_spark.operators.info import mutual_information

    return mutual_information(
        _load(spark, sf_dir, "events"),
        "event_type",
        F.floor(F.col("value") / 50.0),
        name_a="event_type",
        name_b="value_bucket",
    )


def q_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix at day granularity — first-seen cohorts
    joined against the distinct user×day activity set; co-partitioned
    user-keyed join, tiny (cohort, offset) rollup."""
    from json_validator_spark.operators.temporal import cohort_retention

    return cohort_retention(_load(spark, sf_dir, "events"))


def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (value, user_id) — plan-constant
    fixed-range quantization + bit interleave, pure codegen integer
    arithmetic; the key that makes min/max file skipping work on BOTH
    columns at once. Oracle reproduces the interleave bit-for-bit."""
    from json_validator_spark.operators.layout import zorder_key

    ev = _load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        zorder_key(["value", "user_id"], [0.0, 0.0], [500.0, 2048.0], bits=16)
        .alias("zkey"),
    )


def q_funnel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion report: users per completed-step count plus
    the median end-to-end conversion time among full completers —
    composition of the funnel fold and an exact median over the
    user-count-sized result (exactness affordable there; the corpus
    never re-aggregates)."""
    from json_validator_spark.operators.temporal import funnel

    f = funnel(_load(spark, sf_dir, "events"), ["view", "click", "purchase"])
    dur = F.when(
        F.col("steps_completed") == 3,
        (F.get("step_ts", 2) - F.get("step_ts", 0)) / F.lit(1_000_000.0),
    )
    return (
        f.select("steps_completed", dur.alias("dur_s"))
        .groupBy("steps_completed")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.percentile(F.col("dur_s"), F.lit(0.5)), 6).alias(
                "median_conversion_s"
            ),
        )
    )


def q_grouped_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust outliers (each event_type's own median/MAD) —
    the fully distributed grouped weighted-median path: no driver
    constants, window cumsums over per-group value histograms."""
    from json_validator_spark.operators.set_checks import grouped_outlier_violations

    return grouped_outlier_violations(
        _load(spark, sf_dir, "events"), "event_type", "value",
        id_col="event_id", k=6.0,
    )


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit distribution over order totals: one row per
    observed digit with observed vs expected frequency; string-derived
    first significant digit (sci-notation-safe on both engines)."""
    from json_validator_spark.operators.set_checks import benford_check

    return benford_check(_load(spark, sf_dir, "orders"), "o_totalprice", tol=0.02)


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion view→click→purchase per user — greedy
    earliest matching with strictly-after semantics via a single
    per-user array fold (one exchange). Oracle: the classic cascaded
    min-after-min SQL formulation, provably equivalent to the greedy
    fold."""
    from json_validator_spark.operators.temporal import funnel

    f = funnel(_load(spark, sf_dir, "events"), ["view", "click", "purchase"])
    return f.select(
        "user_id",
        "steps_completed",
        F.get("step_ts", 0).alias("t1"),
        F.get("step_ts", 1).alias("t2"),
        F.get("step_ts", 2).alias("t3"),
    )


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (view→click→purchase, each step within
    45 minutes of the previous) — the exact-DP form with re-anchoring:
    a later step-1 event may convert where the earliest one cannot
    (greedy undercounts; ADVICE r03 #1). ``steps_completed`` is the
    true maximum over all event subsequences; ``last_step_us`` is the
    latest tick at which a maximal chain can end, which the DP's
    latest-end representative reports by construction. Oracle: a
    recursive CTE enumerating every viable (user, prefix-length,
    end-tick) state — the brute-force ground truth."""
    from json_validator_spark.operators.temporal import funnel

    f = funnel(
        _load(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        max_step_gap_minutes=45,
    )
    return f.select(
        "user_id",
        "steps_completed",
        F.when(
            F.col("steps_completed") > 0, F.element_at("step_ts", -1)
        ).alias("last_step_us"),
    )


def q_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.set_checks import referential_violations

    orders = _load(spark, sf_dir, "orders")
    active = _load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 != 0)
    return referential_violations(
        orders, "o_custkey", active, "c_custkey",
        rule_id="ref.active_customer", doc_id="o_orderkey",
    )


def q_referential_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered referential integrity (``operators/sketches``):
    bitmap over the dimension keys splits the fact side into
    definitely-missing (no join) and maybe-present (exact anti-join
    verify); no false negatives ⇒ row-identical to the plain anti-join,
    which is exactly what the oracle checks."""
    from json_validator_spark.operators.sketches import bloom_referential_violations

    orders = _load(spark, sf_dir, "orders")
    active = _load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 != 0)
    return bloom_referential_violations(
        orders, "o_custkey", active, "c_custkey",
        rule_id="ref.active_customer", doc_id="o_orderkey",
        n_bits=1 << 18,
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-50 corpus tokens via per-partition Misra–Gries
    nomination + exact recount of candidates only
    (``sketches.heavy_hitters``). The ``exact`` certificate column is
    recomputed independently by the oracle from the true counts: both
    engines must agree the k-th count clears the N/(capacity+1) bound."""
    from json_validator_spark.functions.text import tokens
    from json_validator_spark.operators.sketches import heavy_hitters

    tok = _load_spread(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    return heavy_hitters(tok, "token", k=50, capacity=4096)


def _qty_bucket() -> "F.Column":
    """The fixed-edge l_quantity bucket shared by q_histogram and
    q_drift_psi — one definition, mirrored once in SQL
    (``_QTY_BUCKET_SQL``)."""
    return F.least(
        F.greatest(
            F.floor((F.col("l_quantity") - 1.0) / 49.0 * 10).cast("int"), F.lit(0)
        ),
        F.lit(9),
    )


_QTY_BUCKET_SQL = "least(greatest(floor((l_quantity - 1.0) / 49.0 * 10)::INT, 0), 9)"


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")
    bucket = _qty_bucket()
    return (
        li.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")
    bucket = _qty_bucket()
    half = (F.col("l_orderkey") % 2 == 0).cast("int")
    counts = (
        li.select(bucket.alias("bucket"), half.alias("base"))
        .groupBy("bucket")
        .agg(
            F.sum(F.col("base")).alias("nb"),
            F.sum(1 - F.col("base")).alias("nc"),
        )
    )
    tot = counts.agg(
        F.sum("nb").alias("tb"), F.sum("nc").alias("tc")
    )
    joined = counts.crossJoin(tot)
    term = (
        (F.col("nb") / F.col("tb") - F.col("nc") / F.col("tc"))
        * F.log(
            (F.col("nb") / F.col("tb") + 1e-6) / (F.col("nc") / F.col("tc") + 1e-6)
        )
    )
    return joined.agg(F.round(F.sum(term), 6).alias("psi"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_union_dup_docs(_load_spread(spark, sf_dir, "documents")))


def q_dedup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step end-to-end: inject exact duplicates, then return
    the surviving corpus (min-id doc per content group) — what a
    pipeline actually feeds downstream after dedup."""
    from json_validator_spark.operators.dedup import drop_exact_duplicates

    docs = _union_dup_docs(_load_spread(spark, sf_dir, "documents"))
    return drop_exact_duplicates(docs).select("doc_id")


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle containment n_common/min(n_a,n_b) —
    catches short-doc-quoted-in-long-doc pairs Jaccard misses."""
    from json_validator_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _load_spread(spark, sf_dir, "documents"), k=3, threshold=0.5, max_df=None
    ).select(
        "doc_id_a", "doc_id_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "containment",
    )


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _load_spread(spark, sf_dir, "documents"), k=3, threshold=0.1, max_df=None
    ).select(
        "doc_id_a", "doc_id_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "jaccard",
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.dedup import minhash_neardup_pairs

    return minhash_neardup_pairs(
        _union_dup_docs(_load_spread(spark, sf_dir, "documents")),
        k=3, n_hashes=16, n_bands=8, threshold=0.999,
    )


def _increment_docs(docs: DataFrame) -> DataFrame:
    """A deterministic ingest increment for the incremental-dedup
    queries: exact copies of every 7th doc (id+200000 — content already
    in the corpus, must be REJECTED) plus uniquely perturbed copies of
    docs ≡ 3 (mod 7) (id+300000, one unique token appended — must be
    ACCEPTED at the 0.999 threshold: corpus docs cap at ~100 tokens, so
    one appended token caps Jaccard vs the original at ~0.99)."""
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    modified = docs.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" zq"),
            (F.col("doc_id") + 300000).cast("string"),
        ).alias("text"),
    )
    return copies.unionByName(modified)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (``set_checks.snapshot_diff``): documents
    vs a deterministically perturbed next version — %13==0 removed,
    %13==1 text-revised, %13==2 re-added under a new id. One full-outer
    hash join on content hashes; the oracle mirrors the same md5 with
    the same separators."""
    from json_validator_spark.operators.set_checks import snapshot_diff

    old = _load(spark, sf_dir, "documents")
    rest = [c for c in old.columns if c != "doc_id"]
    did = F.col("doc_id")
    kept = old.filter(did % 13 != 0).withColumn(
        "text",
        F.when(did % 13 == 1, F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
            F.col("text")
        ),
    )
    added = old.filter(did % 13 == 2).select(
        (did + 400000).alias("doc_id"), *rest
    )
    return snapshot_diff(old, kept.unionByName(added))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup: a new batch probed one-sidedly against
    the existing corpus (``dedup.incremental_neardup_pairs``) — the
    shuffle is sized by the increment, never the corpus. Same 0.999
    exact-duplicate contract as ``dedup_minhash`` (LSH recall is certain
    for identical shingle sets), so the oracle is the exact new-vs-corpus
    Jaccard join. The hot-bucket star guard is disabled here
    (``max_bucket=10**6``) because the oracle computes exact all-members
    semantics; its truncation behavior is pytest-covered."""
    from json_validator_spark.operators.dedup import incremental_neardup_pairs

    corpus = _load_spread(spark, sf_dir, "documents")
    return incremental_neardup_pairs(
        _increment_docs(corpus), corpus,
        k=3, n_hashes=16, n_bands=8, threshold=0.999, max_bucket=10**6,
    )


def q_dedup_incremental_accept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest APPLY step (``dedup.accept_new_documents``): new docs
    surviving both the corpus probe and intra-batch edge-greedy dedup —
    what actually gets appended to the corpus."""
    from json_validator_spark.operators.dedup import accept_new_documents

    corpus = _load_spread(spark, sf_dir, "documents")
    return accept_new_documents(
        _increment_docs(corpus), corpus,
        k=3, n_hashes=16, n_bands=8, threshold=0.999, max_bucket=10**6,
    ).select("doc_id")


def q_neardup_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup ingest batch parity: the increment replayed as
    three doc_id%3 arrival chunks through
    ``streaming/dedup_stream.neardup_ingest_stream`` (each micro-batch
    probed one-sidedly against the standing corpus index, accepted docs
    landing idempotently); the union of accepted batches must equal the
    batch ``accept_new_documents`` over the whole increment — same
    DuckDB oracle. (Intra-batch near-dup pairs cannot straddle chunks in
    this increment: every accepted doc carries a unique appended token,
    so acceptance is decided per doc against the corpus alone.)"""
    import tempfile

    from json_validator_spark.streaming.dedup_stream import neardup_ingest_stream

    docs = _load(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="jvs_ingest_parity_")
    corpus_path = f"{base}/corpus"
    docs.select("doc_id", "text").write.parquet(corpus_path)
    inc = _increment_docs(docs)
    c = F.col("doc_id") % 3
    in_dir = _write_chunks(inc, base, [c == 0, c == 1, c == 2])
    q = neardup_ingest_stream(
        spark, in_dir, "doc_id long, text string", corpus_path,
        f"{base}/out", f"{base}/ckpt",
        k=3, n_hashes=16, n_bands=8, threshold=0.999, max_bucket=10**6,
    )
    q.awaitTermination()
    return _rows_then_remove(spark.read.parquet(f"{base}/out/accepted").select("doc_id"), base)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.dedup import simhash

    return simhash(_load_spread(spark, sf_dir, "documents"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded simhash near-dup pairs. The hot-bucket star guard is
    explicitly disabled here (``max_bucket=10**6``): the oracle computes
    the exact all-pairs hamming set, and the word-soup corpus at sf0.1
    packs >1000 docs into single band buckets, where the guard would
    (by design) emit the O(n) star subset instead. Production keeps the
    default guard; its truncation semantics are pytest-covered
    (``test_lsh_hot_bucket_star_guard``)."""
    from json_validator_spark.operators.dedup import simhash, simhash_neardup_pairs

    sims = simhash(_union_dup_docs(_load_spread(spark, sf_dir, "documents")))
    return simhash_neardup_pairs(sims, max_hamming=3, n_bands=4, max_bucket=10**6)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: simhash banded pairs → iterative
    min-label connected components (pointer-jumping, O(log diameter)
    rounds) → one (doc_id, component_id) row per clustered doc with the
    cluster size and the min-id canonical flag. DuckDB mirror: the same
    pair set fed through a recursive CTE computing min-reachable-id —
    a HARD oracle for an iterative algorithm."""
    from json_validator_spark.operators.dedup import (
        connected_components,
        simhash,
        simhash_neardup_pairs,
    )

    sims = simhash(_union_dup_docs(_load_spread(spark, sf_dir, "documents")))
    pairs = simhash_neardup_pairs(sims, max_hamming=3, n_bands=4, max_bucket=10**6)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component_id").select(
        F.col("node").alias("doc_id"),
        "component_id",
        "cluster_size",
        (F.col("node") == F.col("component_id")).alias("is_canonical"),
    )


def q_dedup_components_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level APPLY step: the surviving corpus after keeping one
    doc per transitive simhash cluster — the downstream feed after
    near-dup clustering. Oracle: recursive-CTE closure → drop every
    non-canonical clustered node."""
    from json_validator_spark.operators.dedup import (
        drop_cluster_duplicates,
        simhash,
        simhash_neardup_pairs,
    )

    docs = _union_dup_docs(_load_spread(spark, sf_dir, "documents"))
    pairs = simhash_neardup_pairs(
        simhash(docs), max_hamming=3, n_bands=4, max_bucket=10**6
    )
    return drop_cluster_duplicates(docs, pairs).select("doc_id")


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.similarity import cosine_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "sim"
    )


def q_knn_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.similarity import cosine_topk_numpy

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_numpy(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "sim"
    )


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.similarity import lsh_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, queries, dim=DIM, k=5, n_planes=8)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "sim"
    )


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (deterministic mini-k-means codebook,
    Arrow-batched assignment, probe-2-of-8 clusters) under the
    tolerance-boolean oracle contract (the ``tdigest`` pattern —
    VERDICT r02 next-round #5): per query, recall is computed in-Spark
    against the exact top-k (itself oracle-checked as ``knn_numpy``).
    Config = the library defaults (probe-4-of-16, 10 Lloyd iters) —
    the knee of the round-4 recall/latency sweep (BENCH.md "IVF
    recall/latency curve"). Two deterministic assertions red the hash
    on regression: per-query recall ≥ 0.6 (``recall_ok``) and MEAN
    recall over the query set ≥ 0.8 (``mean_recall_ok`` — the r03
    verdict's raised floor; measured means at this config are
    0.875–0.95 across sf0.001/0.01/0.1, exactly reproducible because
    codebook init, sampling and assignment are all hash-deterministic)."""
    from json_validator_spark.operators.similarity import cosine_topk_numpy, ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = ivf_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    exact = cosine_topk_numpy(emb, queries, k=5).select("query_id", "neighbor_id")
    hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    per_q = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    recall = F.coalesce("n_hits", F.lit(0)) / F.col("n_exact")
    scored = per_q.join(hits, "query_id", "left").select(
        "query_id",
        F.col("n_exact").cast("long").alias("n_exact"),
        (recall >= F.lit(0.6)).alias("recall_ok"),
        recall.alias("__r"),
    )
    mean_ok = scored.agg((F.avg("__r") >= F.lit(0.8)).alias("m")).first()["m"]
    return scored.select(
        "query_id", "n_exact", "recall_ok",
        F.lit(bool(mean_ok)).alias("mean_recall_ok"),
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE-ONLY: exact all-pairs cosine (BroadcastNestedLoopJoin,
    O(n²)) — exists purely as the oracle-checked ground truth at test
    scale. NEVER run this on a real corpus; the scale path is
    ``embedding_neardup_lsh`` (bucketed, candidate-only rerank)."""
    from json_validator_spark.operators.similarity import cosine

    emb = _load(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("sim"))
        .filter(F.col("sim") >= 0.45)
    )


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale embedding near-dup: LSH-bucket self-join (2 hash
    tables × 4 planes) + exact in-bucket cosine — pairs ⊆ the brute-force
    set at the same threshold, candidate volume Σ|bucket|² instead of n²."""
    from json_validator_spark.operators.similarity import lsh_neardup_pairs

    emb = _load(spark, sf_dir, "embeddings")
    return lsh_neardup_pairs(emb, dim=DIM, threshold=0.45, n_planes=4, n_tables=2)


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.embedding_checks import embedding_stats

    return embedding_stats(_load(spark, sf_dir, "embeddings"))


def q_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.embedding_checks import label_centroid_similarity

    return label_centroid_similarity(_load(spark, sf_dir, "embeddings"))


def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column
    (``embedding_checks.quantize_embeddings``): per-dim min/max in one
    agg pass, codes + reconstruction error per vector, half-step error
    invariant. All float64 with explicit floor(x+0.5) rounding, so the
    DuckDB mirror reproduces codes and errors exactly."""
    from json_validator_spark.operators.embedding_checks import quantize_embeddings

    return quantize_embeddings(_load(spark, sf_dir, "embeddings"), dim=64)


def q_embedding_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.embedding_checks import embedding_violations

    return embedding_violations(_load(spark, sf_dir, "embeddings"), expected_dim=DIM)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.text_checks import token_stats

    out = token_stats(_load_spread(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.text_checks import quality_scores

    out = quality_scores(_load_spread(spark, sf_dir, "documents"), min_tokens=10)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "stopword_ratio", "alnum_ratio", "dup_token_ratio", "mean_token_len", "keep",
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.text_checks import language_id

    out = language_id(_load_spread(spark, sf_dir, "documents"), claimed_col="lang")
    return out.select(
        "doc_id", "pred_lang", F.col("best_score").cast("long").alias("best_score"), "lang_match"
    )


def q_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning recipe (``text_checks.filter_pipeline``):
    quality + language + repetition + boilerplate in one keep/drop
    verdict with fixed-order reason codes. Narrow signals fused over a
    single tokenization; agg signals join back per doc. Thresholds
    chosen so every reason code fires on this corpus (43 short docs,
    'zh' docs predict 'und', the word-soup tail trips repetition)."""
    from json_validator_spark.operators.text_checks import filter_pipeline

    return filter_pipeline(
        _load_spread(spark, sf_dir, "documents"),
        min_tokens=20, max_dup_ratio=0.65,
        allowed_langs=("en", "es", "fr", "de"),
        max_top_bigram_frac=0.08, max_boilerplate_ratio=0.2,
        boiler_k=3, boiler_min_df=3,
    )


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate fraction at 2-token segment granularity
    (the corpus' small vocabulary makes 2-grams the realistic repetition
    unit at test scale; real corpora use the default k=8)."""
    from json_validator_spark.operators.text_checks import boilerplate_stats

    return boilerplate_stats(
        _load_spread(spark, sf_dir, "documents"), k=2, min_df=5
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: every 50th doc is the held-out
    benchmark; the rest of the corpus is scored by 3-gram overlap
    against the (broadcast) benchmark shingle set."""
    from json_validator_spark.operators.text_checks import contamination_overlap

    docs = _load_spread(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_overlap(corpus, bench, k=3, min_overlap=2)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.text_checks import repetition_stats

    return repetition_stats(_load_spread(spark, sf_dir, "documents"), n=2)


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.text_checks import winnow_fingerprints

    return winnow_fingerprints(_load_spread(spark, sf_dir, "documents"), k=20, window=8)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters: top-50 corpus tokens by frequency,
    lexicographic tie-break, dense 1-based rank."""
    from json_validator_spark.operators.text_checks import vocab_topk

    out = vocab_topk(_load_spread(spark, sf_dir, "documents"), k=50)
    return out.select(F.col("rank").cast("long").alias("rank"), "token", "n")


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc TF-IDF top-3 terms (``text_checks.tfidf_top_terms``):
    tf·ln(N/df) with (score desc, term asc) tie-break; ranking on the
    unrounded float64 score, bit-identical across engines."""
    from json_validator_spark.operators.text_checks import tfidf_top_terms

    return tfidf_top_terms(_load_spread(spark, sf_dir, "documents"), k=3)


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge candidates (``text_checks.bpe_merge_candidates``):
    top-50 adjacent-character pairs over the word-count table, total
    (n desc, pair asc) order. Oracle: the same two-level aggregation in
    DuckDB with a literal row_number."""
    from json_validator_spark.operators.text_checks import bpe_merge_candidates

    out = bpe_merge_candidates(_load_spread(spark, sf_dir, "documents"), k=50)
    return out.select(F.col("rank").cast("long").alias("rank"), "pair", "n")


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scores over `documents` (model trained on the
    corpus itself). The keep threshold -3.45 sits inside the synthetic
    corpus' score band ([-4.0, -3.38] across sf0.001-0.1) so BOTH
    verdicts occur at every scale (~4% rejected), keeping the boolean
    column a real signal rather than a constant."""
    from json_validator_spark.operators.text_checks import lm_scores

    return lm_scores(_load_spread(spark, sf_dir, "documents"), min_mean_lp=-3.45)


def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc substring duplication at winnowing granularity (same
    k=20/window=8 fingerprints as the `winnow` query)."""
    from json_validator_spark.operators.text_checks import substring_dup_stats

    return substring_dup_stats(
        _load_spread(spark, sf_dir, "documents"), k=20, window=8, min_docs=2
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-JSON validation THROUGH the engine: parse the stringly
    ``props`` payload once (S2 acceptance layer), then evaluate map /
    enum / range rules via the ordinary rule table — no ad-hoc
    expressions, the same compile path as every other ruleset."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.model import Rule, RuleSet
    from json_validator_spark.sources.ingest import parse_json_column

    ev = parse_json_column(
        _load(spark, sf_dir, "events"), "props", "map<string,string>", parsed_col="pm"
    )
    rs = RuleSet(
        name="events",
        rules=(
            Rule("requiredKey.props.k", "/pm/k", "required"),
            Rule(
                "enum.event_type", "/event_type", "enum",
                {"values": ["click", "view", "purchase"]}, severity="warning",
            ),
            Rule("range.value", "/value", "range", {"min": 0.0, "max": 100.0}),
        ),
    )
    v = violations_df(ev, rs, doc_id="event_id")
    # span_path of the map-key rule renders '/pm/k' (the parsed column);
    # report it at the payload's pointer like the reference would
    return v.select(
        "doc_id",
        F.when(F.col("span_path") == "/pm/k", F.lit("/props/k"))
        .otherwise(F.col("span_path"))
        .alias("span_path"),
        "rule_id",
        "severity",
    )


def q_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 acceptance as a reusable operator (``FileManager.java:58-64``):
    every 13th event's props is mangled into invalid JSON; PERMISSIVE
    parse + the null-disambiguation yields one violation per corrupt
    payload, and the valid rows proceed untouched."""
    from json_validator_spark.sources.ingest import corrupt_record_violations

    ev = _load(spark, sf_dir, "events")
    mangled = ev.withColumn(
        "props",
        F.when(
            F.col("event_id") % 13 == 0, F.concat(F.lit("{"), F.col("props"))
        ).otherwise(F.col("props")),
    )
    return corrupt_record_violations(
        mangled, "props", "map<string,string>", doc_id="event_id"
    )


def q_corpus_doc_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document verdicts over the DERIVED span corpus — the TAR
    result/counter contract (result, n_errors) checked end-to-end
    against the oracle's independent reconstruction."""
    from json_validator_spark.operators.report import doc_verdicts
    from json_validator_spark.operators.row_checks import with_violations
    from json_validator_spark.sources.derive import derive_corpus, derived_corpus_ruleset

    docs = _load_spread(spark, sf_dir, "documents")
    wv = with_violations(derive_corpus(docs), derived_corpus_ruleset())
    return doc_verdicts(wv).select(
        "doc_id", F.col("n_errors").cast("long").alias("n_errors"), "result"
    )


def q_span_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-row span-sequence-equality invariant (BASELINE.json
    input_hint): signatures (kind, text, media_ref, positional order)
    before vs after the salted repartition — every row must hold. The
    md5-based ``span_signature`` is reconstructed independently by the
    DuckDB oracle (same md5-of-joined-fields discipline as everything
    else), so this is a HARD oracle row: the oracle recomputes every
    signature from the raw documents table and asserts the invariant."""
    from json_validator_spark.plans.pipeline import salted_repartition
    from json_validator_spark.sources.derive import derive_corpus
    from json_validator_spark.sources.synth import span_signature

    docs = _load(spark, sf_dir, "documents")
    corpus = derive_corpus(docs)
    before = span_signature(corpus).select("doc_id", F.col("span_sig").alias("sig_before"))
    after = span_signature(salted_repartition(corpus, 16)).select(
        "doc_id", F.col("span_sig").alias("sig_after")
    )
    return (
        before.join(after, "doc_id")
        .select(
            "doc_id", "sig_before",
            (F.col("sig_before") == F.col("sig_after")).alias("invariant_holds"),
        )
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (``media.frame_sample``): one row
    per sampled frame offset over the deterministic synthetic media
    table. Oracle: the catalog (hex-uuid refs), the md5-derived
    duration, the frame series and the frame hash are all reproducible
    in DuckDB."""
    from json_validator_spark.operators.media import frame_sample, synth_media_table
    from json_validator_spark.sources.synth import synth_media_catalog

    media = synth_media_table(spark, synth_media_catalog(spark, catalog_size=500))
    return frame_sample(media, every_ms=5000).select(
        "media_ref", "frame_idx", "frame_offset_ms", "frame_hash"
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payloads → Arrow-batched decode →
    per-mime feature aggregates. Deterministic synthetic media (no
    media table in the driver testdata); codec stubbed, plumbing real.
    Oracle-backed: the synthetic payload is md5(media_ref) tiled 16x,
    so the byte-level aggregates (mean, histogram entropy) are exactly
    reproducible in DuckDB from the digest hex — only the stubbed
    ``feature`` vector is engine-side, and it is not in this result."""
    from json_validator_spark.operators.media import decode_features, synth_media_table
    from json_validator_spark.sources.synth import synth_media_catalog

    media = synth_media_table(spark, synth_media_catalog(spark, catalog_size=500))
    feats = decode_features(media, dim=16)
    return (
        feats.groupBy("mime_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("byte_mean"), 6).alias("avg_byte_mean"),
            F.round(F.avg("byte_entropy_proxy"), 6).alias("avg_entropy"),
        )
        .orderBy("mime_type")
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode: genuine P6 PPM / PCM WAV payloads parsed
    with pure numpy/struct (``operators/media_codecs``), corrupt
    payloads surfacing as decode_ok=false — now a COUNT-contract oracle
    row (VERDICT r02 next-round #6): the corruption decision is an
    md5-threshold on ``media_ref`` (``media.synth_decodable_media``:
    ``md5(ref)[0] % 97 == 0``) and the catalog refs/mimes are pure
    ``doc id`` arithmetic (``sources/synth.synth_media_catalog``), so
    DuckDB reproduces the full (mime_type, decode_ok, n) contingency
    table without decoding a byte. The decoded-pixel/sample features
    (brightness/rms) stay engine-side, covered by the codec round-trip
    pytest."""
    from json_validator_spark.operators.media import (
        decode_media_features,
        synth_decodable_media,
    )
    from json_validator_spark.sources.synth import synth_media_catalog

    media = synth_decodable_media(spark, synth_media_catalog(spark, catalog_size=500))
    f = decode_media_features(media)
    return (
        f.groupBy("mime_type", "decode_ok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("mime_type", "decode_ok")
    )


def q_combination_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_validator_spark.operators.row_checks import with_violations
    from json_validator_spark.rules.model import Combination, Rule, RuleSet

    rs = RuleSet(
        name="any",
        combination=Combination.ANY,
        rules=(
            Rule("a.range.n_chars", "/n_chars", "range", {"min": 50, "max": 250}, ruleset="A"),
            Rule("b.enum.lang", "/lang", "enum", {"values": ["en"]}, ruleset="B"),
        ),
    )
    wv = with_violations(_load(spark, sf_dir, "documents"), rs)
    return wv.select(
        "doc_id",
        F.col("n_branches_passed").cast("long").alias("n_branches_passed"),
        F.when(F.col("doc_pass"), F.lit("SUCCESS")).otherwise(F.lit("FAILURE")).alias("result"),
    )


def q_combination_any_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANY-combination failure shaping: docs failing every branch emit
    the combination header plus each branch's violations prefixed
    ``[n]: `` (``JSONValidator.java:279-294,305-310``)."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.model import Combination, Rule, RuleSet

    rs = RuleSet(
        name="any-report",
        combination=Combination.ANY,
        rules=(
            Rule("a.range.n_chars", "/n_chars", "range", {"min": 50, "max": 250}, ruleset="A"),
            Rule("b.enum.lang", "/lang", "enum", {"values": ["en"]}, ruleset="B"),
        ),
    )
    return violations_df(_load(spark, sf_dir, "documents"), rs)


def q_combination_oneof_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE_OF failure shaping: 0 branches → header + branch-tagged
    violations; >1 branches → the multiple-match violation
    (``JSONValidator.java:259-278``, ``validator_en.properties:17,21``)."""
    from json_validator_spark.operators.row_checks import violations_df

    return violations_df(_load(spark, sf_dir, "documents"), _oneof_ruleset())


def q_combination_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group composition (``JSONValidator.java:423-435``): an
    external ANY-group ⊕ a preconfigured ALL-group, conjoined allOf-style
    while each keeps its own approach — the ``userAnyOf``-style profiles
    of ``etc/dev/test/config.properties:8-11``."""
    from json_validator_spark.operators.row_checks import with_violations
    from json_validator_spark.rules.model import Combination, Rule, RuleSet, RuleSetGroup

    grp = RuleSetGroup(
        groups=(
            RuleSet(
                name="external",
                combination=Combination.ANY,
                rules=(
                    Rule("a.range.n_chars", "/n_chars", "range", {"min": 50, "max": 250}, ruleset="A"),
                    Rule("b.enum.lang", "/lang", "enum", {"values": ["en"]}, ruleset="B"),
                ),
            ),
            RuleSet(
                name="preconfigured",
                rules=(
                    Rule("pattern.source", "/source", "pattern", {"regex": "^src[0-9]$"}),
                    Rule("required.text", "/text", "required"),
                ),
            ),
        )
    )
    wv = with_violations(_load(spark, sf_dir, "documents"), grp)
    return wv.select(
        "doc_id",
        F.col("n_branches_passed").cast("long").alias("n_groups_passed"),
        F.size("violations").cast("long").alias("n_violations"),
        F.when(F.col("doc_pass"), F.lit("SUCCESS")).otherwise(F.lit("FAILURE")).alias("result"),
    )


def q_schema_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual interface — a JSON-Schema DOCUMENT —
    compiled by ``rules/schema_import.ruleset_from_json_schema`` into
    the flat rule table and executed as one scan: required +
    dependentRequired, typed/lexical keywords, an ``x-severity``
    downgrade, and a ``$defs``/``$ref`` chain, all against the raw
    documents columns so DuckDB mirrors every failing condition
    independently."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.schema_import import ruleset_from_json_schema

    schema = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "type": "object",
        "required": ["text"],
        "dependentRequired": {"source": ["lang"]},
        "$defs": {"cap": {"maximum": 380}},
        "properties": {
            "text": {"type": "string", "minLength": 30},
            "lang": {"enum": ["en", "es", "fr"], "x-severity": "warning"},
            "source": {"pattern": "^src[0-9]$", "maxLength": 4},
            "n_chars": {"minimum": 40, "multipleOf": 3, "$ref": "#/$defs/cap"},
        },
    }
    rs, defs = ruleset_from_json_schema(schema, name="imported")
    return violations_df(_load(spark, sf_dir, "documents"), rs, definitions=defs)


def q_schema_import_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-document schema set — the ``LocalSchemaCache`` semantics
    (``LocalSchemaCache.java:62-73,99-132`` preloaded ``$id → document``
    map; ``LocalSchemaResolver.java:71-85`` local-first resolution): the
    root schema references a shared vocabulary document (relative
    ``$ref`` against its ``$id``) and a whole limits DOCUMENT, which
    itself chains back into the shared document. All three compile into
    one flat rule table and run as a single scan."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.schema_import import ruleset_from_json_schema
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    common = {
        "$id": "https://example.test/common.schema.json",
        "$defs": {
            "shortText": {"type": "string", "maxLength": 300,
                          "allOf": [{"$ref": "#/$defs/nonEmpty"}]},
            "nonEmpty": {"minLength": 1},
            "langCode": {"enum": ["en", "es", "fr", "de"]},
            "srcTag": {"pattern": "^src[0-3]$"},
            "capped": {"maximum": 380},
        },
    }
    limits = {
        "$id": "https://example.test/limits.schema.json",
        "minimum": 50,
        "allOf": [{"$ref": "common.schema.json#/$defs/capped"}],
    }
    root = {
        "$id": "https://example.test/docs.schema.json",
        "type": "object",
        "required": ["text"],
        "properties": {
            "text": {"$ref": "common.schema.json#/$defs/shortText"},
            "lang": {"$ref": "https://example.test/common.schema.json#/$defs/langCode"},
            "source": {"$ref": "common.schema.json#/$defs/srcTag"},
            "n_chars": {"$ref": "limits.schema.json"},
        },
    }
    reg = SchemaRegistry()
    reg.register(common)
    reg.register(limits)
    rs, defs = ruleset_from_json_schema(root, name="multi", registry=reg)
    return violations_df(_load(spark, sf_dir, "documents"), rs, definitions=defs)


def q_schema_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2020-12 ``$dynamicRef``/``$dynamicAnchor`` end-to-end (static
    entry-chain binding, ``rules/schema_import._collect_dynamic_bindings``):
    a shared library document exposes two extension points via
    ``$dynamicRef``; the entry schema OVERRIDES one (``srccheck`` → a
    stricter pattern, the spec's strict-tree-style re-routing) and leaves
    the other (``langcheck``) to the library default, exercising both
    sides of the bookending rule across documents."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.schema_import import ruleset_from_json_schema
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    lib = {
        "$id": "https://example.test/dyn-lib",
        "$defs": {
            "srcCheck": {"$dynamicAnchor": "srccheck", "type": "string"},
            "srcHolder": {"$dynamicRef": "#srccheck"},
            "langCheck": {"$dynamicAnchor": "langcheck",
                          "enum": ["en", "es", "fr", "de"]},
            "langHolder": {"$dynamicRef": "#langcheck"},
        },
    }
    entry = {
        "type": "object",
        "$defs": {"strictSrc": {"$dynamicAnchor": "srccheck",
                                "pattern": "^src[0-2]$"}},
        "properties": {
            "source": {"$ref": "https://example.test/dyn-lib#/$defs/srcHolder"},
            "lang": {"$ref": "https://example.test/dyn-lib#/$defs/langHolder"},
        },
    }
    reg = SchemaRegistry()
    reg.register(lib)
    rs, defs = ruleset_from_json_schema(entry, name="dyn", registry=reg)
    return violations_df(_load(spark, sf_dir, "documents"), rs, definitions=defs)


def q_schema_draft4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Draft-4 dialect corner (VERDICT r04 #2): boolean
    ``exclusiveMinimum``/``exclusiveMaximum`` — the modifier spelling the
    reference accepts via networknt's v4 mode (dialect selected from
    ``$schema``, ``JSONValidator.java:321-345``). ``exclusiveMinimum:
    true`` makes the sibling ``minimum`` strict; ``exclusiveMaximum:
    false`` keeps the sibling ``maximum`` inclusive — the oracle's
    boundary predicates (``<= 60`` vs ``> 380``) distinguish both."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.schema_import import ruleset_from_json_schema

    schema = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "type": "object",
        "properties": {
            "n_chars": {"type": "integer",
                        "minimum": 60, "exclusiveMinimum": True,
                        "maximum": 380, "exclusiveMaximum": False},
            "source": {"type": "string", "pattern": "^src[0-2]$"},
        },
    }
    rs, defs = ruleset_from_json_schema(schema, name="draft4")
    return violations_df(_load(spark, sf_dir, "documents"), rs, definitions=defs)


def q_schema_draft4_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Draft-4's ``id`` keyword — no ``$`` (draft-4 core §7.2, renamed
    ``$id`` in draft-6; networknt's V4 mode resolves both,
    ``JSONValidator.java:321-345``): the dialect pre-pass
    (``rules/schema_import._dialect_step``) renames it in schema
    positions only, so a property literally NAMED ``id`` is untouched.
    Exercises all three ``id`` roles at once: document registration key
    (a draft-4 library registered by ``id`` and cross-referenced), root
    base URI, and plain-name anchor (``id: "#cap"`` targeted by
    ``$ref: "#cap"``)."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.schema_import import ruleset_from_json_schema
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    d4 = "http://json-schema.org/draft-04/schema#"
    lib = {
        "$schema": d4,
        "id": "https://example.test/d4-reg-lib",
        "definitions": {"srcpat": {"pattern": "^src[0-2]$"}},
    }
    reg = SchemaRegistry()
    reg.register(lib)
    schema = {
        "$schema": d4,
        "id": "https://example.test/d4-entry",
        "type": "object",
        "definitions": {"cap": {"id": "#cap", "maximum": 380}},
        "properties": {
            "n_chars": {"$ref": "#cap"},
            "source": {"$ref": "https://example.test/d4-reg-lib#/definitions/srcpat"},
        },
    }
    rs, defs = ruleset_from_json_schema(schema, name="d4id", registry=reg)
    return violations_df(_load(spark, sf_dir, "documents"), rs, definitions=defs)


def q_schema_recursive_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2019-09 ``$recursiveRef``/``$recursiveAnchor`` (VERDICT r04 #3),
    mapped onto the dynamic-binding machinery they were renamed into
    (``rules/schema_import._dialect_step``): a library document
    whose root declares ``$recursiveAnchor: true`` and a default cap
    exposes the extension point via ``$recursiveRef: "#"``; the entry
    either overrides it (stricter cap, the spec's recursive meta-schema
    extension pattern) or inherits the library default — both sides
    unioned with a ``side`` tag."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.schema_import import ruleset_from_json_schema
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    lib = {
        "$id": "https://example.test/rec-lib",
        "$recursiveAnchor": True,
        "maximum": 380,
        "$defs": {"holder": {"$recursiveRef": "#"}},
    }
    reg = SchemaRegistry()
    reg.register(lib)
    ref = {"$ref": "https://example.test/rec-lib#/$defs/holder"}
    over = {
        "type": "object",
        "$defs": {"strictCap": {"$recursiveAnchor": True, "maximum": 300}},
        "properties": {"n_chars": ref},
    }
    plain = {"type": "object", "properties": {"n_chars": ref}}
    docs = _load(spark, sf_dir, "documents")
    rs_o, defs_o = ruleset_from_json_schema(over, name="rec-over", registry=reg)
    rs_p, defs_p = ruleset_from_json_schema(plain, name="rec-plain", registry=reg)
    a = violations_df(docs, rs_o, definitions=defs_o).withColumn(
        "side", F.lit("override"))
    b = violations_df(docs, rs_p, definitions=defs_p).withColumn(
        "side", F.lit("default"))
    return a.unionByName(b)


def q_plugin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plugin fan-out + merge (VERDICT r04 #8, previously pytest-only):
    two deterministic 'plugin' violation frames — the
    ``extra_violations`` hook, mirroring the reference's configured
    plugin validators whose TAR reports merge into the schema pass
    (``JSONValidator.java:193-219``) — union into ``validate_run``'s
    stream, and the returned ``doc_verdicts_merged`` counters count
    plugin items alongside built-in rule errors exactly like the
    merged-TAR report (``:443-459``)."""
    from json_validator_spark.plans.pipeline import validate_run
    from json_validator_spark.rules.model import Rule, RuleSet

    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    rs = RuleSet(
        name="plugin-host",
        rules=(
            Rule("cap.n_chars", "/n_chars", "maximum", {"value": 380}),
            Rule("srcpat.source", "/source", "pattern", {"regex": "^src[0-2]$"},
                 severity="warning"),
        ),
    )
    plug_scan = docs.filter(d % 10 == 0).select(
        "doc_id",
        F.lit("/").alias("span_path"),
        F.lit("plugin.scan").alias("rule_id"),
        F.lit("error").alias("severity"),
        F.lit("external plugin finding").alias("message"),
    )
    plug_note = docs.filter(d % 7 == 0).select(
        "doc_id",
        F.lit("/").alias("span_path"),
        F.lit("plugin.note").alias("rule_id"),
        F.lit("warning").alias("severity"),
        F.lit("external plugin note").alias("message"),
    )
    res = validate_run(
        spark, docs, rs, check_uniqueness=False,
        extra_violations=[plug_scan, plug_note],
    )
    return res.doc_verdicts_merged


def q_detail_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-interpolated detailed messages (VERDICT r04 #6):
    ``violations_df(..., detail=True)`` appends the reference's
    ``Expected {1} but found {0}`` information
    (``jsv-messages.properties:27``, ``JSONValidator.java:461-465``
    detailed items) to the value-free template — scalar bound, pattern,
    and a required/absent case over a derived nullable column. The
    template prefix and rule_id identity are untouched, so
    ``aggregate_report`` is bit-identical in both modes (pytest
    ``test_detail_messages_leave_aggregate_unchanged``)."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.model import Rule, RuleSet

    d = F.col("doc_id")
    frame = _load(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "source",
        F.when(d % 6 == 0, F.lit(None).cast("string"))
        .otherwise(F.coalesce(F.col("lang"), F.lit("und"))).alias("lang_opt"),
    )
    rs = RuleSet(
        name="detail",
        rules=(
            Rule("cap.n_chars", "/n_chars", "maximum", {"value": 380}),
            Rule("srcpat.source", "/source", "pattern", {"regex": "^src[0-2]$"}),
            Rule("req.lang_opt", "/lang_opt", "required", {}),
        ),
    )
    return violations_df(frame, rs, detail=True)


def q_sample_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SHIPPED sample schema end-to-end
    (``etc/dev/sample/sample-v1.0/sample.json`` — recursive
    ``person.children``, required firstName/lastName, integer age):
    a deterministic person corpus is synthesized from ``documents``
    (chain depth = doc_id % 4), flattened to node rows at depth ≤ 2
    (``sources/derive.flatten_recursive``) and validated with the
    per-node rules imported from the sample's person definition. Nodes
    nesting DEEPER than the unrolled depth surface as explicit
    ``person.refDepthExceeded`` violations — error, never silence."""
    from json_validator_spark.operators.row_checks import with_violations
    from json_validator_spark.rules.schema_import import ruleset_from_json_schema
    from json_validator_spark.sources.derive import flatten_recursive

    d = F.col("doc_id")
    nul = F.lit(None).cast("string")

    def child(depth: int, children):
        fields = [
            F.concat(F.lit(f"c{depth}_"), d.cast("string")).alias("firstName"),
            F.when((d + depth) % 6 == 0, nul)
            .otherwise(F.lit(f"x{depth}")).alias("lastName"),
            (d % 89).cast("string").alias("age"),
        ]
        if children is not None:
            fields.append(children.alias("children"))
        return F.struct(*fields)

    c = d % 4  # chain depth below the root person
    p3 = child(3, None)
    p2 = child(2, F.when(c >= 3, F.array(p3)))
    p1 = child(1, F.when(c >= 2, F.array(p2)))
    p0 = F.struct(
        F.when(d % 7 == 0, nul)
        .otherwise(F.concat(F.lit("fn"), d.cast("string"))).alias("firstName"),
        F.when(d % 11 == 3, nul)
        .otherwise(F.concat(F.lit("ln"), d.cast("string"))).alias("lastName"),
        F.when(d % 5 == 2, F.lit("x"))
        .otherwise((d % 97).cast("string")).alias("age"),
        F.when(c >= 1, F.array(p1)).alias("children"),
    )
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", F.to_json(F.array(p0)).alias("people_json")
    )
    nodes = flatten_recursive(
        docs, "people_json",
        {"firstName": "string", "lastName": "string", "age": "string"},
        max_depth=2,
    )
    # the sample's person definition minus the recursive ref (which the
    # flatten realizes as rows); age stays `integer` → lexical try-cast
    person_top = {
        "type": "object",
        "required": ["firstName", "lastName"],
        "properties": {
            "firstName": {"type": "string"},
            "lastName": {"type": "string"},
            "age": {"type": "integer"},
        },
    }
    rs, defs = ruleset_from_json_schema(person_top, name="person")
    # the recursion boundary as ONE MORE guarded rule (depth==max_depth
    # nodes must have no children) so the whole validation — keyword
    # rules AND the boundary — is a single pass over the node table; a
    # separate boundary consumer would re-run the flatten lineage
    from json_validator_spark.rules.model import Rule, RuleSet

    rs = RuleSet(
        name=rs.name,
        rules=rs.rules + (
            Rule("person.refDepthExceeded", "/n_children", "maximum",
                 {"value": 0, "when_doc": {"target": "/depth", "eq": 2}}),
        ),
    )
    return (
        with_violations(nodes, rs, defs)
        .select("doc_id", "node_path", F.explode_outer("violations").alias("v"))
        .filter(F.col("v").isNotNull())
        .select(
            "doc_id", "node_path",
            F.col("v.rule_id").alias("rule_id"),
            F.col("v.severity").alias("severity"),
        )
    )


def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (``text_checks.normalize_text`` — the
    ingest-hygiene op that keeps precomposed/decomposed graphemes from
    splitting dedup hash groups): deterministic mixed corpus (every 3rd
    doc gets a DECOMPOSED e+U+0301 suffix, every 3rd+1 the precomposed
    U+00E9), normalized via the Arrow-vectorized pandas UDF, mirrored by
    DuckDB's native ``nfc_normalize``."""
    from json_validator_spark.operators.text_checks import normalize_text

    d = F.col("doc_id")
    mixed = (
        F.when(d % 3 == 0, F.concat(F.col("text"), F.lit(" caf"), F.lit("é")))
        .when(d % 3 == 1, F.concat(F.col("text"), F.lit(" caf"), F.lit("é")))
        .otherwise(F.col("text"))
    )
    docs = _load(spark, sf_dir, "documents").select("doc_id", mixed.alias("text"))
    return normalize_text(docs).select("doc_id", "norm_text", "changed")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weight downsampling (``operators/sampling``): keep en at
    0.5, es at 0.25, fr at 0.1, everything else (incl. NULL lang) at
    0.05 — plan-constant md5 decision per doc_id, pure narrow filter,
    bit-reproduced by the DuckDB mirror."""
    from json_validator_spark.operators.sampling import stratified_sample

    docs = _load(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", {"en": 0.5, "es": 0.25, "fr": 0.1}, default_fraction=0.05
    ).select("doc_id", "lang")


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test carve (80/10/10) by id-hash
    cumulative weight — every row lands in exactly one split, identical
    at any parallelism / partitioning."""
    from json_validator_spark.operators.sampling import hash_split

    docs = _load(spark, sf_dir, "documents")
    return hash_split(docs).select("doc_id", "split")


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test carve
    (``operators/sampling.cluster_safe_split``): a plain per-doc
    ``hash_split`` scatters near-duplicates across splits, so the
    held-out set contains near-copies of training docs. Here the split
    key is the TRANSITIVE simhash near-dup cluster's canonical (min) id
    — every cluster member lands in the same split by construction;
    unclustered docs keep the plain per-id assignment. Oracle: the
    recursive-CTE component closure + the identical md5
    cumulative-weight CASE over ``coalesce(component_id, doc_id)``."""
    from json_validator_spark.operators.dedup import simhash, simhash_neardup_pairs
    from json_validator_spark.operators.sampling import cluster_safe_split

    docs = _union_dup_docs(_load_spread(spark, sf_dir, "documents"))
    pairs = simhash_neardup_pairs(
        simhash(docs), max_hamming=3, n_bands=4, max_bucket=10**6
    )
    return cluster_safe_split(docs, pairs).select("doc_id", "split")


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture design (``operators/sampling.mixture_weights``):
    per-stratum keep fractions that reshape the corpus TOKEN mixture
    exactly onto target shares by downsampling only (Pile/DoReMi-style
    source weighting). ONE partial-aggregated groupBy over the scan;
    the share/argmax arithmetic runs as windows over the tiny grouped
    result. Feeds ``stratified_sample`` directly."""
    from json_validator_spark.operators.sampling import mixture_weights

    docs = _load(spark, sf_dir, "documents")
    return mixture_weights(docs, "lang", {"en": 0.5, "es": 0.3, "fr": 0.2})


def q_resample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mixture apply
    (``operators/sampling.resample_to_mixture``): the keep fractions
    from ``mixture_weights`` drive a broadcast-joined md5 keep filter —
    one tiny agg pass + one narrow scan-bound filter. Oracle: the same
    fraction CTE joined null-safely, the same md5 uniform CASE."""
    from json_validator_spark.operators.sampling import resample_to_mixture

    docs = _load(spark, sf_dir, "documents")
    return resample_to_mixture(
        docs, "lang", {"en": 0.5, "es": 0.3, "fr": 0.2}
    ).select("doc_id", "lang")


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (``packing.global_shuffle``): exact
    global rank under ORDER BY md5(doc_id:salt) with NO global-sort
    window — md5-prefix range shards + in-shard rank + tiny offset
    cumsum. Oracle: DuckDB's literal row_number() over the same key."""
    from json_validator_spark.operators.packing import global_shuffle

    return global_shuffle(_load_spread(spark, sf_dir, "documents"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (``operators/packing``): md5-sharded,
    doc_id-ordered greedy boundary packing at a 256-token budget —
    per-doc ``(doc_id, shard, n_tokens, seq_id, seq_offset)``, mirrored
    exactly by DuckDB window cumsums over the same shard/order keys."""
    from json_validator_spark.operators.packing import pack_sequences

    docs = _load(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=256, n_shards=8)


def q_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence packing audit (``packing.sequence_stats``): doc
    count, token total and fill ratio per (shard, seq_id) — one
    partial-aggregated groupBy over the assignment."""
    from json_validator_spark.operators.packing import pack_sequences, sequence_stats

    docs = _load(spark, sf_dir, "documents")
    return sequence_stats(pack_sequences(docs, budget=256, n_shards=8), budget=256)


def q_pack_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing APPLY step (``packing.materialize_sequences``): the
    actual concatenated training sequences at a 256-token budget.
    Oracle: DuckDB string_agg in doc_id order over the identical
    shard/cumsum assignment."""
    from json_validator_spark.operators.packing import materialize_sequences

    docs = _load(spark, sf_dir, "documents")
    return materialize_sequences(docs, budget=256, n_shards=8)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (``operators/scrub``): deterministic email/phone
    injection into the corpus text (every 7th / 11th doc), then one
    narrow scrub pass — per-doc counts measured on the original text
    plus the md5 of the redacted text, both DuckDB-reproduced."""
    from json_validator_spark.operators.scrub import pii_scrub

    d = F.col("doc_id")
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            d % 7 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), d.cast("string"),
                     F.lit("@example.com")),
        ).when(
            d % 11 == 0,
            F.concat(F.col("text"), F.lit(" call 555-123-4567 now")),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = pii_scrub(docs)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_phones").cast("long").alias("n_phones"),
        F.md5("scrubbed").alias("scrub_sig"),
    )


def q_top_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The truncated human-facing export (``ValidationRunner.java:163-176``
    caps) as a hard oracle row (VERDICT r02 next-round #8): top-3 rules
    by frequency over the derived-corpus violations, deterministic
    tiebreak (count desc, rule_id, severity) — k=3 of 4 rule families,
    so the truncation path is actually exercised."""
    from json_validator_spark.operators.report import top_violations
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.sources.derive import derive_corpus, derived_corpus_ruleset

    corpus = derive_corpus(_load_spread(spark, sf_dir, "documents"))
    v = violations_df(corpus, derived_corpus_ruleset())
    return top_violations(v, k=3).select(
        "rule_id", "severity", F.col("count").cast("long").alias("count")
    )


def q_tar_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TAR-shaped report contract (``JSONValidator.java:
    443-500``) as a hard oracle row (VERDICT r02 next-round #8):
    result + counters + the FULL ordered report-item list, content and
    ReportItemComparator ordering included, collapsed to an md5
    signature (md5 of the '|'-joined items in sorted order) that DuckDB
    reconstructs independently — any item, field, or ordering drift
    reds the hash. Built via ``tar_reports_from_violations`` — counters
    and the item list come out of ONE aggregation over the violation
    stream (a separately-derived verdict frame would re-evaluate the
    rule projection per consumer subtree)."""
    from json_validator_spark.operators.report import tar_reports_from_violations
    from json_validator_spark.operators.row_checks import violations_df

    docs = _load(spark, sf_dir, "documents")
    t = tar_reports_from_violations(docs, violations_df(docs, _doc_ruleset()))
    item = lambda r: F.concat_ws(  # noqa: E731
        "|", r["location"], r["rule_id"], r["severity"], r["description"]
    )
    return t.select(
        "doc_id",
        "result",
        F.col("counters.nrOfErrors").alias("nrOfErrors"),
        F.col("counters.nrOfWarnings").alias("nrOfWarnings"),
        F.size("reports").cast("long").alias("n_items"),
        F.md5(F.array_join(F.transform("reports", item), ";")).alias("reports_sig"),
    )


def q_keyword_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kitchen-sink oracle for the scalar keyword families that were
    pytest-only through round 2 (VERDICT r02 next-round #1): type
    (try_cast), unionType (lexical), min/maxLength, multipleOf, in-schema
    allOf/anyOf/oneOf/not, a 2-level $ref chain, contentEncoding,
    contentMediaType, readOnly (forbidden), draft-4 ``dependencies``
    (dependentRequired alias) and ``notAllowed`` (false schema) — the
    keyword catalog the reference treats as its contract
    (``jsv-messages.properties:1-71``, ``JSONValidator.java:381-397``).
    Deterministic derived columns give every keyword both passing and
    failing rows; everything flows through the ordinary compile path
    (``rules/vocabulary.build_pass`` via ``violations_df``)."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.model import Rule, RuleSet

    d = F.col("doc_id")
    frame = _load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars",
        F.when(d % 7 == 0, F.concat(F.lit("x"), d.cast("string")))
        .otherwise(d.cast("string")).alias("s_num"),
        F.when(d % 3 == 0, F.lit("true"))
        .when(d % 3 == 1, d.cast("string"))
        .otherwise(F.lit("maybe")).alias("s_tok"),
        F.when(d % 9 == 0, F.lit("!!!!")).otherwise(F.lit("QUJD")).alias("b64"),
        # contentMediaType fixture: base64-wrapped JSON content.
        # %8==0 -> valid base64 of a NON-JSON payload ("hello"),
        # %8==4 -> broken transport encoding, else base64 of {"a":1}.
        F.when(d % 8 == 0, F.lit("aGVsbG8="))
        .when(d % 8 == 4, F.lit("!not base64!"))
        .otherwise(F.lit("eyJhIjoxfQ==")).alias("mt"),
        F.when(d % 21 == 0, F.lit("x")).alias("ro"),
        F.when(d % 19 == 0, F.lit("x")).alias("junk"),
    )
    defs = {
        "cap": {"kind": "maximum", "params": {"value": 350}},
        "cap_ref": {"kind": "$ref", "params": {"ref": "cap"}},
    }
    rs = RuleSet(
        name="kw-scalars",
        rules=(
            Rule("type.s_num", "/s_num", "type", {"type": "integer"}),
            Rule("uniontype.s_tok", "/s_tok", "unionType",
                 {"types": ["integer", "boolean"], "lexical": True}),
            Rule("minlength.source", "/source", "minLength", {"value": 4}),
            Rule("maxlength.source", "/source", "maxLength", {"value": 4},
                 severity="warning"),
            Rule("multipleof.n_chars", "/n_chars", "multipleOf", {"value": 5}),
            Rule("allof.n_chars", "/n_chars", "allOf", {"schemas": [
                {"kind": "minimum", "params": {"value": 50}},
                {"kind": "maximum", "params": {"value": 400}}]}),
            Rule("anyof.n_chars", "/n_chars", "anyOf", {"schemas": [
                {"kind": "maximum", "params": {"value": 100}},
                {"kind": "minimum", "params": {"value": 300}}]}),
            Rule("oneof.n_chars", "/n_chars", "oneOf", {"schemas": [
                {"kind": "minimum", "params": {"value": 150}},
                {"kind": "maximum", "params": {"value": 200}}]}),
            Rule("not.n_chars", "/n_chars", "not",
                 {"schema": {"kind": "maximum", "params": {"value": 60}}}),
            Rule("ref.n_chars", "/n_chars", "$ref", {"ref": "cap_ref"}),
            Rule("contentencoding.b64", "/b64", "contentEncoding", {}),
            Rule("contentmediatype.mt", "/mt", "contentMediaType",
                 {"media_type": "application/json", "encoding": "base64"}),
            Rule("readonly.ro", "/ro", "readOnly", {}),
            Rule("dependencies.lang", "/lang", "dependencies",
                 {"if_target": "/source"}),
            Rule("notallowed.junk", "/junk", "notAllowed", {}),
            # draft-7 conditional: IF n_chars < 100 THEN multipleOf 2
            # ELSE maximum 400 — exact boolean composition
            Rule("ifthenelse.n_chars", "/n_chars", "ifThenElse", {"schemas": [
                {"kind": "maximum", "params": {"value": 99}},
                {"kind": "multipleOf", "params": {"value": 2}},
                {"kind": "maximum", "params": {"value": 400}}]}),
        ),
    )
    return violations_df(frame, rs, definitions=defs)


def q_keyword_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kitchen-sink oracle for the array/object keyword families
    (VERDICT r02 next-round #1): uniqueItems, items, additionalItems
    (items + ``start`` prefix offset), prefixItems, contains,
    min/maxProperties, propertyNames, requiredKey, patternProperties,
    dependentSchemas, per-key ``properties`` and the OpenAPI
    ``discriminator`` — over a deterministic array column and a
    synthesized ``map<string,string>`` whose key set varies per doc.
    The DuckDB mirror recomputes every failing condition independently
    from ``doc_id`` arithmetic (it never builds the map), so the rows
    are a hard cross-engine check of the predicate semantics."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.model import Rule, RuleSet

    d = F.col("doc_id")

    def ent(cond, k, v):
        return F.when(cond, F.struct(F.lit(k).alias("key"), v.alias("value")))

    entries = F.array_compact(F.array(
        ent(F.lit(True), "id", d.cast("string")),
        ent(d % 4 != 0, "lang", F.coalesce(F.col("lang"), F.lit("und"))),
        ent(d % 5 == 0, "x9",
            F.when(d % 20 == 0, F.lit("oops"))
            .otherwise(F.concat(F.lit("v"), (d % 10).cast("string")))),
        ent(d % 3 == 0, "note", F.lit("n")),
        ent(d % 11 == 0, "Bad-Key", F.lit("b")),
        ent(d % 17 != 0, "kind",
            F.when(d % 13 == 0, F.lit("zz"))
            .when(d % 2 == 0, F.lit("a"))
            .otherwise(F.lit("b"))),
    ))
    frame = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.array((d % 5).cast("int"), (d % 3).cast("int"), (d % 7).cast("int")).alias("arr"),
        F.map_from_entries(entries).alias("pm"),
    )
    rs = RuleSet(
        name="kw-objects",
        rules=(
            Rule("uniqueitems.arr", "/arr", "uniqueItems", {}),
            Rule("items.arr", "/arr", "items",
                 {"schema": {"kind": "maximum", "params": {"value": 4}}}),
            Rule("additionalitems.arr", "/arr", "additionalItems",
                 {"schema": {"kind": "maximum", "params": {"value": 3}}, "start": 2}),
            Rule("prefixitems.arr", "/arr", "prefixItems", {"schemas": [
                {"kind": "minimum", "params": {"value": 1}},
                {"kind": "maximum", "params": {"value": 1}}]}),
            Rule("contains.arr", "/arr", "contains",
                 {"schema": {"kind": "maximum", "params": {"value": 2}}, "min": 2}),
            Rule("minprops.pm", "/pm", "minProperties", {"value": 3}),
            Rule("maxprops.pm", "/pm", "maxProperties", {"value": 5}),
            Rule("propnames.pm", "/pm", "propertyNames", {"regex": "^[a-z][a-z0-9]*$"}),
            Rule("requiredkey.pm", "/pm", "requiredKey", {"key": "lang"}),
            Rule("patternprops.pm", "/pm", "patternProperties",
                 {"key_regex": "^x",
                  "schema": {"kind": "pattern", "params": {"regex": "^v[0-9]$"}}}),
            Rule("depschemas.pm", "/pm", "dependentSchemas",
                 {"key": "note",
                  "schema": {"kind": "requiredKey", "params": {"key": "lang"}}}),
            Rule("properties.pm", "/pm", "properties",
                 {"properties": {"kind": {"kind": "enum", "params": {"values": ["a", "b"]}}}}),
            Rule("discriminator.pm", "/pm", "discriminator",
                 {"key": "kind", "mapping": {
                     "a": {"kind": "minProperties", "params": {"value": 2}},
                     "b": {"kind": "requiredKey", "params": {"key": "note"}}}}),
        ),
    )
    # unevaluated* via the IMPORT path: the sibling-allOf static
    # approximation (rules/schema_import) unions the evaluated key /
    # prefix sets across literal allOf members, so 'Bad-Key' is the only
    # unevaluated key and the prefix length is 2
    from json_validator_spark.rules.schema_import import ruleset_from_json_schema

    mini = {
        "type": "object",
        "properties": {
            "pm": {
                "allOf": [
                    {"properties": {"id": {}, "lang": {}, "kind": {}}},
                    {"patternProperties": {"^x": {}}},
                ],
                "properties": {"note": {}},
                "unevaluatedProperties": False,
            },
            "arr2": {
                "allOf": [{"prefixItems": [{}, {}]}],
                "unevaluatedItems": {"maximum": 3},
            },
        },
    }
    rs2, defs2 = ruleset_from_json_schema(mini, name="uneval")
    frame2 = frame.select("doc_id", F.col("arr").alias("arr2"), "pm")
    return violations_df(frame, rs).unionByName(
        violations_df(frame2, rs2, definitions=defs2)
    )


def q_uneval_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC draft-2020-12 annotation flow for ``unevaluated*`` (r4):
    keys/prefixes contributed by sibling ``anyOf``/``oneOf``/``if``-
    ``then``-``else`` branches count as evaluated only on rows where the
    branch passes — and, per the spec's annotation-retention rule, where
    the applicator keyword as a whole succeeds (whole-``oneOf``
    exactly-one guard). The import path
    (``rules/schema_import._dynamic_contributors``) compiles these to
    per-row conditional set subtraction / prefix widening inside ONE
    codegen projection; the DuckDB mirror re-derives every evaluated-set
    decision from ``doc_id`` arithmetic alone, so the rows are a hard
    cross-engine check of the semantics (networknt's annotation flow,
    ``jsv-messages.properties:48-49``)."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules.schema_import import ruleset_from_json_schema

    d = F.col("doc_id")

    def ent(cond, k):
        return F.when(cond, F.struct(F.lit(k).alias("key"), F.lit("v").alias("value")))

    entries = F.array_compact(F.array(
        ent(F.lit(True), "id"),
        ent(d % 3 == 0, "a"),
        ent(d % 5 == 0, "b"),
        ent(d % 7 == 0, "c"),
        ent(d % 2 == 0, "x1"),
        ent(d % 11 == 0, "zz"),
    ))
    frame = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.map_from_entries(entries).alias("pm"),
        F.array((d % 5).cast("int"), (d % 3).cast("int"), (d % 9).cast("int")).alias("arr2"),
    )
    schema = {
        "type": "object",
        "properties": {
            "pm": {
                "properties": {"id": {}},
                "anyOf": [
                    {"required": ["a"], "properties": {"b": {}}},
                    {"required": ["b"], "patternProperties": {"^x": {}}},
                ],
                "if": {"required": ["c"]},
                "then": {"properties": {"a": {}}},
                "else": {"properties": {"x1": {}}},
                "oneOf": [
                    {"required": ["a"], "properties": {"c": {}}},
                    {"required": ["b"], "properties": {"c": {}}},
                ],
                "unevaluatedProperties": False,
            },
            "arr2": {
                "allOf": [{"prefixItems": [{}, {}]}],
                "if": {"contains": {"minimum": 5}},
                "then": {"prefixItems": [{}, {}, {}]},
                "unevaluatedItems": {"maximum": 3},
            },
        },
    }
    rs, defs = ruleset_from_json_schema(schema, name="uneval-dyn")
    return violations_df(frame, rs, definitions=defs)


def q_windowed_event_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed verdict rollup (streaming/validate_stream's
    aggregation, batch mode) — hourly event counts + per-window rule
    violation counts."""
    ev = _load(spark, sf_dir, "events")
    bad_value = F.col("value").isNotNull() & ~F.col("value").between(0.0, 100.0)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(bad_value.cast("long")).alias("n_bad_value"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_error_events"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events", "n_bad_value", "n_error_events",
        )
    )


def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB stats path — approx_count_distinct (HLL) + GK
    percentile sketches in one agg pass — under the same tolerance-
    boolean oracle contract as ``tdigest``: exact values (count / min /
    max / exact distinct / exact quantiles, all DuckDB-reproducible)
    plus ``hll_ok`` (HLL within 3·rsd of exact distinct) and ``gk_ok``.

    ``gk_ok`` asserts the sketch's ACTUAL contract — rank, not value:
    ``percentile_approx`` guarantees its answer is a data value whose
    rank is within eps·N of the target (eps = 1/accuracy = 1e-4). A
    value-relative tolerance is brittle for coarse integer columns
    (q25 of 1..50 can legitimately land one integer off — 7.7% in
    value, 60 rows in rank), so per prob p the check is the
    duplicate-safe rank sandwich: ``count(< v) <= (p + tol)·N`` and
    ``count(<= v) >= (p - tol)·N`` with tol = 1e-3 (10x the
    guarantee). A genuinely drifting sketch still flips the boolean
    and reds the hash; the exact single-pass twin stays oracle-checked
    as ``column_stats``."""
    from json_validator_spark.operators.set_checks import column_stats, exact_column_stats

    cols = ["l_quantity", "l_extendedprice", "l_orderkey"]
    probs = (0.25, 0.5, 0.75)
    rsd = 0.05
    tol = 1e-3
    li = _load(spark, sf_dir, "lineitem")
    approx = {r["column"]: r for r in column_stats(li, cols, quantiles=probs, rsd=rsd).collect()}
    exact = {r["column"]: r for r in exact_column_stats(li, cols).collect()}
    pex = li.agg(
        *[
            F.percentile(F.col(c).cast("double"), F.array(*[F.lit(p) for p in probs])).alias(c)
            for c in cols
        ]
    ).collect()[0]
    # one tiny agg: exact <v / <=v counts at every GK output value
    rank_aggs = []
    for c in cols:
        for i, _p in enumerate(probs):
            v = F.lit(float(approx[c]["quantiles"][i]))
            cd = F.col(c).cast("double")
            rank_aggs.append(F.sum((cd < v).cast("long")).alias(f"lt_{c}_{i}"))
            rank_aggs.append(F.sum((cd <= v).cast("long")).alias(f"le_{c}_{i}"))
    ranks = li.agg(*rank_aggs).collect()[0]
    rows = []
    for c in cols:
        a, x, qs = approx[c], exact[c], pex[c]
        n = int(x["n"])
        hll_ok = abs(a["approx_distinct"] - x["n_distinct"]) <= 3 * rsd * x["n_distinct"]
        gk_ok = all(
            ranks[f"lt_{c}_{i}"] <= (p + tol) * n
            and ranks[f"le_{c}_{i}"] >= (p - tol) * n
            for i, p in enumerate(probs)
        )
        rows.append(
            (c, n, float(x["min"]), float(x["max"]), int(x["n_distinct"]),
             *[round(float(q), 6) for q in qs], bool(hll_ok), bool(gk_ok))
        )
    return spark.createDataFrame(
        rows,
        "column string, n long, min double, max double, n_distinct long, "
        "q25 double, q50 double, q75 double, hll_ok boolean, gk_ok boolean",
    )


def q_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable centroid-digest quantiles (partial via Arrow, final at
    driver), run WIDE — no repartition(1) pin (VERDICT r01 #5): the
    final merge sorts centroids before interpolating, so it is
    merge-order-invariant and partition-count variance stays inside the
    stated tolerance. Oracle contract: ``exact_quantile`` is the true
    percentile (DuckDB ``quantile_cont`` reproduces it bit-for-bit) and
    ``within_tol`` asserts the sketch lands within 0.5% of it — a drifting
    sketch flips the boolean and reds the hash check."""
    from json_validator_spark.operators.set_checks import tdigest_quantiles

    probs = (0.5, 0.9, 0.99)
    li = _load_spread(spark, sf_dir, "lineitem").select("l_extendedprice")
    qs = tdigest_quantiles(li, "l_extendedprice", probs=probs)
    exact = _load(spark, sf_dir, "lineitem").agg(
        F.percentile(F.col("l_extendedprice").cast("double"), F.array(*[F.lit(p) for p in probs])).alias("qs")
    ).collect()[0]["qs"]
    rows = [
        (float(p), round(float(e), 6), bool(abs(qs[p] - e) <= 0.005 * abs(e)))
        for p, e in zip(probs, exact)
    ]
    return spark.createDataFrame(rows, "p double, exact_quantile double, within_tol boolean")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 documents → interleaved span corpus → full
    validation run (row rules + uniqueness + verdicts), return the
    deterministic ordered violations."""
    from json_validator_spark.operators.report import ordered
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.sources.derive import derive_corpus, derived_corpus_ruleset

    docs = _load(spark, "/root/testdata/sf0.001", "documents")
    corpus = derive_corpus(docs)
    return ordered(violations_df(corpus, derived_corpus_ruleset()))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "corpus_validation": q_corpus_validation,
        "preprocess_pointer": q_preprocess_pointer,
        "row_rules": q_row_rules,
        "doc_verdicts": q_doc_verdicts,
        "aggregate_report": q_aggregate_report,
        "run_summary": q_run_summary,
        "combination_oneof": q_combination_oneof,
        "column_stats": q_column_stats,
        "stats_violations": q_stats_violations,
        "outlier_mad": q_outlier_mad,
        "fd_check": q_fd_check,
        "fd_composite": q_fd_composite,
        "completeness": q_completeness,
        "sessions": q_sessions,
        "session_stream_parity": q_session_stream_parity,
        "dedup_stream_parity": q_dedup_stream_parity,
        "validate_stream_parity": q_validate_stream_parity,
        "neardup_ingest_parity": q_neardup_ingest_parity,
        "running_stats_stream_parity": q_running_stats_stream_parity,
        "drift_stream_parity": q_drift_stream_parity,
        "rate_limit": q_rate_limit,
        "asof_rates": q_asof_rates,
        "funnel": q_funnel,
        "funnel_windowed": q_funnel_windowed,
        "funnel_rollup": q_funnel_rollup,
        "grouped_outliers": q_grouped_outliers,
        "benford": q_benford,
        "cohorts": q_cohorts,
        "zorder": q_zorder,
        "entropy": q_entropy,
        "mi_leakage": q_mi_leakage,
        "fuzzy_keys": q_fuzzy_keys,
        "grouped_psi": q_grouped_psi,
        "grouped_ks": q_grouped_ks,
        "volume_anomaly": q_volume_anomaly,
        "cat_drift": q_cat_drift,
        "grouped_tdigest": q_grouped_tdigest,
        "frequency_cap": q_frequency_cap,
        "value_ranks": q_value_ranks,
        "correlations": q_correlations,
        "key_skew": q_key_skew,
        "uniqueness": q_uniqueness,
        "referential": q_referential,
        "referential_bloom": q_referential_bloom,
        "heavy_hitters": q_heavy_hitters,
        "histogram": q_histogram,
        "drift_psi": q_drift_psi,
        "dedup_exact": q_dedup_exact,
        "dedup_filter": q_dedup_filter,
        "dedup_jaccard": q_dedup_jaccard,
        "containment": q_containment,
        "dedup_minhash": q_dedup_minhash,
        "snapshot_diff": q_snapshot_diff,
        "dedup_incremental": q_dedup_incremental,
        "dedup_incremental_accept": q_dedup_incremental_accept,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "dedup_components": q_dedup_components,
        "dedup_components_filter": q_dedup_components_filter,
        "knn_bruteforce": q_knn_bruteforce,
        "knn_numpy": q_knn_numpy,
        "knn_lsh": q_knn_lsh,
        "knn_ivf": q_knn_ivf,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "embedding_stats": q_embedding_stats,
        "label_centroid_sim": q_label_centroid_sim,
        "embedding_violations": q_embedding_violations,
        "quantize": q_quantize,
        "token_stats": q_token_stats,
        "quality": q_quality,
        "language_id": q_language_id,
        "winnow": q_winnow,
        "vocab_topk": q_vocab_topk,
        "bpe_pairs": q_bpe_pairs,
        "tfidf": q_tfidf,
        "lm_score": q_lm_score,
        "substring_dup": q_substring_dup,
        "repetition": q_repetition,
        "boilerplate": q_boilerplate,
        "filter_pipeline": q_filter_pipeline,
        "contamination": q_contamination,
        "events_json": q_events_json,
        "corrupt_records": q_corrupt_records,
        "combination_any": q_combination_any,
        "combination_any_report": q_combination_any_report,
        "combination_oneof_report": q_combination_oneof_report,
        "combination_grouped": q_combination_grouped,
        "schema_import": q_schema_import,
        "schema_import_multi": q_schema_import_multi,
        "schema_dynamic": q_schema_dynamic,
        "schema_draft4": q_schema_draft4,
        "schema_draft4_id": q_schema_draft4_id,
        "schema_recursive_ref": q_schema_recursive_ref,
        "schema_spans_items": q_schema_spans_items,
        "detail_messages": q_detail_messages,
        "plugin_merge": q_plugin_merge,
        "sample_schema": q_sample_schema,
        "unicode_normalize": q_unicode_normalize,
        "stratified_sample": q_stratified_sample,
        "hash_split": q_hash_split,
        "cluster_split": q_cluster_split,
        "mixture_weights": q_mixture_weights,
        "resample_mixture": q_resample_mixture,
        "global_shuffle": q_global_shuffle,
        "pack_sequences": q_pack_sequences,
        "pack_stats": q_pack_stats,
        "pack_materialize": q_pack_materialize,
        "pii_scrub": q_pii_scrub,
        "top_violations": q_top_violations,
        "tar_reports": q_tar_reports,
        "keyword_scalars": q_keyword_scalars,
        "keyword_objects": q_keyword_objects,
        "uneval_dynamic": q_uneval_dynamic,
        "windowed_event_rates": q_windowed_event_rates,
        "approx_stats": q_approx_stats,
        "tdigest": q_tdigest,
        "corpus_doc_verdicts": q_corpus_doc_verdicts,
        "span_invariant": q_span_invariant,
        "frame_sample": q_frame_sample,
        "media_features": q_media_features,
        "media_decode": q_media_decode,
    }


# ----------------------------------------------------------------------
# oracle SQL (DuckDB)
# ----------------------------------------------------------------------

_CORPUS_SPANS_CTE = f"""
WITH base AS (
  SELECT doc_id,
         {_DUCK_TOKS} AS toks,
         greatest(ceil(len({_DUCK_TOKS}) / 8.0)::INT, 1) AS n_spans,
         {_duck_u("doc_id::VARCHAR, 'off'")} < 0.01 AS off_broken
  FROM documents
), spans0 AS (
  SELECT doc_id, toks, n_spans, off_broken,
         unnest(generate_series(0, n_spans - 1)) AS i
  FROM base
), spans AS (
  SELECT doc_id, n_spans, off_broken, i,
         CASE WHEN {_duck_u("doc_id::VARCHAR, 'kind', i::VARCHAR")} < 0.004 THEN 'imge'
              WHEN {_duck_u("doc_id::VARCHAR, 'kind', i::VARCHAR")} < 0.3 THEN 'media'
              ELSE 'text' END AS kind,
         {_duck_u("doc_id::VARCHAR, 'null', i::VARCHAR")} < 0.02 AS text_null,
         {_duck_u("doc_id::VARCHAR, 'bad', i::VARCHAR")} < 0.02 AS ref_bad,
         toks IS NULL AS toks_null
  FROM spans0
), spans2 AS (
  SELECT doc_id, n_spans, off_broken, i, kind,
         CASE WHEN kind = 'media' THEN
           CASE WHEN ref_bad THEN 'media:/broken'
                ELSE 'media://' || md5(concat_ws(':', doc_id::VARCHAR, 'ref', i::VARCHAR)) END
         END AS media_ref,
         -- a NULL-text doc has NULL token array -> every 'text' span's
         -- chunk is NULL, so required.span.text fires engine-side too
         (kind = 'text' AND (text_null OR toks_null)) AS text_missing
  FROM spans
)
"""

_CORPUS_SQL = _CORPUS_SPANS_CTE + """
SELECT doc_id, '/spans/' || i::VARCHAR || '/kind' AS span_path,
       'enum.span.kind' AS rule_id, 'error' AS severity,
       '[/spans/*/kind] value is not in the allowed set' AS message
FROM spans2 WHERE kind NOT IN ('text', 'media')
UNION ALL
SELECT doc_id, '/spans/' || i::VARCHAR || '/text',
       'required.span.text', 'error',
       '[/spans/*/text] required value is missing'
FROM spans2 WHERE text_missing
UNION ALL
SELECT doc_id, '/spans/' || i::VARCHAR || '/media_ref',
       'format.span.media_ref', 'error',
       '[/spans/*/media_ref] value does not conform to the required format'
FROM spans2 WHERE kind = 'media' AND NOT regexp_matches(media_ref, '^media://[0-9a-f]{32}$')
UNION ALL
SELECT DISTINCT doc_id, '/spans', 'monotonic.offsets', 'error',
       '[/spans] array field is not strictly increasing'
FROM spans2 WHERE off_broken AND n_spans >= 2
"""

_ROW_RULES_SQL = """
SELECT doc_id, '/text' AS span_path, 'required.text' AS rule_id, 'error' AS severity,
       '[/text] required value is missing' AS message
FROM documents WHERE text IS NULL
UNION ALL
SELECT doc_id, '/n_chars', 'range.n_chars', 'error',
       '[/n_chars] constraint ''range'' violated'
FROM documents WHERE n_chars IS NOT NULL AND NOT (n_chars BETWEEN 50 AND 400)
UNION ALL
SELECT doc_id, '/lang', 'enum.lang', 'warning',
       '[/lang] value is not in the allowed set'
FROM documents WHERE lang IS NOT NULL AND lang NOT IN ('en', 'es', 'fr')
UNION ALL
SELECT doc_id, '/source', 'pattern.source', 'error',
       '[/source] value does not match the required pattern'
FROM documents WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]$')
"""

_VERDICT_BASE = """
SELECT doc_id,
       ((CASE WHEN text IS NULL THEN 1 ELSE 0 END)
      + (CASE WHEN n_chars IS NOT NULL AND NOT (n_chars BETWEEN 50 AND 400) THEN 1 ELSE 0 END)
      + (CASE WHEN source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]$') THEN 1 ELSE 0 END))::BIGINT AS n_errors,
       (CASE WHEN lang IS NOT NULL AND lang NOT IN ('en', 'es', 'fr') THEN 1 ELSE 0 END)::BIGINT AS n_warnings
FROM documents
"""

_DOT = (
    "list_sum(list_transform(generate_series(1, 64), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)


def _cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)}"
        f" / (sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})))"
    )


_KNN_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_cos("q.qv", "e.embedding")}, 6) AS sim
  FROM q, embeddings e
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
"""


def _duck_lsh_bucket(v: str, n_planes: int, offset: int) -> str:
    """Sign-projection bucket with a plane-family offset — mirrors
    ``operators/similarity.with_lsh_bucket(plane_offset=offset)``."""
    return (
        f"list_sum(list_transform(generate_series(0, {n_planes - 1}), p -> CASE WHEN "
        f"list_sum(list_transform(generate_series(1, 64), j -> {v}[j]::DOUBLE * "
        f"(CASE WHEN (('0x' || substr(md5((p + {offset})::VARCHAR || ':' || (j - 1)::VARCHAR), 1, 2))::INT & 1) = 1 "
        f"THEN 1.0 ELSE -1.0 END))) >= 0 THEN (1 << p) ELSE 0 END))::INT"
    )


# the knn_lsh oracle buckets with the same builder (8 planes, family 0)
_LSH_BUCKET = _duck_lsh_bucket("{v}", 8, 0)

_KNN_LSH_SQL = f"""
WITH v AS (
  SELECT vec_id AS neighbor_id, embedding AS ev,
         {_LSH_BUCKET.format(v="embedding")} AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {_LSH_BUCKET.format(v="embedding")} AS bucket
  FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT q.query_id, v.neighbor_id,
         round({_cos("q.qv", "v.ev")}, 6) AS sim
  FROM q JOIN v USING (bucket)
  WHERE v.neighbor_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
"""

# Mirrors sources/derive.derive_corpus + sources/synth.span_signature:
# rebuild every span (kind, text chunk, media_ref) from the raw documents
# table and md5 the '|'/' ;'-joined sequence — the hard oracle for the
# BASELINE.json per-row span-sequence invariant.
_SPAN_SIG_SQL = f"""
WITH base AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks,
         greatest(ceil(len({_DUCK_TOKS}) / 8.0)::INT, 1) AS n_spans
  FROM documents
), spans0 AS (
  SELECT doc_id, toks, unnest(generate_series(0, n_spans - 1)) AS i
  FROM base
), spans AS (
  SELECT doc_id, i,
         CASE WHEN {_duck_u("doc_id::VARCHAR, 'kind', i::VARCHAR")} < 0.004 THEN 'imge'
              WHEN {_duck_u("doc_id::VARCHAR, 'kind', i::VARCHAR")} < 0.3 THEN 'media'
              ELSE 'text' END AS kind,
         {_duck_u("doc_id::VARCHAR, 'null', i::VARCHAR")} < 0.02 AS text_null,
         {_duck_u("doc_id::VARCHAR, 'bad', i::VARCHAR")} < 0.02 AS ref_bad,
         -- array_to_string([]) is NULL in DuckDB but array_join([]) is ''
         -- in Spark; NULL toks (NULL text) must stay NULL on both sides
         CASE WHEN toks IS NULL THEN NULL
              ELSE coalesce(array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' '), '') END AS chunk
  FROM spans0
), spans2 AS (
  SELECT doc_id, i, kind,
         CASE WHEN kind = 'text' AND NOT text_null THEN chunk END AS text,
         CASE WHEN kind = 'media' THEN
           CASE WHEN ref_bad THEN 'media:/broken'
                ELSE 'media://' || md5(concat_ws(':', doc_id::VARCHAR, 'ref', i::VARCHAR)) END
         END AS media_ref
  FROM spans
)
SELECT doc_id,
       md5(string_agg(
         concat_ws('|', coalesce(kind, '∅'), coalesce(text, '∅'), coalesce(media_ref, '∅')),
         ';' ORDER BY i)) AS sig_before,
       true AS invariant_holds
FROM spans2
GROUP BY doc_id
"""

_SIMHASH_CTE = f"""
WITH base AS (
  SELECT doc_id FROM __DOCSRC__
), toks AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS tok FROM __DOCSRC__
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
), votes AS (
  SELECT doc_id, b, sum(((h >> b) & 1)::INT) AS v, count(*) AS n
  FROM th, (SELECT unnest(generate_series(0, 59)) AS b) bits
  GROUP BY doc_id, b
), fp0 AS (
  SELECT doc_id, sum(CASE WHEN v * 2 > n THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
), fp AS (
  -- zero-token / NULL-text docs drop out of the unnest pipeline but the
  -- engine assigns them simhash=0 (dedup.simhash left join): mirror it
  SELECT base.doc_id, coalesce(fp0.simhash, 0) AS simhash
  FROM base LEFT JOIN fp0 ON fp0.doc_id = base.doc_id
)
"""

_SHINGLE_CTE = f"""
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, greatest(len({_DUCK_TOKS}) - 2, 0)),
    i -> array_to_string(list_slice({_DUCK_TOKS}, i, i + 2), ' ')))) AS shingle
  FROM __DOCSRC__
"""

_JACCARD_SQL_TMPL = f"""
WITH sh AS ({_SHINGLE_CTE}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b, n_common::BIGINT AS n_common,
       sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
       round(n_common / (sa.n + sb.n - n_common)::DOUBLE, 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_id_a
JOIN sizes sb ON sb.doc_id = doc_id_b
WHERE n_common / (sa.n + sb.n - n_common)::DOUBLE >= __THRESH__
"""

_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ('the','of','and','to','in','is','a','that',
           'el','la','de','que','y','los','se','un',
           'le','et','les','des','une','du','est',
           'der','die','und','das','den','von','zu','mit'))) AS n_stop,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_alnum,
         len(list_distinct(toks)) AS n_distinct,
         list_sum(list_transform(toks, x -> length(x))) AS sum_len
  FROM t
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       round(n_stop / greatest(n_tokens, 1)::DOUBLE, 6) AS stopword_ratio,
       round(n_alnum / greatest(n_chars, 1)::DOUBLE, 6) AS alnum_ratio,
       round((n_tokens - n_distinct) / greatest(n_tokens, 1)::DOUBLE, 6) AS dup_token_ratio,
       round(CASE WHEN n_tokens IS NULL THEN NULL
                  ELSE coalesce(sum_len, 0) END
             / greatest(coalesce(n_tokens, 0), 1)::DOUBLE, 6) AS mean_token_len,
       (n_tokens >= 10 AND
        round((n_tokens - n_distinct) / greatest(n_tokens, 1)::DOUBLE, 6) <= 0.6) AS keep
FROM m
"""

_LANG_SCORES = {
    "en": "('the','of','and','to','in','is','a','that')",
    "es": "('el','la','de','que','y','los','se','un')",
    "fr": "('le','la','et','les','des','une','du','est')",
    "de": "('der','die','und','das','den','von','zu','mit')",
}
_LANG_SQL = (
    "WITH t AS (SELECT doc_id, lang, " + _DUCK_TOKS + " AS toks FROM documents), "
    + "s AS (SELECT doc_id, lang, "
    + ", ".join(
        f"len(list_filter(toks, x -> x IN {ws})) AS s_{lg}" for lg, ws in _LANG_SCORES.items()
    )
    + ", greatest("
    + ", ".join(f"len(list_filter(toks, x -> x IN {ws}))" for ws in _LANG_SCORES.values())
    + ") AS best FROM t) "
    + "SELECT doc_id, CASE WHEN best IS NULL OR best = 0 THEN 'und' "
    + " ".join(f"WHEN s_{lg} = best THEN '{lg}'" for lg in _LANG_SCORES)
    + " END AS pred_lang, best::BIGINT AS best_score, "
    + "(lang = (CASE WHEN best IS NULL OR best = 0 THEN 'und' "
    + " ".join(f"WHEN s_{lg} = best THEN '{lg}'" for lg in _LANG_SCORES)
    + " END)) AS lang_match FROM s"
)

_WINNOW_SQL = """
WITH g AS (
  SELECT doc_id, lower(text) AS t,
         greatest(length(lower(text)) - 19, 0) AS n_grams
  FROM documents
), gh AS (
  SELECT doc_id,
         list_transform(generate_series(1, n_grams),
                        i -> substr(md5(substr(t, i, 20)), 1, 16)) AS hashes
  FROM g
), w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(hashes) - 7, 0)),
           i -> list_aggregate(list_slice(hashes, i, i + 7), 'min'))) AS fps
  FROM gh
)
SELECT doc_id, unnest(fps) AS fingerprint FROM w
"""

# Mirrors q_keyword_scalars: every failing condition recomputed from the
# raw documents columns; messages quote rules/messages.py 'en' verbatim
# (aliased kinds surface their NORMALIZED kind: readOnly->forbidden,
# dependencies->dependentRequired, notAllowed->'false', $ref->maximum).
_KW_SCALARS_SQL = """
SELECT doc_id, '/s_num' AS span_path, 'type.s_num' AS rule_id, 'error' AS severity,
       '[/s_num] value is not of the expected type' AS message
FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id, '/s_tok', 'uniontype.s_tok', 'error',
       '[/s_tok] value is not of the expected type'
FROM documents WHERE doc_id % 3 = 2
UNION ALL
SELECT doc_id, '/source', 'minlength.source', 'error',
       '[/source] constraint ''minLength'' violated'
FROM documents WHERE source IS NOT NULL AND length(source) < 4
UNION ALL
SELECT doc_id, '/source', 'maxlength.source', 'warning',
       '[/source] constraint ''maxLength'' violated'
FROM documents WHERE source IS NOT NULL AND length(source) > 4
UNION ALL
SELECT doc_id, '/n_chars', 'multipleof.n_chars', 'error',
       '[/n_chars] constraint ''multipleOf'' violated'
FROM documents WHERE n_chars IS NOT NULL AND n_chars % 5 <> 0
UNION ALL
SELECT doc_id, '/n_chars', 'allof.n_chars', 'error',
       '[/n_chars] constraint ''allOf'' violated'
FROM documents WHERE n_chars IS NOT NULL AND (n_chars < 50 OR n_chars > 400)
UNION ALL
SELECT doc_id, '/n_chars', 'anyof.n_chars', 'error',
       '[/n_chars] constraint ''anyOf'' violated'
FROM documents WHERE n_chars IS NOT NULL AND n_chars > 100 AND n_chars < 300
UNION ALL
SELECT doc_id, '/n_chars', 'oneof.n_chars', 'error',
       '[/n_chars] constraint ''oneOf'' violated'
FROM documents WHERE n_chars IS NOT NULL AND n_chars BETWEEN 150 AND 200
UNION ALL
SELECT doc_id, '/n_chars', 'not.n_chars', 'error',
       '[/n_chars] constraint ''not'' violated'
FROM documents WHERE n_chars IS NOT NULL AND n_chars <= 60
UNION ALL
SELECT doc_id, '/n_chars', 'ref.n_chars', 'error',
       '[/n_chars] constraint ''maximum'' violated'
FROM documents WHERE n_chars IS NOT NULL AND n_chars > 350
UNION ALL
SELECT doc_id, '/b64', 'contentencoding.b64', 'error',
       '[/b64] constraint ''contentEncoding'' violated'
FROM documents WHERE doc_id % 9 = 0
UNION ALL
SELECT doc_id, '/mt', 'contentmediatype.mt', 'error',
       '[/mt] constraint ''contentMediaType'' violated'
FROM documents WHERE doc_id % 8 = 0 OR doc_id % 8 = 4
UNION ALL
SELECT doc_id, '/ro', 'readonly.ro', 'error',
       '[/ro] value must not be present'
FROM documents WHERE doc_id % 21 = 0
UNION ALL
SELECT doc_id, '/lang', 'dependencies.lang', 'error',
       '[/lang] dependent required value is missing'
FROM documents WHERE source IS NOT NULL AND lang IS NULL
UNION ALL
SELECT doc_id, '/junk', 'notallowed.junk', 'error',
       '[/junk] constraint ''false'' violated'
FROM documents WHERE doc_id % 19 = 0
UNION ALL
-- ifThenElse: (n_chars <= 99 => n_chars % 2 = 0) AND (n_chars > 99 => n_chars <= 400)
SELECT doc_id, '/n_chars', 'ifthenelse.n_chars', 'error',
       '[/n_chars] constraint ''ifThenElse'' violated'
FROM documents WHERE n_chars IS NOT NULL AND
      CASE WHEN n_chars <= 99 THEN n_chars % 2 <> 0 ELSE n_chars > 400 END
"""

# Mirrors q_keyword_objects. nkeys / kindv reconstruct the synthetic map's
# key set and discriminating value from doc_id arithmetic alone.
_KW_OBJECTS_SQL = """
WITH k AS (
  SELECT doc_id AS d,
         1 + (doc_id % 4 <> 0)::INT + (doc_id % 5 = 0)::INT + (doc_id % 3 = 0)::INT
           + (doc_id % 11 = 0)::INT + (doc_id % 17 <> 0)::INT AS nkeys,
         CASE WHEN doc_id % 17 = 0 THEN NULL
              WHEN doc_id % 13 = 0 THEN 'zz'
              WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS kindv
  FROM documents
)
SELECT d AS doc_id, '/arr' AS span_path, 'uniqueitems.arr' AS rule_id,
       'error' AS severity, '[/arr] array elements are not unique' AS message
FROM k WHERE len(list_distinct([d % 5, d % 3, d % 7])) < 3
UNION ALL
SELECT d, '/arr', 'items.arr', 'error', '[/arr] constraint ''items'' violated'
FROM k WHERE d % 7 > 4
UNION ALL
SELECT d, '/arr', 'additionalitems.arr', 'error', '[/arr] constraint ''items'' violated'
FROM k WHERE d % 7 > 3
UNION ALL
SELECT d, '/arr', 'prefixitems.arr', 'error', '[/arr] constraint ''prefixItems'' violated'
FROM k WHERE d % 5 = 0 OR d % 3 = 2
UNION ALL
SELECT d, '/arr', 'contains.arr', 'error',
       '[/arr] array does not contain the required number of matching elements'
FROM k WHERE d % 5 > 2 AND d % 7 > 2
UNION ALL
SELECT d, '/pm', 'minprops.pm', 'error', '[/pm] constraint ''minProperties'' violated'
FROM k WHERE nkeys < 3
UNION ALL
SELECT d, '/pm', 'maxprops.pm', 'error', '[/pm] constraint ''maxProperties'' violated'
FROM k WHERE nkeys > 5
UNION ALL
SELECT d, '/pm', 'propnames.pm', 'error', '[/pm] constraint ''propertyNames'' violated'
FROM k WHERE d % 11 = 0
UNION ALL
SELECT d, '/pm', 'requiredkey.pm', 'error', '[/pm] constraint ''requiredKey'' violated'
FROM k WHERE d % 4 = 0
UNION ALL
SELECT d, '/pm', 'patternprops.pm', 'error',
       '[/pm] constraint ''patternProperties'' violated'
FROM k WHERE d % 20 = 0
UNION ALL
SELECT d, '/pm', 'depschemas.pm', 'error',
       '[/pm] constraint ''dependentSchemas'' violated'
FROM k WHERE d % 3 = 0 AND d % 4 = 0
UNION ALL
SELECT d, '/pm', 'properties.pm', 'error', '[/pm] constraint ''properties'' violated'
FROM k WHERE kindv = 'zz'
UNION ALL
SELECT d, '/pm', 'discriminator.pm', 'error',
       '[/pm] constraint ''discriminator'' violated'
FROM k WHERE kindv IS NULL OR kindv = 'zz' OR (kindv = 'b' AND d % 3 <> 0)
UNION ALL
-- unevaluatedProperties: evaluated-key set unioned across the sibling
-- allOf members ({id,lang,kind} + ^x pattern) and the schema's own
-- properties ({note}); only 'Bad-Key' (d%11=0) is unevaluated
SELECT d, '/pm', 'pm.unevaluatedProperties', 'error',
       '[/pm] constraint ''additionalProperties'' violated'
FROM k WHERE d % 11 = 0
UNION ALL
-- unevaluatedItems: prefix length 2 contributed by the sibling allOf;
-- the remainder element (d % 7) must be <= 3
SELECT d, '/arr2', 'arr2.unevaluatedItems', 'error',
       '[/arr2] constraint ''items'' violated'
FROM k WHERE d % 7 > 3
"""

# Mirrors q_uneval_dynamic: every evaluated-set decision of the dynamic
# annotation flow re-derived from doc_id arithmetic. Key presence:
# a=d%3, b=d%5, c=d%7, x1=d%2, zz=d%11 (all =0); evaluated iff
#   b <- anyOf branch 1 passes (a present)
#   x* <- anyOf branch 2 passes (b present), via the ^x pattern
#   a <- if (c present) passes -> then's properties
#   x1 <- if fails (c absent) -> else's properties
#   c <- oneOf succeeds as a whole (exactly one of a,b present)
_UNEVAL_DYNAMIC_SQL = """
WITH k AS (SELECT doc_id AS d FROM documents)
SELECT d AS doc_id, '/pm' AS span_path,
       'pm.unevaluatedProperties' AS rule_id, 'error' AS severity,
       '[/pm] constraint ''additionalProperties'' violated' AS message
FROM k WHERE (d % 3 = 0 AND d % 7 <> 0)
   OR (d % 5 = 0 AND d % 3 <> 0)
   OR (d % 7 = 0 AND ((d % 3 = 0) = (d % 5 = 0)))
   OR (d % 2 = 0 AND d % 5 <> 0 AND d % 7 = 0)
   OR d % 11 = 0
UNION ALL
SELECT d, '/pm', 'pm.anyOf', 'error', '[/pm] constraint ''anyOf'' violated'
FROM k WHERE d % 3 <> 0 AND d % 5 <> 0
UNION ALL
SELECT d, '/pm', 'pm.oneOf', 'error', '[/pm] constraint ''oneOf'' violated'
FROM k WHERE (d % 3 = 0) = (d % 5 = 0)
UNION ALL
-- unevaluatedItems: the if-branch (contains >= 5, i.e. d%9 >= 5) widens
-- the evaluated prefix to 3 (no remainder); otherwise the remainder
-- element d%9 must be <= 3 -> violation iff d%9 = 4
SELECT d, '/arr2', 'arr2.unevaluatedItems', 'error',
       '[/arr2] constraint ''items'' violated'
FROM k WHERE d % 9 = 4
"""

_EVENTS_SQL = """
SELECT event_id AS doc_id, '/props/k' AS span_path,
       'requiredKey.props.k' AS rule_id, 'error' AS severity
FROM events WHERE json_extract(props::JSON, '$.k') IS NULL
UNION ALL
SELECT event_id, '/event_type', 'enum.event_type', 'warning'
FROM events WHERE event_type NOT IN ('click', 'view', 'purchase')
UNION ALL
SELECT event_id, '/value', 'range.value', 'error'
FROM events WHERE value IS NOT NULL AND NOT (value BETWEEN 0.0 AND 100.0)
"""


def oracle_sql() -> dict[str, str]:
    stats_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_orderkey"]
    stats_sql = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS \"column\", count(*)::BIGINT AS n, "
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls, "
        f"round(min({c}::DOUBLE), 6) AS min, round(max({c}::DOUBLE), 6) AS max, "
        f"count(DISTINCT {c})::BIGINT AS n_distinct FROM lineitem"
        for c in stats_cols
    )
    bucket = _QTY_BUCKET_SQL
    out = {
        "corpus_validation": _CORPUS_SQL,
        # schema_spans_items: the element-object `items` import path —
        # per-field span rules over the derived corpus; firing set is
        # the spans2 corruption model (imge kinds, broken media refs,
        # off-broken docs whose constant offset 5 fails multipleOf 8).
        "schema_spans_items": _CORPUS_SPANS_CTE + """
            SELECT doc_id,
                   '/spans/' || i::VARCHAR || '/kind' AS span_path,
                   'spans.items.kind.enum' AS rule_id,
                   'error' AS severity,
                   '[/spans/*/kind] value is not in the allowed set' AS message
            FROM spans2 WHERE kind NOT IN ('text', 'media')
            UNION ALL
            SELECT doc_id, '/spans/' || i::VARCHAR || '/media_ref',
                   'spans.items.media_ref.pattern', 'error',
                   '[/spans/*/media_ref] value does not match the required pattern'
            FROM spans2
            WHERE kind = 'media'
              AND NOT regexp_matches(media_ref, '^media://[0-9a-f]{32}$')
            UNION ALL
            SELECT doc_id, '/spans/' || i::VARCHAR || '/offset',
                   'spans.items.offset.multipleOf', 'error',
                   '[/spans/*/offset] constraint ''multipleOf'' violated'
            FROM spans2 WHERE off_broken
        """,
        # preprocess_pointer: the spans2 construction projected as the
        # /spans/*/kind pointer rows (value = kind per span index).
        "preprocess_pointer": _CORPUS_SPANS_CTE + """
            SELECT doc_id,
                   '/spans/' || i::VARCHAR || '/kind' AS span_path,
                   kind AS value
            FROM spans2
        """,
        "row_rules": _ROW_RULES_SQL,
        "doc_verdicts": (
            f"WITH v AS ({_VERDICT_BASE}) SELECT doc_id, n_errors, n_warnings, "
            "CASE WHEN n_errors = 0 THEN 'SUCCESS' ELSE 'FAILURE' END AS result FROM v"
        ),
        "aggregate_report": (
            f"WITH viol AS ({_ROW_RULES_SQL}) "
            "SELECT rule_id, severity, count(*)::BIGINT AS count FROM viol GROUP BY 1, 2"
        ),
        "run_summary": f"""
            WITH v AS ({_VERDICT_BASE})
            SELECT count(*)::BIGINT AS n_docs,
                   sum(n_errors)::BIGINT AS n_errors,
                   sum(n_warnings)::BIGINT AS n_warnings,
                   sum(CASE WHEN n_errors > 0 THEN 1 ELSE 0 END)::BIGINT AS n_failed_docs,
                   round(avg(CASE WHEN n_errors > 0 THEN 1.0 ELSE 0.0 END), 6) AS failure_rate
            FROM v
        """,
        "combination_oneof": """
            WITH f AS (
              SELECT doc_id,
                     (n_chars IS NULL OR n_chars BETWEEN 50 AND 250) AS a_ok,
                     (lang IS NULL OR lang = 'en') AS b_ok
              FROM documents
            )
            SELECT doc_id,
                   (a_ok::INT + b_ok::INT)::BIGINT AS n_branches_passed,
                   CASE WHEN a_ok::INT + b_ok::INT = 1
                        THEN 'SUCCESS' ELSE 'FAILURE' END AS result
            FROM f
        """,
        "column_stats": stats_sql,
        "stats_violations": """
            WITH s AS (
              SELECT avg(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0.0 END) AS nr_qty,
                     min(l_quantity::DOUBLE) AS min_qty, max(l_quantity::DOUBLE) AS max_qty,
                     avg(CASE WHEN l_discount IS NULL THEN 1.0 ELSE 0.0 END) AS nr_disc,
                     max(l_discount::DOUBLE) AS max_disc,
                     count(DISTINCT l_orderkey) AS cd_ok,
                     min(l_extendedprice::DOUBLE) AS min_price
              FROM lineitem
            )
            SELECT '__corpus__' AS doc_id, '/l_quantity' AS span_path,
                   'stats.min.l_quantity' AS rule_id, 'error' AS severity,
                   '[/l_quantity] minimum value below the allowed bound' AS message
            FROM s WHERE min_qty < 1.0
            UNION ALL
            SELECT '__corpus__', '/l_quantity', 'stats.max.l_quantity', 'error',
                   '[/l_quantity] maximum value above the allowed bound'
            FROM s WHERE max_qty > 40.0
            UNION ALL
            SELECT '__corpus__', '/l_discount', 'stats.null_rate.l_discount', 'error',
                   '[/l_discount] null rate exceeds the allowed maximum'
            FROM s WHERE nr_disc > 0.0
            UNION ALL
            SELECT '__corpus__', '/l_discount', 'stats.max.l_discount', 'error',
                   '[/l_discount] maximum value above the allowed bound'
            FROM s WHERE max_disc > 0.5
            UNION ALL
            SELECT '__corpus__', '/l_orderkey', 'stats.min_distinct.l_orderkey', 'error',
                   '[/l_orderkey] distinct-value count below the allowed minimum'
            FROM s WHERE cd_ok < 1000000000
            UNION ALL
            SELECT '__corpus__', '/l_extendedprice', 'stats.min.l_extendedprice', 'error',
                   '[/l_extendedprice] minimum value below the allowed bound'
            FROM s WHERE min_price < 0.0
        """,
        # outlier_mad: DuckDB's median()/mad() are the interpolated order
        # statistics the engine computes from the value histogram; both
        # sides round the two constants to 6 BEFORE thresholding /
        # z-scoring, so the arithmetic is identical doubles.
        "outlier_mad": """
            WITH m AS (
              SELECT round(median(value), 6) AS med, round(mad(value), 6) AS mad
              FROM events
            )
            SELECT event_id::VARCHAR AS doc_id, '/value' AS span_path,
                   'outlier.mad.value' AS rule_id, 'warning' AS severity,
                   value::DOUBLE AS value,
                   round(abs(value::DOUBLE - med) / mad, 4) AS zscore
            FROM events, m
            WHERE value IS NOT NULL AND abs(value::DOUBLE - med) > 6.0 * mad
        """,
        "fd_composite": """
            SELECT l_orderkey::VARCHAR || '|' || l_returnflag AS doc_id,
                   '/l_linestatus' AS span_path,
                   'fd.l_orderkey,l_returnflag->l_linestatus' AS rule_id,
                   'warning' AS severity,
                   'functional dependency l_orderkey,l_returnflag->l_linestatus violated: '
                     || count(DISTINCT l_linestatus)::VARCHAR
                     || ' distinct values in ' || count(l_linestatus)::VARCHAR
                     || ' rows' AS message
            FROM lineitem GROUP BY l_orderkey, l_returnflag
            HAVING count(DISTINCT l_linestatus) > 1
        """,
        "fd_check": """
            SELECT o_custkey::VARCHAR AS doc_id, '/o_orderstatus' AS span_path,
                   'fd.o_custkey->o_orderstatus' AS rule_id, 'warning' AS severity,
                   'functional dependency o_custkey->o_orderstatus violated: '
                     || count(DISTINCT o_orderstatus)::VARCHAR
                     || ' distinct values in ' || count(o_orderstatus)::VARCHAR
                     || ' rows' AS message
            FROM orders GROUP BY o_custkey
            HAVING count(DISTINCT o_orderstatus) > 1
        """,
        "completeness": """
            WITH proj AS (
              SELECT event_type,
                     strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour
              FROM events
            ), universe AS (
              SELECT t.event_type, h.hour
              FROM (SELECT DISTINCT event_type FROM proj) t
              CROSS JOIN (SELECT DISTINCT hour FROM proj) h
            )
            SELECT u.event_type, u.hour,
                   'complete.event_typexhour' AS rule_id,
                   'warning' AS severity,
                   'expected cell missing from corpus' AS message
            FROM universe u
            ANTI JOIN (SELECT DISTINCT event_type, hour FROM proj) o
              USING (event_type, hour)
        """,
        # sessions: lag/cumsum windows over microsecond ticks; ties are
        # RANGE-frame peers on both engines so boundary flags agree.
        "sessions": """
            WITH b AS (
              SELECT user_id, ts,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
            ), s AS (
              SELECT user_id, ts,
                     sum(ns) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
                       ::BIGINT AS session_idx
              FROM b
            )
            SELECT user_id, session_idx,
                   user_id::VARCHAR || '#' || session_idx::VARCHAR AS session_id,
                   count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
                   floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT
                     AS duration_s
            FROM s GROUP BY user_id, session_idx
        """,
        # Mirrors q_session_stream_parity: the per-event gap
        # sessionization the stream must reproduce (strict 30-minute
        # microsecond gap, cumulative break count per user).
        "session_stream_parity": """
            WITH e AS (
              SELECT user_id::VARCHAR AS user_id, event_id::VARCHAR AS event_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
            ), m AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN prev IS NULL
                          OR date_diff('microsecond', prev, ts) > 1800000000
                          THEN 1 ELSE 0 END AS brk
              FROM e
            )
            SELECT user_id, event_id,
                   (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx,
                   user_id || '#' ||
                   ((sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING))::BIGINT)::VARCHAR
                     AS session_id
            FROM m
        """,
        # Mirrors q_running_stats_stream_parity: lifetime per-key moments
        # (sample std; n=1 keys report 0 like the Welford state).
        "running_stats_stream_parity": """
            SELECT event_type AS key,
                   count(value)::BIGINT AS n,
                   round(avg(value), 6) AS mean,
                   CASE WHEN count(value) > 1
                        THEN round(stddev_samp(value), 6) ELSE 0.0 END AS std,
                   min(value) AS min,
                   max(value) AS max
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
            GROUP BY event_type
            HAVING count(value) > 0
        """,
        # Mirrors q_drift_stream_parity: Spark width_bucket (0 below lo,
        # n_bins+1 at or above hi, else floor(n·(v−lo)/(hi−lo)) + 1),
        # out-of-range buckets folded into the edge bins, every window
        # scored over all 10 bins (empty bins are zeros) against the
        # whole table; PSI sums unrounded terms, KS is the max gap of the
        # cumulative fractions, both rounded to 6 at the end.
        "drift_stream_parity": """
            WITH e AS (
              SELECT date_trunc('day', ts) AS w,
                     least(greatest(
                       CASE WHEN value < 0.0 THEN 0
                            WHEN value >= 100.0 THEN 11
                            ELSE floor(10 * (value - 0.0) / (100.0 - 0.0))::BIGINT + 1
                       END, 1), 10) AS bin
              FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            ), bins AS (SELECT unnest(generate_series(1, 10)) AS bin),
            p AS (
              SELECT bins.bin, coalesce(n, 0) / (SELECT count(*) FROM e)::DOUBLE AS p
              FROM bins LEFT JOIN (SELECT bin, count(*) AS n FROM e GROUP BY 1) c USING (bin)
            ), wins AS (SELECT w, count(*) AS tw FROM e GROUP BY 1),
            q AS (
              SELECT wins.w, bins.bin, coalesce(c.n, 0) / wins.tw::DOUBLE AS q
              FROM wins CROSS JOIN bins
              LEFT JOIN (SELECT w, bin, count(*) AS n FROM e GROUP BY 1, 2) c
                ON c.w = wins.w AND c.bin = bins.bin
            ), pq AS (
              SELECT w, p, q,
                     sum(p) OVER (PARTITION BY w ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp,
                     sum(q) OVER (PARTITION BY w ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cq
              FROM q JOIN p USING (bin)
            )
            SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
                   round(sum((p - q) * ln((p + 1e-6) / (q + 1e-6))), 6) AS psi,
                   round(max(abs(cp - cq)), 6) AS ks
            FROM pq GROUP BY w
        """,
        # Mirrors q_dedup_stream_parity: canonical = lexicographic-min
        # doc_id within the group's FIRST arriving chunk (chunk = doc_id
        # % 3), everything else a duplicate.
        "dedup_stream_parity": """
            WITH docs AS (__UNION_DUP__),
            h AS (
              SELECT doc_id::VARCHAR AS doc_id, md5(text) AS text_hash,
                     (doc_id % 3)::INT AS chunk
              FROM docs
            ), fc AS (
              SELECT text_hash, min(chunk) AS first_chunk FROM h GROUP BY text_hash
            ), canon AS (
              SELECT h.text_hash, min(h.doc_id) AS first_doc_id
              FROM h JOIN fc ON h.text_hash = fc.text_hash AND h.chunk = fc.first_chunk
              GROUP BY h.text_hash
            )
            SELECT h.doc_id, h.text_hash,
                   h.doc_id <> c.first_doc_id AS is_duplicate,
                   c.first_doc_id
            FROM h JOIN canon c ON h.text_hash = c.text_hash
        """.replace("__UNION_DUP__", _UNION_DUP_SQL),
        "key_skew": """
            WITH c AS (
              SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1
            )
            SELECT 'l_orderkey' AS key_col, sum(n)::BIGINT AS n_rows,
                   count(*) AS n_keys, max(n) AS max_n,
                   round(avg(n), 4) AS mean_n,
                   round(quantile_cont(n::DOUBLE, 0.99), 4) AS p99_n,
                   round(max(n)::DOUBLE / avg(n), 4) AS skew_factor
            FROM c
        """,
        "correlations": """
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                   count(*) AS n,
                   round(corr(l_quantity::DOUBLE, l_extendedprice::DOUBLE), 4)
                     AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity', 'l_discount', count(*),
                   round(corr(l_quantity::DOUBLE, l_discount::DOUBLE), 4)
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', 'l_discount', count(*),
                   round(corr(l_extendedprice::DOUBLE, l_discount::DOUBLE), 4)
            FROM lineitem
        """,
        "value_ranks": """
            SELECT event_id, value::DOUBLE AS value,
                   rank() OVER (ORDER BY value::DOUBLE) AS rank,
                   round(percent_rank() OVER (ORDER BY value::DOUBLE), 6) AS pct
            FROM events WHERE value IS NOT NULL
            UNION ALL
            SELECT event_id, NULL, NULL, NULL FROM events WHERE value IS NULL
        """,
        "frequency_cap": """
            SELECT doc_id, source, n_chars FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                       ORDER BY md5(doc_id::VARCHAR), doc_id::VARCHAR) AS rn
              FROM documents
            ) WHERE rn <= 10
        """,
        "grouped_tdigest": """
            SELECT event_type, 0.5::DOUBLE AS p,
                   round(quantile_cont(value::DOUBLE, 0.49), 6) AS exact_lo,
                   round(quantile_cont(value::DOUBLE, 0.51), 6) AS exact_hi,
                   true AS within_tol
            FROM events GROUP BY event_type
            UNION ALL
            SELECT event_type, 0.9::DOUBLE,
                   round(quantile_cont(value::DOUBLE, 0.89), 6),
                   round(quantile_cont(value::DOUBLE, 0.91), 6), true
            FROM events GROUP BY event_type
        """,
        "cat_drift": """
            WITH counts AS (
              SELECT coalesce(event_type::VARCHAR, chr(0)||'null') AS cat,
                     sum((event_id % 2 = 0)::INT) AS nb,
                     sum(1 - (event_id % 2 = 0)::INT) AS nc
              FROM events GROUP BY 1
            ), cells AS (
              SELECT nb, nc,
                     sum(nb) OVER () AS tb, sum(nc) OVER () AS tc,
                     sum(nb) OVER () + sum(nc) OVER () AS grand
              FROM counts
            ), terms AS (
              SELECT tb, tc,
                     round(
                       (nb - (nb + nc)::DOUBLE * tb::DOUBLE / grand::DOUBLE)
                         * (nb - (nb + nc)::DOUBLE * tb::DOUBLE / grand::DOUBLE)
                         / ((nb + nc)::DOUBLE * tb::DOUBLE / grand::DOUBLE)
                       + (nc - (nb + nc)::DOUBLE * tc::DOUBLE / grand::DOUBLE)
                         * (nc - (nb + nc)::DOUBLE * tc::DOUBLE / grand::DOUBLE)
                         / ((nb + nc)::DOUBLE * tc::DOUBLE / grand::DOUBLE), 6) AS term
              FROM cells
            ), agg AS (
              SELECT 'event_type' AS col, max(tb)::BIGINT AS n_base,
                     max(tc)::BIGINT AS n_cur,
                     count(*) AS n_categories,
                     round(sum(term), 4) AS chi2
              FROM terms
            )
            SELECT col, n_base, n_cur, n_categories, chi2,
                   n_categories - 1 AS dof, chi2 > 30.0 AS drifted
            FROM agg
        """,
        "volume_anomaly": """
            WITH counts AS (
              SELECT date_trunc('hour', ts) AS b, count(*) AS n
              FROM events GROUP BY 1
            ), w AS (
              SELECT b, n,
                     round(avg(n) OVER tw, 6) AS m,
                     round(stddev_samp(n) OVER tw, 6) AS s,
                     count(n) OVER tw AS c
              FROM counts
              WINDOW tw AS (ORDER BY b
                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
            ), g AS (
              SELECT strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start, n,
                     CASE WHEN c >= 24 THEN m END AS trail_mean,
                     CASE WHEN c >= 24 THEN s END AS trail_std
              FROM w
            ), z AS (
              SELECT bucket_start, n, trail_mean, trail_std,
                     CASE WHEN trail_std > 0
                          THEN round((n - trail_mean) / trail_std, 4) END AS z
              FROM g
            )
            SELECT bucket_start, n, trail_mean, trail_std, z,
                   (coalesce(abs(z) > 4.0, false)
                    OR coalesce(trail_std = 0 AND n <> trail_mean, false))
                     AS anomaly
            FROM z
        """,
        "grouped_ks": """
            WITH b AS (
              SELECT event_type AS segment,
                     least(floor(value / 25.0), 19) AS bucket,
                     (event_id % 2 = 0)::INT AS base
              FROM events
            ), counts AS (
              SELECT segment, bucket, sum(base) AS nb, sum(1 - base) AS nc
              FROM b GROUP BY 1, 2
            ), cdf AS (
              SELECT segment,
                     sum(nb) OVER (PARTITION BY segment) AS tb,
                     sum(nc) OVER (PARTITION BY segment) AS tc,
                     sum(nb) OVER (PARTITION BY segment ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
                     sum(nc) OVER (PARTITION BY segment ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
              FROM counts
            ), agg AS (
              SELECT segment, max(tb)::BIGINT AS n_base, max(tc)::BIGINT AS n_cur,
                     max(round(abs(cb::DOUBLE / tb::DOUBLE
                                 - cc::DOUBLE / tc::DOUBLE), 6)) AS ks
              FROM cdf WHERE tb > 0 AND tc > 0
              GROUP BY segment
            )
            SELECT segment, n_base, n_cur, ks, ks > 0.1 AS drifted FROM agg
        """,
        "grouped_psi": """
            WITH b AS (
              SELECT event_type AS segment,
                     least(floor(value / 25.0), 19) AS bucket,
                     (event_id % 2 = 0)::INT AS base
              FROM events
            ), counts AS (
              SELECT segment, bucket, sum(base) AS nb, sum(1 - base) AS nc
              FROM b GROUP BY 1, 2
            ), withtot AS (
              SELECT segment, nb, nc,
                     sum(nb) OVER (PARTITION BY segment) AS tb,
                     sum(nc) OVER (PARTITION BY segment) AS tc
              FROM counts
            ), agg AS (
              SELECT segment, max(tb)::BIGINT AS n_base, max(tc)::BIGINT AS n_cur,
                     round(sum(round(
                       (nb::DOUBLE / tb::DOUBLE - nc::DOUBLE / tc::DOUBLE)
                       * ln((nb::DOUBLE / tb::DOUBLE + 1e-6)
                            / (nc::DOUBLE / tc::DOUBLE + 1e-6)), 6)), 6) AS psi
              FROM withtot WHERE tb > 0 AND tc > 0
              GROUP BY segment
            )
            SELECT segment, n_base, n_cur, psi, psi > 0.25 AS drifted FROM agg
        """,
        # fuzzy_keys: same k=1 deletion neighborhood (list comprehension
        # lateral) + levenshtein verify.
        "fuzzy_keys": """
            WITH vocab AS (
              SELECT s_name AS key, count(*) AS n FROM supplier
              WHERE s_name IS NOT NULL AND len(s_name) >= 3
              GROUP BY 1
            ), vars AS (
              SELECT key, n, unnest(list_distinct(list_append(
                [substr(key, 1, i - 1) || substr(key, i + 1, len(key))
                 for i in range(1, len(key) + 1)], key))) AS var
              FROM vocab
            ), cand AS (
              SELECT DISTINCT a.key AS key_a, b.key AS key_b,
                     a.n AS n_a, b.n AS n_b
              FROM vars a JOIN vars b USING (var)
              WHERE a.key < b.key
            )
            SELECT key_a, key_b, n_a, n_b FROM cand
            WHERE levenshtein(key_a, key_b) <= 1
        """,
        "entropy": """
            WITH h1 AS (
              SELECT coalesce(event_type::VARCHAR, chr(0)||'null') AS v,
                     count(*) AS cnt FROM events GROUP BY 1
            ), h2 AS (
              SELECT coalesce(user_id::VARCHAR, chr(0)||'null') AS v,
                     count(*) AS cnt FROM events GROUP BY 1
            ), h3 AS (
              SELECT coalesce(value::VARCHAR, chr(0)||'null') AS v,
                     count(*) AS cnt FROM events GROUP BY 1
            )
            SELECT 'event_type' AS "column", count(*) AS n_distinct,
                   t::BIGINT AS n,
                   round(-sum(round(cnt::DOUBLE / t::DOUBLE
                     * log2(cnt::DOUBLE / t::DOUBLE), 6)), 4) AS entropy
            FROM (SELECT cnt, sum(cnt) OVER () AS t FROM h1) GROUP BY t
            UNION ALL
            SELECT 'user_id', count(*), t::BIGINT,
                   round(-sum(round(cnt::DOUBLE / t::DOUBLE
                     * log2(cnt::DOUBLE / t::DOUBLE), 6)), 4)
            FROM (SELECT cnt, sum(cnt) OVER () AS t FROM h2) GROUP BY t
            UNION ALL
            SELECT 'value', count(*), t::BIGINT,
                   round(-sum(round(cnt::DOUBLE / t::DOUBLE
                     * log2(cnt::DOUBLE / t::DOUBLE), 6)), 4)
            FROM (SELECT cnt, sum(cnt) OVER () AS t FROM h3) GROUP BY t
        """,
        # mi_leakage: identical window formulation — marginal terms
        # gated to one cell per category via row_number.
        "mi_leakage": """
            WITH joint AS (
              SELECT coalesce(event_type::VARCHAR, chr(0)||'null') AS a,
                     coalesce((floor(value / 50.0))::VARCHAR, chr(0)||'null') AS b,
                     count(*) AS cnt
              FROM events GROUP BY 1, 2
            ), cells AS (
              SELECT cnt,
                     sum(cnt) OVER () AS t,
                     sum(cnt) OVER (PARTITION BY a) AS ca,
                     sum(cnt) OVER (PARTITION BY b) AS cb,
                     row_number() OVER (PARTITION BY a ORDER BY b) AS rna,
                     row_number() OVER (PARTITION BY b ORDER BY a) AS rnb
              FROM joint
            ), agg AS (
              SELECT max(t)::BIGINT AS n,
                     round(-sum(CASE WHEN rna = 1 THEN
                       round(ca::DOUBLE / t::DOUBLE
                         * log2(ca::DOUBLE / t::DOUBLE), 6) END), 4) AS h_a,
                     round(-sum(CASE WHEN rnb = 1 THEN
                       round(cb::DOUBLE / t::DOUBLE
                         * log2(cb::DOUBLE / t::DOUBLE), 6) END), 4) AS h_b,
                     round(-sum(round(cnt::DOUBLE / t::DOUBLE
                       * log2(cnt::DOUBLE / t::DOUBLE), 6)), 4) AS h_ab
              FROM cells
            )
            SELECT 'event_type' AS col_a, 'value_bucket' AS col_b,
                   n, h_a, h_b, h_ab,
                   round(h_a + h_b - h_ab, 4) AS mi,
                   CASE WHEN least(h_a, h_b) > 0
                        THEN round((h_a + h_b - h_ab) / least(h_a, h_b), 4)
                        ELSE 0.0 END AS nmi
            FROM agg
        """,
        "cohorts": """
            WITH firstd AS (
              SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
              FROM events GROUP BY user_id
            ), active AS (
              SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
            )
            SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
                   date_diff('day', f.cohort_day, a.day)::INT AS day_offset,
                   count(*) AS n_users
            FROM active a JOIN firstd f USING (user_id)
            GROUP BY 1, 2
        """,
        # zorder: identical clamp/scale/floor arithmetic, interleave via
        # a scalar generate_series sum instead of 32 unrolled terms.
        "zorder": """
            WITH q AS (
              SELECT event_id,
                     floor((least(greatest(value::DOUBLE, 0.0), 500.0) - 0.0)
                           / (500.0 - 0.0) * 65535)::BIGINT AS qx,
                     floor((least(greatest(user_id::DOUBLE, 0.0), 2048.0) - 0.0)
                           / (2048.0 - 0.0) * 65535)::BIGINT AS qy
              FROM events
            )
            SELECT event_id,
                   (SELECT sum(((qx >> b) & 1) * (1::BIGINT << (2 * b))
                             + ((qy >> b) & 1) * (1::BIGINT << (2 * b + 1)))
                    FROM generate_series(0, 15) t(b))::BIGINT AS zkey
            FROM q
        """,
        "grouped_outliers": """
            WITH m AS (
              SELECT event_type, round(median(value), 6) AS med,
                     round(mad(value), 6) AS mad
              FROM events GROUP BY event_type
            )
            SELECT e.event_id::VARCHAR AS doc_id, '/value' AS span_path,
                   'outlier.mad.event_type.value' AS rule_id,
                   'warning' AS severity,
                   e.event_type AS group_key, e.value::DOUBLE AS value,
                   round(abs(e.value::DOUBLE - med) / mad, 4) AS zscore
            FROM events e JOIN m USING (event_type)
            WHERE e.value IS NOT NULL AND mad > 0
              AND abs(e.value::DOUBLE - med) > 6.0 * mad
        """,
        # benford: first significant digit from the STRING form — the
        # sci-notation mantissa leads with it on both engines.
        "benford": """
            WITH d AS (
              SELECT CAST(regexp_extract(o_totalprice::VARCHAR, '[1-9]') AS INT)
                       AS digit
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND regexp_extract(o_totalprice::VARCHAR, '[1-9]') <> ''
            ), g AS (
              SELECT digit, count(*) AS n FROM d GROUP BY digit
            ), t AS (
              SELECT digit, n,
                     round(n / (sum(n) OVER ()), 6) AS freq,
                     round(log10(1.0 + 1.0 / digit), 6) AS expected
              FROM g
            )
            SELECT digit, n, freq, expected,
                   round(abs(freq - expected), 6) AS deviation,
                   round(abs(freq - expected), 6) > 0.02 AS flagged,
                   'benford.o_totalprice' AS rule_id
            FROM t
        """,
        # funnel: cascaded min-after-min — equivalent to the engine's
        # greedy per-user fold (earliest match per step is optimal).
        "funnel": """
            WITH s1 AS (
              SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS t2
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS t3
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
              GROUP BY e.user_id
            ), u AS (
              SELECT DISTINCT user_id FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
            )
            SELECT u.user_id,
                   (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
                    + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                    + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)::INT
                     AS steps_completed,
                   t1, t2, t3
            FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
                   LEFT JOIN s3 USING (user_id)
        """,
        # funnel_windowed: brute-force ground truth — a recursive CTE
        # enumerates EVERY viable (user, prefix-length, end-tick) state
        # under the strictly-after + 45m-gap constraints; max(j) is the
        # true optimum the engine's DP must reach, and max(last_us) at
        # that depth is the DP's latest-end representative.
        "funnel_windowed": """
            WITH RECURSIVE chains AS (
              SELECT user_id, 1 AS j, epoch_us(ts) AS last_us
              FROM events WHERE event_type = 'view'
              UNION
              SELECT e.user_id, c.j + 1, epoch_us(e.ts)
              FROM chains c JOIN events e ON e.user_id = c.user_id
              WHERE c.j < 3
                AND e.event_type = CASE c.j WHEN 1 THEN 'click'
                                            WHEN 2 THEN 'purchase' END
                AND epoch_us(e.ts) > c.last_us
                AND epoch_us(e.ts) - c.last_us <= 2700000000
            ), u AS (
              SELECT DISTINCT user_id FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
            ), best AS (
              SELECT user_id, max(j) AS steps_completed
              FROM chains GROUP BY user_id
            ), last_t AS (
              SELECT c.user_id, max(c.last_us) AS last_step_us
              FROM chains c
              JOIN best b ON b.user_id = c.user_id AND c.j = b.steps_completed
              GROUP BY c.user_id
            )
            SELECT u.user_id,
                   coalesce(b.steps_completed, 0)::INT AS steps_completed,
                   l.last_step_us
            FROM u LEFT JOIN best b USING (user_id)
                   LEFT JOIN last_t l USING (user_id)
        """,
        "funnel_rollup": """
            WITH s1 AS (
              SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS t2
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS t3
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
              GROUP BY e.user_id
            ), u AS (
              SELECT DISTINCT user_id FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
            ), per_user AS (
              SELECT (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
                    + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                    + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)::INT
                       AS steps_completed,
                     CASE WHEN t3 IS NOT NULL
                          THEN (t3 - t1) / 1000000.0 END AS dur_s
              FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
                     LEFT JOIN s3 USING (user_id)
            )
            SELECT steps_completed, count(*) AS n_users,
                   round(median(dur_s), 6) AS median_conversion_s
            FROM per_user GROUP BY steps_completed
        """,
        "rate_limit": """
            WITH c AS (
              SELECT event_id,
                     count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS n
              FROM events
            )
            SELECT event_id::VARCHAR AS doc_id, '/ts' AS span_path,
                   'rate.user_id.60m' AS rule_id, 'warning' AS severity,
                   n::VARCHAR || ' events in 60m (max 2)' AS message
            FROM c WHERE n > 2
        """,
        # asof_rates: the snapshot dimension is pure md5 arithmetic over
        # observed (event_type, hour) cells; DuckDB's native ASOF LEFT
        # JOIN is the reference semantics for the union-window engine op.
        "asof_rates": """
            WITH cell AS (
              SELECT DISTINCT event_type, date_trunc('hour', ts) AS snap_ts
              FROM events
            ), keyed AS (
              SELECT event_type, snap_ts,
                     ('0x' || substr(md5(event_type || '@' ||
                       strftime(snap_ts, '%Y-%m-%d %H:00')), 1, 15))::BIGINT AS h
              FROM cell
            ), snaps AS (
              SELECT event_type, snap_ts, round((h % 10000) / 100.0, 2) AS rate
              FROM keyed WHERE h % 3 = 0
            )
            SELECT e.event_id, e.event_type,
                   strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   s.rate,
                   strftime(s.snap_ts, '%Y-%m-%d %H:%M:%S') AS snap_ts
            FROM events e
            ASOF LEFT JOIN snaps s
              ON e.event_type = s.event_type AND e.ts >= s.snap_ts
        """,
        "uniqueness": """
            SELECT o_custkey::VARCHAR AS doc_id, '/o_custkey' AS span_path,
                   'unique.o_custkey' AS rule_id, 'error' AS severity,
                   'duplicate key (x' || count(*)::VARCHAR || ')' AS message
            FROM orders GROUP BY o_custkey HAVING count(*) > 1
        """,
        "referential": """
            SELECT o_orderkey::VARCHAR AS doc_id, '/o_custkey' AS span_path,
                   'ref.active_customer' AS rule_id, 'error' AS severity,
                   'unresolved reference: ' || o_custkey::VARCHAR AS message
            FROM orders o
            WHERE o_custkey IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM customer c
              WHERE c.c_custkey % 3 <> 0 AND c.c_custkey = o.o_custkey)
        """,
        "referential_bloom": """
            SELECT o_orderkey::VARCHAR AS doc_id, '/o_custkey' AS span_path,
                   'ref.active_customer' AS rule_id, 'error' AS severity,
                   'unresolved reference: ' || o_custkey::VARCHAR AS message
            FROM orders o
            WHERE o_custkey IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM customer c
              WHERE c.c_custkey % 3 <> 0 AND c.c_custkey = o.o_custkey)
        """,
        "heavy_hitters": f"""
            WITH tok AS (
              SELECT unnest({_DUCK_TOKS}) AS token FROM documents
            ), freq AS (
              SELECT token, count(*) AS n FROM tok GROUP BY 1
            ), tot AS (
              SELECT count(*) AS nn FROM tok
            ), top AS (
              SELECT row_number() OVER (ORDER BY n DESC, token)::BIGINT AS rank,
                     token AS key, n::BIGINT AS n
              FROM freq ORDER BY n DESC, token LIMIT 50
            )
            SELECT rank, key, n,
                   ((SELECT count(*) FROM top) = 50
                    AND (SELECT min(n) FROM top) > (SELECT nn FROM tot) / 4097.0
                   ) AS exact
            FROM top
        """,
        "histogram": (
            f"SELECT {bucket} AS bucket, count(*)::BIGINT AS count FROM lineitem GROUP BY 1"
        ),
        "drift_psi": f"""
            WITH b AS (
              SELECT {bucket} AS bucket,
                     (l_orderkey % 2 = 0)::INT AS base
              FROM lineitem
            ), counts AS (
              SELECT bucket, sum(base) AS nb, sum(1 - base) AS nc FROM b GROUP BY 1
            ), tot AS (SELECT sum(nb) AS tb, sum(nc) AS tc FROM counts)
            SELECT round(sum(
              (nb / tb::DOUBLE - nc / tc::DOUBLE)
              * ln((nb / tb::DOUBLE + 1e-6) / (nc / tc::DOUBLE + 1e-6))), 6) AS psi
            FROM counts, tot
        """,
        "dedup_exact": f"""
            WITH docs AS ({_UNION_DUP_SQL})
            SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM docs GROUP BY 1 HAVING count(*) > 1
        """,
        "dedup_filter": f"""
            WITH docs AS ({_UNION_DUP_SQL}),
            keep AS (
              SELECT min(doc_id) AS doc_id FROM docs GROUP BY md5(text)
            )
            SELECT doc_id FROM keep
        """,
        "dedup_jaccard": _JACCARD_SQL_TMPL.replace("__DOCSRC__", "documents").replace(
            "__THRESH__", "0.1"
        ),
        "containment": _JACCARD_SQL_TMPL.replace("__DOCSRC__", "documents")
        .replace(
            "round(n_common / (sa.n + sb.n - n_common)::DOUBLE, 6) AS jaccard",
            "round(n_common / least(sa.n, sb.n)::DOUBLE, 6) AS containment",
        )
        .replace(
            "WHERE n_common / (sa.n + sb.n - n_common)::DOUBLE >= __THRESH__",
            "WHERE n_common / least(sa.n, sb.n)::DOUBLE >= 0.5",
        ),
        "dedup_minhash": (
            "SELECT doc_id_a, doc_id_b, jaccard FROM ("
            + _JACCARD_SQL_TMPL.replace("__DOCSRC__", "docs")
            .replace("__THRESH__", "0.999")
            .replace("WITH sh AS", f"WITH docs AS ({_UNION_DUP_SQL}), sh AS", 1)
            + ") p"
        ),
        # snapshot_diff: identical md5-of-per-column-md5 recipe
        # (unit-separator chr(31), NULL sentinel chr(30), column order
        # text/lang/source/n_chars) over both snapshots, FULL JOIN on
        # the id. Per-column digests make the hash injection-proof.
        "snapshot_diff": """
            WITH newsnap AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 13 = 1 THEN text || ' rev2' ELSE text END AS text,
                     lang, source, n_chars
              FROM documents WHERE doc_id % 13 <> 0
              UNION ALL
              SELECT doc_id + 400000 AS doc_id, text, lang, source, n_chars
              FROM documents WHERE doc_id % 13 = 2
            ), o AS (
              SELECT doc_id,
                     md5(concat_ws(chr(31),
                       coalesce(md5(text), chr(30)), coalesce(md5(lang), chr(30)),
                       coalesce(md5(source), chr(30)),
                       coalesce(md5(n_chars::VARCHAR), chr(30)))) AS old_hash
              FROM documents
            ), n AS (
              SELECT doc_id,
                     md5(concat_ws(chr(31),
                       coalesce(md5(text), chr(30)), coalesce(md5(lang), chr(30)),
                       coalesce(md5(source), chr(30)),
                       coalesce(md5(n_chars::VARCHAR), chr(30)))) AS new_hash
              FROM newsnap
            ), j AS (
              SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_hash, new_hash,
                     CASE WHEN old_hash IS NULL THEN 'added'
                          WHEN new_hash IS NULL THEN 'removed'
                          WHEN old_hash <> new_hash THEN 'changed' END AS status
              FROM o FULL JOIN n ON o.doc_id = n.doc_id
            )
            SELECT doc_id, status, old_hash, new_hash
            FROM j WHERE status IS NOT NULL
        """,
        # dedup_incremental / _accept: exact new-vs-corpus Jaccard at the
        # 0.999 exact-duplicate contract (same recall argument as
        # dedup_minhash); accept additionally mirrors the edge-greedy
        # intra-batch drop (greater member of any ≥0.999 pair).
        "dedup_incremental": f"""
            WITH newb AS ({_INCR_NEW_SQL}),
            sh_new AS ({_SHINGLE_CTE.replace("__DOCSRC__", "newb")}),
            sh_c AS ({_SHINGLE_CTE.replace("__DOCSRC__", "documents")}),
            nn AS (SELECT doc_id, count(*) AS n FROM sh_new GROUP BY doc_id),
            nc AS (SELECT doc_id, count(*) AS n FROM sh_c GROUP BY doc_id),
            common AS (
              SELECT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id,
                     count(*) AS n_common
              FROM sh_new n JOIN sh_c c USING (shingle)
              GROUP BY 1, 2
            )
            SELECT new_doc_id, corpus_doc_id,
                   round(n_common / (nn.n + nc.n - n_common)::DOUBLE, 6) AS jaccard
            FROM common
            JOIN nn ON nn.doc_id = new_doc_id
            JOIN nc ON nc.doc_id = corpus_doc_id
            WHERE n_common / (nn.n + nc.n - n_common)::DOUBLE >= 0.999
        """,
        "dedup_incremental_accept": f"""
            WITH newb AS ({_INCR_NEW_SQL}),
            sh_new AS ({_SHINGLE_CTE.replace("__DOCSRC__", "newb")}),
            sh_c AS ({_SHINGLE_CTE.replace("__DOCSRC__", "documents")}),
            nn AS (SELECT doc_id, count(*) AS n FROM sh_new GROUP BY doc_id),
            nc AS (SELECT doc_id, count(*) AS n FROM sh_c GROUP BY doc_id),
            xdrop AS (
              SELECT DISTINCT n.doc_id
              FROM sh_new n JOIN sh_c c USING (shingle)
              JOIN nn ON nn.doc_id = n.doc_id
              JOIN nc ON nc.doc_id = c.doc_id
              GROUP BY n.doc_id, c.doc_id, nn.n, nc.n
              HAVING count(*) / (nn.n + nc.n - count(*))::DOUBLE >= 0.999
            ),
            idrop AS (
              SELECT DISTINCT b.doc_id
              FROM sh_new a JOIN sh_new b USING (shingle)
              JOIN nn na ON na.doc_id = a.doc_id
              JOIN nn nb ON nb.doc_id = b.doc_id
              WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id, na.n, nb.n
              HAVING count(*) / (na.n + nb.n - count(*))::DOUBLE >= 0.999
            )
            SELECT doc_id FROM newb
            WHERE doc_id NOT IN (SELECT doc_id FROM xdrop)
              AND doc_id NOT IN (SELECT doc_id FROM idrop)
        """,
        "simhash": _SIMHASH_CTE.replace("__DOCSRC__", "documents")
        + "SELECT doc_id, simhash FROM fp",
        "simhash_pairs": (
            _SIMHASH_CTE.replace("__DOCSRC__", "docs").replace(
                "WITH base AS", f"WITH docs AS ({_UNION_DUP_SQL}), base AS", 1
            )
            + """
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   bit_count(xor(a.simhash, b.simhash))::INT AS hamming
            FROM fp a, fp b
            WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
            """
        ),
        # dedup_components: the engine's iterative pointer-jumping CC vs
        # DuckDB's recursive CTE computing min-reachable-id over the
        # identical symmetric simhash-pair edge set.
        "dedup_components": (
            _SIMHASH_CTE.replace("__DOCSRC__", "docs").replace(
                "WITH base AS",
                f"WITH RECURSIVE docs AS ({_UNION_DUP_SQL}), base AS",
                1,
            )
            + """
            , pairs AS (
              SELECT a.doc_id AS da, b.doc_id AS db
              FROM fp a, fp b
              WHERE a.doc_id < b.doc_id
                AND bit_count(xor(a.simhash, b.simhash)) <= 3
            ), edges AS (
              SELECT da AS node, db AS peer FROM pairs
              UNION
              SELECT db AS node, da AS peer FROM pairs
            ), reach(node, root) AS (
              SELECT node, node FROM (SELECT DISTINCT node FROM edges) n
              UNION
              SELECT e.peer, r.root FROM reach r JOIN edges e ON e.node = r.node
            ), comp AS (
              SELECT node AS doc_id, min(root) AS component_id
              FROM reach GROUP BY node
            )
            SELECT doc_id, component_id,
                   (count(*) OVER (PARTITION BY component_id))::BIGINT AS cluster_size,
                   doc_id = component_id AS is_canonical
            FROM comp
            """
        ),
        "dedup_components_filter": (
            _SIMHASH_CTE.replace("__DOCSRC__", "docs").replace(
                "WITH base AS",
                f"WITH RECURSIVE docs AS ({_UNION_DUP_SQL}), base AS",
                1,
            )
            + """
            , pairs AS (
              SELECT a.doc_id AS da, b.doc_id AS db
              FROM fp a, fp b
              WHERE a.doc_id < b.doc_id
                AND bit_count(xor(a.simhash, b.simhash)) <= 3
            ), edges AS (
              SELECT da AS node, db AS peer FROM pairs
              UNION
              SELECT db AS node, da AS peer FROM pairs
            ), reach(node, root) AS (
              SELECT node, node FROM (SELECT DISTINCT node FROM edges) n
              UNION
              SELECT e.peer, r.root FROM reach r JOIN edges e ON e.node = r.node
            ), drops AS (
              SELECT node FROM (
                SELECT node, min(root) AS component_id FROM reach GROUP BY node
              ) c WHERE node <> component_id
            )
            SELECT doc_id FROM docs
            WHERE doc_id NOT IN (SELECT node FROM drops)
            """
        ),
        "knn_bruteforce": _KNN_SQL,
        "knn_numpy": _KNN_SQL,
        "knn_lsh": _KNN_LSH_SQL,
        "embedding_neardup": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({_cos("a.embedding", "b.embedding")}, 6) AS sim
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND round({_cos("a.embedding", "b.embedding")}, 6) >= 0.45
        """,
        "embedding_neardup_lsh": f"""
            WITH v0 AS (
              SELECT vec_id, embedding,
                     {_duck_lsh_bucket("embedding", 4, 0)} AS b0,
                     {_duck_lsh_bucket("embedding", 4, 4)} AS b1
              FROM embeddings
            ), pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round({_cos("a.embedding", "b.embedding")}, 6) AS sim
              FROM v0 a JOIN v0 b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
              UNION
              SELECT a.vec_id, b.vec_id,
                     round({_cos("a.embedding", "b.embedding")}, 6)
              FROM v0 a JOIN v0 b ON a.b1 = b.b1 AND a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.45
        """,
        "embedding_stats": """
            WITH e AS (
              SELECT label, len(embedding) AS dim,
                     sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
              FROM embeddings
            )
            SELECT label, count(*)::BIGINT AS n,
                   min(dim)::BIGINT AS dim_min, max(dim)::BIGINT AS dim_max,
                   round(min(nrm), 6) AS norm_min, round(avg(nrm), 6) AS norm_avg,
                   round(max(nrm), 6) AS norm_max
            FROM e GROUP BY label
        """,
        "label_centroid_sim": """
            WITH pd AS (
              SELECT vec_id, label, j, embedding[j]::DOUBLE AS x
              FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j) js
            ), cent AS (
              SELECT label, j, avg(x) AS m FROM pd GROUP BY label, j
            ), per_vec AS (
              SELECT pd.vec_id, pd.label,
                     sum(pd.x * cent.m) AS dot,
                     sqrt(sum(pd.x * pd.x)) AS vn,
                     sqrt(sum(cent.m * cent.m)) AS cn
              FROM pd JOIN cent ON pd.label = cent.label AND pd.j = cent.j
              GROUP BY pd.vec_id, pd.label
            )
            SELECT label, count(*)::BIGINT AS n,
                   round(avg(dot / (vn * cn)), 6) AS avg_cos,
                   round(min(dot / (vn * cn)), 6) AS min_cos
            FROM per_vec GROUP BY label
        """,
        # quantize: identical float64 arithmetic — same per-dim min/max,
        # same floor(x+0.5) code, same round(err,9)→max→round(6) chain.
        "quantize": """
            WITH e AS (
              SELECT vec_id, i, embedding[i]::DOUBLE AS x
              FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
            ), stats AS (
              SELECT i, min(x) AS lo, max(x) AS hi FROM e GROUP BY 1
            ), q AS (
              SELECT vec_id, e.i, x, lo, hi,
                     (CASE WHEN hi = lo THEN 0
                           ELSE least(greatest(floor((x - lo) / ((hi - lo) / 255.0) + 0.5), 0), 255)
                      END)::INT AS code
              FROM e JOIN stats ON stats.i = e.i
            ), r AS (
              SELECT vec_id, i, code,
                     round(abs(x - (CASE WHEN hi = lo THEN lo
                                         ELSE lo + code * ((hi - lo) / 255.0) END)), 9) AS err,
                     (hi - lo) / 510.0 AS half_step
              FROM q
            )
            SELECT vec_id,
                   list(code ORDER BY i) AS codes,
                   round(max(err), 6) AS max_abs_err,
                   bool_and(err <= half_step + 1e-9) AS within_bound
            FROM r GROUP BY vec_id
        """,
        # frame_sample: catalog refs (hex uuid of id), md5-derived
        # duration, inclusive frame series, md5 frame hash — all
        # engine-identical arithmetic.
        "frame_sample": """
            WITH ids AS (
              SELECT unnest(generate_series(0, 494)) AS k
            ), cat AS (
              SELECT 'media://' ||
                     substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-' ||
                     substr(hx, 13, 4) || '-' || substr(hx, 17, 4) || '-' ||
                     substr(hx, 21, 12) AS media_ref
              FROM (SELECT lpad(lower(to_hex(k)), 32, '0') AS hx FROM ids)
            ), med AS (
              SELECT media_ref,
                     ('0x' || substr(md5(media_ref || ':dur'), 1, 15))::BIGINT
                       % 60000 AS duration_ms
              FROM cat
            ), frames AS (
              SELECT media_ref, duration_ms,
                     unnest(generate_series(0,
                       greatest(floor(duration_ms / 5000.0)::INT - 1, 0))) AS frame_idx
              FROM med
            )
            SELECT media_ref, frame_idx::INT AS frame_idx,
                   (frame_idx * 5000)::INT AS frame_offset_ms,
                   md5(media_ref || ':' || frame_idx::VARCHAR) AS frame_hash
            FROM frames
        """,
        "embedding_violations": """
            WITH e AS (
              SELECT vec_id, embedding,
                     len(list_filter(embedding, x -> isnan(x::DOUBLE) OR isinf(x::DOUBLE))) > 0 AS bad,
                     sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
              FROM embeddings
            )
            SELECT vec_id::VARCHAR AS doc_id, '/embedding' AS span_path,
                   'dim.embedding' AS rule_id, 'error' AS severity,
                   'unexpected embedding dimension' AS message
            FROM e WHERE len(embedding) <> 64
            UNION ALL
            SELECT vec_id::VARCHAR, '/embedding', 'finite.embedding', 'error',
                   'non-finite embedding component'
            FROM e WHERE bad
            UNION ALL
            SELECT vec_id::VARCHAR, '/embedding', 'norm.embedding', 'error',
                   'embedding norm out of bounds'
            FROM e WHERE NOT bad AND NOT (nrm BETWEEN 1e-6 AND 1e6)
        """,
        "token_stats": f"""
            SELECT doc_id,
                   len({_DUCK_TOKS})::BIGINT AS n_ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe_tokens,
                   len(list_distinct({_DUCK_TOKS}))::BIGINT AS n_distinct_tokens
            FROM documents
        """,
        "quality": _QUALITY_SQL,
        "language_id": _LANG_SQL,
        "winnow": _WINNOW_SQL,
        "vocab_topk": f"""
            WITH tok AS (
              SELECT unnest({_DUCK_TOKS}) AS token FROM documents
            ), freq AS (
              SELECT token, count(*) AS n FROM tok GROUP BY 1
            )
            SELECT row_number() OVER (ORDER BY n DESC, token)::BIGINT AS rank,
                   token, n::BIGINT AS n
            FROM freq ORDER BY n DESC, token LIMIT 50
        """,
        "tfidf": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
            ), dfq AS (
              SELECT term, count(*) AS df FROM tf GROUP BY 1
            ), tot AS (
              SELECT count(*) AS n FROM documents
            ), s AS (
              SELECT doc_id, term, tf, df,
                     tf * ln(n::DOUBLE / df) AS score
              FROM tf JOIN dfq USING (term), tot
            ), r AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term) AS rank
              FROM s
            )
            SELECT doc_id, rank::BIGINT AS rank, term,
                   tf::BIGINT AS tf, df::BIGINT AS df,
                   round(score, 6) AS score
            FROM r WHERE rank <= 3
        """,
        "bpe_pairs": f"""
            WITH tok AS (
              SELECT unnest({_DUCK_TOKS}) AS word FROM documents
            ), wc AS (
              SELECT word, count(*) AS freq FROM tok GROUP BY 1
            ), p AS (
              SELECT substr(word, i, 1) || ' ' || substr(word, i + 1, 1) AS pair,
                     freq
              FROM wc, unnest(generate_series(1, length(word) - 1)) AS u(i)
            ), agg AS (
              SELECT pair, sum(freq) AS n FROM p GROUP BY 1
            )
            SELECT row_number() OVER (ORDER BY n DESC, pair)::BIGINT AS rank,
                   pair, n::BIGINT AS n
            FROM agg ORDER BY n DESC, pair LIMIT 50
        """,
        # Quantized-term contract (see lm_scores docstring): each ln(tf)
        # rounds to 6 decimals BEFORE the per-doc sum so engine-specific
        # summation order cannot flip the 4-decimal score.
        "lm_score": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents
            ), freq AS (
              SELECT token, count(*) AS tf FROM tok GROUP BY 1
            ), total AS (
              SELECT round(ln(sum(tf)::DOUBLE), 6) AS ln_total FROM freq
            ), scored AS (
              SELECT doc_id, round(ln(tf::DOUBLE), 6) AS lp
              FROM tok JOIN freq USING (token)
            ), pd AS (
              SELECT doc_id, count(*) AS n, sum(lp) AS s FROM scored GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(n, 0)::BIGINT AS n_tokens,
                   round(s / n - ln_total, 4) AS mean_lp,
                   (round(s / n - ln_total, 4) >= -3.45) AS keep
            FROM documents d CROSS JOIN total
            LEFT JOIN pd ON pd.doc_id = d.doc_id
        """,
        "substring_dup": f"""
            WITH fp AS ({_WINNOW_SQL}),
            freq AS (
              SELECT fingerprint, count(*) AS df FROM fp GROUP BY 1
            ), pd AS (
              SELECT doc_id, count(*) AS n_fp,
                     sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_sh
              FROM fp JOIN freq USING (fingerprint) GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(n_fp, 0)::BIGINT AS n_fingerprints,
                   coalesce(n_sh, 0)::BIGINT AS n_shared,
                   round(coalesce(n_sh, 0)
                         / greatest(coalesce(n_fp, 0), 1)::DOUBLE, 6) AS shared_ratio,
                   (coalesce(n_fp, 0) > 0
                    AND round(coalesce(n_sh, 0)
                              / greatest(coalesce(n_fp, 0), 1)::DOUBLE, 6) > 0.5) AS flagged
            FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
        """,
        "repetition": f"""
            WITH t AS (
              SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
            ), g AS (
              SELECT doc_id, array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
              FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
            ), pg AS (
              SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2
            ), pd AS (
              SELECT doc_id, sum(n) AS n_bigrams, count(*) AS n_distinct,
                     max(n) AS top_n
              FROM pg GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
                   coalesce(n_distinct, 0)::BIGINT AS n_distinct_bigrams,
                   round((coalesce(n_bigrams, 0) - coalesce(n_distinct, 0))
                         / greatest(coalesce(n_bigrams, 0), 1)::DOUBLE, 6) AS dup_bigram_ratio,
                   round(coalesce(top_n, 0)
                         / greatest(coalesce(n_bigrams, 0), 1)::DOUBLE, 6) AS top_bigram_frac
            FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
        """,
        "boilerplate": f"""
            WITH base AS (
              SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
            ), segs0 AS (
              SELECT doc_id, toks, ceil(len(toks) / 2.0)::INT AS n FROM base
            ), segs AS (
              SELECT doc_id,
                     md5(array_to_string(list_slice(toks, (i - 1) * 2 + 1, (i - 1) * 2 + 2), ' ')) AS seg_hash
              FROM segs0, unnest(generate_series(1, n)) AS t(i)
            ), freq AS (
              SELECT seg_hash, count(*) AS df FROM segs GROUP BY 1
            ), per_doc AS (
              SELECT s.doc_id, count(*) AS n_segments,
                     sum(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) AS n_boilerplate
              FROM segs s JOIN freq f USING (seg_hash) GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(n_segments, 0)::BIGINT AS n_segments,
                   coalesce(n_boilerplate, 0)::BIGINT AS n_boilerplate,
                   round(coalesce(n_boilerplate, 0)
                         / greatest(coalesce(n_segments, 0), 1)::DOUBLE, 6) AS boilerplate_ratio
            FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
        """,
        # filter_pipeline: the composed recipe — quality + language
        # (fused CTE), repetition + boilerplate (agg CTEs) — with the
        # identical fixed-order reason string. All threshold comparisons
        # run on the ROUNDED ratios, exactly as the engine compares its
        # rounded output columns.
        "filter_pipeline": f"""
            WITH t AS (
              SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
            ), q AS (
              SELECT doc_id, coalesce(len(toks), 0) AS n_tok,
                     len(list_distinct(toks)) AS n_distinct,
                     {", ".join(f"len(list_filter(toks, x -> x IN {ws})) AS s_{lg}" for lg, ws in _LANG_SCORES.items())},
                     greatest({", ".join(f"len(list_filter(toks, x -> x IN {ws}))" for ws in _LANG_SCORES.values())}) AS best
              FROM t
            ), g AS (
              SELECT doc_id, array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
              FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
            ), pg AS (
              SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2
            ), rep AS (
              SELECT doc_id, sum(n) AS n_bigrams, max(n) AS top_n
              FROM pg GROUP BY 1
            ), segs0 AS (
              SELECT doc_id, toks, ceil(len(toks) / 3.0)::INT AS n FROM t
            ), segs AS (
              SELECT doc_id,
                     md5(array_to_string(list_slice(toks, (i - 1) * 3 + 1, (i - 1) * 3 + 3), ' ')) AS seg_hash
              FROM segs0, unnest(generate_series(1, n)) AS s(i)
            ), freq AS (
              SELECT seg_hash, count(*) AS df FROM segs GROUP BY 1
            ), boil AS (
              SELECT s.doc_id, count(*) AS n_segments,
                     sum(CASE WHEN f.df >= 3 THEN 1 ELSE 0 END) AS n_boilerplate
              FROM segs s JOIN freq f USING (seg_hash) GROUP BY 1
            ), j AS (
              SELECT q.doc_id,
                     q.n_tok AS n_tokens,
                     CASE WHEN best IS NULL OR best = 0 THEN 'und'
                          {" ".join(f"WHEN s_{lg} = best THEN '{lg}'" for lg in _LANG_SCORES)}
                     END AS pred_lang,
                     round((q.n_tok - q.n_distinct)
                           / greatest(q.n_tok, 1)::DOUBLE, 6) AS dup_token_ratio,
                     round(coalesce(r.top_n, 0)
                           / greatest(coalesce(r.n_bigrams, 0), 1)::DOUBLE, 6) AS top_bigram_frac,
                     round(coalesce(b.n_boilerplate, 0)
                           / greatest(coalesce(b.n_segments, 0), 1)::DOUBLE, 6) AS boilerplate_ratio
              FROM q
              LEFT JOIN rep r ON r.doc_id = q.doc_id
              LEFT JOIN boil b ON b.doc_id = q.doc_id
            ), reasons AS (
              SELECT *,
                     concat_ws(',',
                       CASE WHEN n_tokens < 20 THEN 'too_short' END,
                       CASE WHEN dup_token_ratio > 0.65 THEN 'dup_tokens' END,
                       CASE WHEN pred_lang NOT IN ('en','es','fr','de') THEN 'lang' END,
                       CASE WHEN top_bigram_frac > 0.08 THEN 'repetition' END,
                       CASE WHEN boilerplate_ratio > 0.2 THEN 'boilerplate' END
                     ) AS drop_reasons
              FROM j
            )
            SELECT doc_id, n_tokens::BIGINT AS n_tokens, pred_lang,
                   dup_token_ratio, top_bigram_frac, boilerplate_ratio,
                   (drop_reasons = '') AS keep, drop_reasons
            FROM reasons
        """,
        "contamination": (
            "WITH corpus_sh AS ("
            + _SHINGLE_CTE.replace(
                "__DOCSRC__", "(SELECT * FROM documents WHERE doc_id % 50 <> 0) c"
            )
            + "), bench_sh AS (SELECT DISTINCT shingle FROM ("
            + _SHINGLE_CTE.replace(
                "__DOCSRC__", "(SELECT * FROM documents WHERE doc_id % 50 = 0) b"
            )
            + ") bsh), ov AS ("
            "  SELECT doc_id, count(*) AS n_overlap"
            "  FROM corpus_sh JOIN bench_sh USING (shingle) GROUP BY 1"
            ") "
            "SELECT d.doc_id, coalesce(n_overlap, 0)::BIGINT AS n_overlap, "
            "       (coalesce(n_overlap, 0) >= 2) AS contaminated "
            "FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d "
            "LEFT JOIN ov ON ov.doc_id = d.doc_id"
        ),
        # Mirrors q_schema_import: every keyword the imported schema
        # compiles to, recomputed from the raw columns. The type-check on
        # `text` (type: string over a string column) can never fail and
        # emits no rows; `n_chars.$ref` resolves to maximum(380).
        "schema_import": """
            SELECT doc_id, '/text' AS span_path, 'text.required' AS rule_id,
                   'error' AS severity, '[/text] required value is missing' AS message
            FROM documents WHERE text IS NULL
            UNION ALL
            SELECT doc_id, '/text', 'text.minLength', 'error',
                   '[/text] constraint ''minLength'' violated'
            FROM documents WHERE text IS NOT NULL AND length(text) < 30
            UNION ALL
            SELECT doc_id, '/lang', 'lang.enum', 'warning',
                   '[/lang] value is not in the allowed set'
            FROM documents WHERE lang IS NOT NULL AND lang NOT IN ('en', 'es', 'fr')
            UNION ALL
            SELECT doc_id, '/lang', 'lang.dependentRequired', 'error',
                   '[/lang] dependent required value is missing'
            FROM documents WHERE source IS NOT NULL AND lang IS NULL
            UNION ALL
            SELECT doc_id, '/source', 'source.pattern', 'error',
                   '[/source] value does not match the required pattern'
            FROM documents WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]$')
            UNION ALL
            SELECT doc_id, '/source', 'source.maxLength', 'error',
                   '[/source] constraint ''maxLength'' violated'
            FROM documents WHERE source IS NOT NULL AND length(source) > 4
            UNION ALL
            SELECT doc_id, '/n_chars', 'n_chars.minimum', 'error',
                   '[/n_chars] constraint ''minimum'' violated'
            FROM documents WHERE n_chars IS NOT NULL AND n_chars < 40
            UNION ALL
            SELECT doc_id, '/n_chars', 'n_chars.multipleOf', 'error',
                   '[/n_chars] constraint ''multipleOf'' violated'
            FROM documents WHERE n_chars IS NOT NULL AND n_chars % 3 <> 0
            UNION ALL
            SELECT doc_id, '/n_chars', 'n_chars.$ref', 'error',
                   '[/n_chars] constraint ''maximum'' violated'
            FROM documents WHERE n_chars IS NOT NULL AND n_chars > 380
        """,
        # Mirrors q_schema_import_multi: the three-document schema set,
        # recomputed constraint-by-constraint from the raw columns. Each
        # $ref rule resolves to one node, so a property emits at most one
        # row; the resolved kind names the message ('allOf' for the
        # composite shortText / limits chains).
        "schema_import_multi": """
            SELECT doc_id, '/text' AS span_path, 'text.required' AS rule_id,
                   'error' AS severity, '[/text] required value is missing' AS message
            FROM documents WHERE text IS NULL
            UNION ALL
            SELECT doc_id, '/text', 'text.$ref', 'error',
                   '[/text] constraint ''allOf'' violated'
            FROM documents
            WHERE text IS NOT NULL AND (length(text) > 300 OR length(text) < 1)
            UNION ALL
            SELECT doc_id, '/lang', 'lang.$ref', 'error',
                   '[/lang] value is not in the allowed set'
            FROM documents
            WHERE lang IS NOT NULL AND lang NOT IN ('en', 'es', 'fr', 'de')
            UNION ALL
            SELECT doc_id, '/source', 'source.$ref', 'error',
                   '[/source] value does not match the required pattern'
            FROM documents
            WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-3]$')
            UNION ALL
            SELECT doc_id, '/n_chars', 'n_chars.$ref', 'error',
                   '[/n_chars] constraint ''allOf'' violated'
            FROM documents
            WHERE n_chars IS NOT NULL AND (n_chars < 50 OR n_chars > 380)
        """,
        # Mirrors q_schema_dynamic: the overridden extension point is the
        # stricter ^src[0-2]$ pattern (entry-chain binding wins), the
        # non-overridden one is the library's enum default.
        "schema_dynamic": """
            SELECT doc_id, '/source' AS span_path, 'source.$ref' AS rule_id,
                   'error' AS severity,
                   '[/source] value does not match the required pattern' AS message
            FROM documents
            WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-2]$')
            UNION ALL
            SELECT doc_id, '/lang', 'lang.$ref', 'error',
                   '[/lang] value is not in the allowed set'
            FROM documents
            WHERE lang IS NOT NULL AND lang NOT IN ('en', 'es', 'fr', 'de')
        """,
        # Mirrors q_schema_draft4: strict lower bound (exclusiveMinimum
        # true => <= 60 fails), inclusive upper (exclusiveMaximum false
        # => only > 380 fails); pattern unchanged by the dialect.
        "schema_draft4": """
            SELECT doc_id, '/n_chars' AS span_path,
                   'n_chars.exclusiveMinimum' AS rule_id,
                   'error' AS severity,
                   '[/n_chars] constraint ''exclusiveMinimum'' violated' AS message
            FROM documents WHERE n_chars IS NOT NULL AND n_chars <= 60
            UNION ALL
            SELECT doc_id, '/n_chars', 'n_chars.maximum', 'error',
                   '[/n_chars] constraint ''maximum'' violated'
            FROM documents WHERE n_chars IS NOT NULL AND n_chars > 380
            UNION ALL
            SELECT doc_id, '/source', 'source.pattern', 'error',
                   '[/source] value does not match the required pattern'
            FROM documents
            WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-2]$')
        """,
        # Mirrors q_schema_draft4_id: the dialect pre-pass makes draft-4
        # `id` behave exactly like `$id`, so the compiled rules are the
        # plain inlined-$ref forms (cap 380 on n_chars, library pattern
        # on source) — rule_id keeps the .$ref spelling.
        "schema_draft4_id": """
            SELECT doc_id, '/n_chars' AS span_path,
                   'n_chars.$ref' AS rule_id, 'error' AS severity,
                   '[/n_chars] constraint ''maximum'' violated' AS message
            FROM documents WHERE n_chars IS NOT NULL AND n_chars > 380
            UNION ALL
            SELECT doc_id, '/source', 'source.$ref', 'error',
                   '[/source] value does not match the required pattern'
            FROM documents
            WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-2]$')
        """,
        # Mirrors q_schema_recursive_ref: the entry override re-routes the
        # library's $recursiveRef to the stricter cap (300); the plain
        # entry inherits the library root's default (380).
        "schema_recursive_ref": """
            SELECT doc_id, '/n_chars' AS span_path, 'n_chars.$ref' AS rule_id,
                   'error' AS severity,
                   '[/n_chars] constraint ''maximum'' violated' AS message,
                   'override' AS side
            FROM documents WHERE n_chars IS NOT NULL AND n_chars > 300
            UNION ALL
            SELECT doc_id, '/n_chars', 'n_chars.$ref', 'error',
                   '[/n_chars] constraint ''maximum'' violated', 'default'
            FROM documents WHERE n_chars IS NOT NULL AND n_chars > 380
        """,
        # Mirrors q_plugin_merge: built-in rule violations UNIONed with
        # the two deterministic plugin streams, per-doc counters via the
        # same left-join-back shape (clean docs keep SUCCESS rows).
        "plugin_merge": """
            WITH viol AS (
              SELECT doc_id, 'error' AS severity FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 380
              UNION ALL
              SELECT doc_id, 'warning' FROM documents
              WHERE source IS NOT NULL
                AND NOT regexp_matches(source, '^src[0-2]$')
              UNION ALL
              SELECT doc_id, 'error' FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id, 'warning' FROM documents WHERE doc_id % 7 = 0
            ), counts AS (
              SELECT doc_id,
                     sum((severity = 'error')::INT)::BIGINT AS n_errors,
                     sum((severity = 'warning')::INT)::BIGINT AS n_warnings
              FROM viol GROUP BY doc_id
            )
            SELECT d.doc_id::VARCHAR AS doc_id,
                   coalesce(c.n_errors, 0)::BIGINT AS n_errors,
                   coalesce(c.n_warnings, 0)::BIGINT AS n_warnings,
                   CASE WHEN coalesce(c.n_errors, 0) = 0
                        THEN 'SUCCESS' ELSE 'FAILURE' END AS result
            FROM documents d LEFT JOIN counts c ON c.doc_id = d.doc_id
        """,
        # Mirrors q_detail_messages: the interpolated suffix recomputed
        # from the raw columns ('(absent)' for the derived-null required
        # case); templates quote rules/messages.py 'en' verbatim.
        "detail_messages": """
            SELECT doc_id, '/n_chars' AS span_path, 'cap.n_chars' AS rule_id,
                   'error' AS severity,
                   '[/n_chars] constraint ''maximum'' violated (expected maximum 380, found '
                     || n_chars::VARCHAR || ')' AS message
            FROM documents WHERE n_chars IS NOT NULL AND n_chars > 380
            UNION ALL
            SELECT doc_id, '/source', 'srcpat.source', 'error',
                   '[/source] value does not match the required pattern (expected pattern ^src[0-2]$, found '
                     || source || ')'
            FROM documents
            WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-2]$')
            UNION ALL
            SELECT doc_id, '/lang_opt', 'req.lang_opt', 'error',
                   '[/lang_opt] required value is missing (expected required, found (absent))'
            FROM documents WHERE doc_id % 6 = 0
        """,
        # Mirrors q_sample_schema: the deterministic person-corpus
        # construction (chain depth = doc_id % 4) re-derived as CASE
        # arithmetic — no JSON needed on the oracle side, every violation
        # (and the depth-boundary row) is a pure function of doc_id.
        "sample_schema": """
            WITH base AS (SELECT doc_id, doc_id % 4 AS c FROM documents)
            SELECT doc_id, '/people/0' AS node_path,
                   'firstName.required' AS rule_id, 'error' AS severity
            FROM base WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id, '/people/0', 'lastName.required', 'error'
            FROM base WHERE doc_id % 11 = 3
            UNION ALL
            SELECT doc_id, '/people/0', 'age.type', 'error'
            FROM base WHERE doc_id % 5 = 2
            UNION ALL
            SELECT doc_id, '/people/0/children/0', 'lastName.required', 'error'
            FROM base WHERE c >= 1 AND (doc_id + 1) % 6 = 0
            UNION ALL
            SELECT doc_id, '/people/0/children/0/children/0',
                   'lastName.required', 'error'
            FROM base WHERE c >= 2 AND (doc_id + 2) % 6 = 0
            UNION ALL
            SELECT doc_id, '/people/0/children/0/children/0',
                   'person.refDepthExceeded', 'error'
            FROM base WHERE c = 3
        """,
        # Mirrors q_unicode_normalize via DuckDB's native nfc_normalize;
        # chr(769) = U+0301 combining acute, chr(233) = precomposed e-acute.
        "unicode_normalize": """
            WITH m AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN text || ' caf' || 'e' || chr(769)
                          WHEN doc_id % 3 = 1 THEN text || ' caf' || chr(233)
                          ELSE text END AS text
              FROM documents
            )
            SELECT doc_id, nfc_normalize(text) AS norm_text,
                   nfc_normalize(text) <> text AS changed
            FROM m
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE {_duck_u("doc_id::VARCHAR, 'strat'")} <
                  CASE WHEN lang = 'en' THEN 0.5
                       WHEN lang = 'es' THEN 0.25
                       WHEN lang = 'fr' THEN 0.1
                       ELSE 0.05 END
        """,
        "hash_split": f"""
            SELECT doc_id,
                   CASE WHEN {_duck_u("doc_id::VARCHAR, 'split'")} < 0.8 THEN 'train'
                        WHEN {_duck_u("doc_id::VARCHAR, 'split'")} < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        # cluster_split: recursive-CTE transitive closure over the same
        # simhash pair set as dedup_components, then the hash_split md5
        # CASE keyed by coalesce(component_id, doc_id) — cluster members
        # share the canonical id hence the split, bit-for-bit.
        "cluster_split": (
            _SIMHASH_CTE.replace("__DOCSRC__", "docs").replace(
                "WITH base AS",
                f"WITH RECURSIVE docs AS ({_UNION_DUP_SQL}), base AS",
                1,
            )
            + f"""
            , pairs AS (
              SELECT a.doc_id AS da, b.doc_id AS db
              FROM fp a, fp b
              WHERE a.doc_id < b.doc_id
                AND bit_count(xor(a.simhash, b.simhash)) <= 3
            ), edges AS (
              SELECT da AS node, db AS peer FROM pairs
              UNION
              SELECT db AS node, da AS peer FROM pairs
            ), reach(node, root) AS (
              SELECT node, node FROM (SELECT DISTINCT node FROM edges) n
              UNION
              SELECT e.peer, r.root FROM reach r JOIN edges e ON e.node = r.node
            ), comp AS (
              SELECT node AS doc_id, min(root) AS component_id
              FROM reach GROUP BY node
            )
            SELECT d.doc_id,
                   CASE WHEN {_duck_u("coalesce(c.component_id, d.doc_id)::VARCHAR, 'split'")} < 0.8
                        THEN 'train'
                        WHEN {_duck_u("coalesce(c.component_id, d.doc_id)::VARCHAR, 'split'")} < 0.9
                        THEN 'val'
                        ELSE 'test' END AS split
            FROM docs d LEFT JOIN comp c ON c.doc_id = d.doc_id
            """
        ),
        # mixture_weights: same groupBy token accounting, same window
        # share/argmax arithmetic (doubles in identical IEEE order, then
        # round 6 — the standard cross-engine float discipline).
        "mixture_weights": f"""
            WITH per AS (
              SELECT lang AS stratum,
                     count(*)::BIGINT AS n_docs,
                     coalesce(sum(len({_DUCK_TOKS})), 0)::BIGINT AS n_tokens
              FROM documents GROUP BY lang
            ), shared AS (
              SELECT *,
                     n_tokens / (sum(n_tokens) OVER ()) AS tok_share,
                     CASE WHEN stratum = 'en' THEN 0.5
                          WHEN stratum = 'es' THEN 0.3
                          WHEN stratum = 'fr' THEN 0.2
                          ELSE 0.0 END AS target
              FROM per
            ), rawed AS (
              SELECT *,
                     CASE WHEN tok_share > 0 THEN target / tok_share
                          ELSE 0.0 END AS raw
              FROM shared
            )
            SELECT stratum, n_docs, n_tokens,
                   round(tok_share, 6) AS token_share,
                   target::DOUBLE AS target_share,
                   CASE WHEN max(raw) OVER () > 0
                        THEN round(raw / max(raw) OVER (), 6)
                        ELSE 0.0 END AS keep_fraction
            FROM rawed
        """,
        # resample_mixture: the mixture_weights fraction CTE joined
        # null-safely back onto the corpus, then the same md5 uniform
        # keep decision as stratified_sample.
        "resample_mixture": f"""
            WITH per AS (
              SELECT lang AS stratum,
                     coalesce(sum(len({_DUCK_TOKS})), 0)::BIGINT AS n_tokens
              FROM documents GROUP BY lang
            ), shared AS (
              SELECT *,
                     n_tokens / (sum(n_tokens) OVER ()) AS tok_share,
                     CASE WHEN stratum = 'en' THEN 0.5
                          WHEN stratum = 'es' THEN 0.3
                          WHEN stratum = 'fr' THEN 0.2
                          ELSE 0.0 END AS target
              FROM per
            ), rawed AS (
              SELECT *,
                     CASE WHEN tok_share > 0 THEN target / tok_share
                          ELSE 0.0 END AS raw
              FROM shared
            ), keeps AS (
              SELECT stratum,
                     CASE WHEN max(raw) OVER () > 0
                          THEN round(raw / max(raw) OVER (), 6)
                          ELSE 0.0 END AS keep_fraction
              FROM rawed
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN keeps k ON d.lang IS NOT DISTINCT FROM k.stratum
            WHERE {_duck_u("d.doc_id::VARCHAR, 'mix'")} < k.keep_fraction
        """,
        # pack_sequences: identical shard hash (md5 prefix), identical
        # per-shard doc_id order, identical exclusive cumsum → identical
        # sequence assignment, row for row.
        # global_shuffle: the engine's sharded rank must equal the
        # literal global row_number over the identical md5 key.
        "global_shuffle": """
            SELECT doc_id,
                   (row_number() OVER (
                      ORDER BY md5(concat_ws(':', doc_id::VARCHAR, 'shuf')), doc_id
                    ) - 1)::BIGINT AS position
            FROM documents
        """,
        "pack_sequences": f"""
            WITH t AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 8 AS shard,
                     len({_DUCK_TOKS})::BIGINT AS n_tokens
              FROM documents
            ), w AS (
              SELECT doc_id, shard, n_tokens,
                     coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              FROM t
            )
            SELECT doc_id, shard, n_tokens,
                   (cum_before // 256)::BIGINT AS seq_id,
                   (cum_before % 256)::BIGINT AS seq_offset
            FROM w
        """,
        "pack_stats": f"""
            WITH t AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 8 AS shard,
                     len({_DUCK_TOKS})::BIGINT AS n_tokens
              FROM documents
            ), w AS (
              SELECT doc_id, shard, n_tokens,
                     coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              FROM t
            )
            SELECT shard, (cum_before // 256)::BIGINT AS seq_id,
                   count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS tokens_total,
                   round(sum(n_tokens) / 256.0, 6) AS fill_ratio
            FROM w GROUP BY 1, 2
        """,
        "pack_materialize": f"""
            WITH t AS (
              SELECT doc_id, text,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 8 AS shard,
                     len({_DUCK_TOKS})::BIGINT AS n_tokens
              FROM documents
            ), w AS (
              SELECT doc_id, text, shard, n_tokens,
                     coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              FROM t
            )
            SELECT shard, (cum_before // 256)::BIGINT AS seq_id,
                   count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS tokens_total,
                   string_agg(text, ' ' ORDER BY doc_id) AS text
            FROM w GROUP BY 1, 2
        """,
        "pii_scrub": """
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                            THEN text || ' contact user' || doc_id::VARCHAR || '@example.com'
                          WHEN doc_id % 11 = 0
                            THEN text || ' call 555-123-4567 now'
                          ELSE text END AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
                   len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones,
                   md5(regexp_replace(
                     regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                     '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS scrub_sig
            FROM t
        """,
        "top_violations": (
            f"WITH viol AS ({_CORPUS_SQL}) "
            "SELECT rule_id, severity, count(*)::BIGINT AS count FROM viol "
            "GROUP BY 1, 2 ORDER BY count DESC, rule_id, severity LIMIT 3"
        ),
        "tar_reports": f"""
            WITH v AS ({_ROW_RULES_SQL}),
            agg AS (
              SELECT doc_id, count(*) AS n_items,
                     md5(string_agg(
                       span_path || '|' || rule_id || '|' || severity || '|' || message,
                       ';' ORDER BY span_path, rule_id, severity, message)) AS sig
              FROM v GROUP BY doc_id
            ), base AS ({_VERDICT_BASE})
            SELECT base.doc_id::VARCHAR AS doc_id,
                   CASE WHEN n_errors = 0 THEN 'SUCCESS' ELSE 'FAILURE' END AS result,
                   n_errors AS "nrOfErrors", n_warnings AS "nrOfWarnings",
                   coalesce(n_items, 0)::BIGINT AS n_items,
                   coalesce(sig, md5('')) AS reports_sig
            FROM base LEFT JOIN agg ON agg.doc_id = base.doc_id
        """,
        "keyword_scalars": _KW_SCALARS_SQL,
        "keyword_objects": _KW_OBJECTS_SQL,
        "uneval_dynamic": _UNEVAL_DYNAMIC_SQL,
        "events_json": _EVENTS_SQL,
        "corrupt_records": """
            SELECT event_id::VARCHAR AS doc_id, '/props' AS span_path,
                   'corrupt.props' AS rule_id, 'error' AS severity,
                   '[/props] content is not parseable as the accepted type' AS message
            FROM events
            WHERE props IS NOT NULL AND NOT json_valid(
              CASE WHEN event_id % 13 = 0 THEN '{' || props ELSE props END)
        """,
        "combination_any": """
            WITH f AS (
              SELECT doc_id,
                     (n_chars IS NULL OR n_chars BETWEEN 50 AND 250) AS a_ok,
                     (lang IS NULL OR lang = 'en') AS b_ok
              FROM documents
            )
            SELECT doc_id,
                   (a_ok::INT + b_ok::INT)::BIGINT AS n_branches_passed,
                   CASE WHEN a_ok OR b_ok THEN 'SUCCESS' ELSE 'FAILURE' END AS result
            FROM f
        """,
        "corpus_doc_verdicts": f"""
            SELECT d.doc_id,
                   coalesce(v.n, 0)::BIGINT AS n_errors,
                   CASE WHEN coalesce(v.n, 0) = 0 THEN 'SUCCESS' ELSE 'FAILURE' END AS result
            FROM documents d
            LEFT JOIN (
              SELECT doc_id, count(*) AS n
              FROM ({_CORPUS_SQL}) viol
              WHERE severity = 'error'
              GROUP BY doc_id
            ) v ON v.doc_id = d.doc_id
        """,
        "combination_any_report": """
            WITH failing AS (
              SELECT doc_id FROM documents
              WHERE NOT (n_chars IS NULL OR n_chars BETWEEN 50 AND 250)
                AND NOT (lang IS NULL OR lang = 'en')
            )
            SELECT doc_id, '/' AS span_path, 'combination.any' AS rule_id,
                   'error' AS severity,
                   'content does not match any of the configured schemas' AS message
            FROM failing
            UNION ALL
            SELECT doc_id, '/n_chars', 'a.range.n_chars', 'error',
                   '[0]: [/n_chars] constraint ''range'' violated'
            FROM failing
            UNION ALL
            SELECT doc_id, '/lang', 'b.enum.lang', 'error',
                   '[1]: [/lang] value is not in the allowed set'
            FROM failing
        """,
        "combination_oneof_report": """
            WITH f AS (
              SELECT doc_id,
                     (n_chars IS NULL OR n_chars BETWEEN 50 AND 250)::INT
                   + (lang IS NULL OR lang = 'en')::INT AS np,
                     (n_chars IS NULL OR n_chars BETWEEN 50 AND 250) AS a_ok,
                     (lang IS NULL OR lang = 'en') AS b_ok
              FROM documents
            )
            SELECT doc_id, '/' AS span_path, 'combination.oneOf' AS rule_id,
                   'error' AS severity,
                   'content does not match any of the configured schemas' AS message
            FROM f WHERE np = 0
            UNION ALL
            SELECT doc_id, '/n_chars', 'a.range.n_chars', 'error',
                   '[0]: [/n_chars] constraint ''range'' violated'
            FROM f WHERE np = 0 AND NOT a_ok
            UNION ALL
            SELECT doc_id, '/lang', 'b.enum.lang', 'error',
                   '[1]: [/lang] value is not in the allowed set'
            FROM f WHERE np = 0 AND NOT b_ok
            UNION ALL
            SELECT doc_id, '/', 'combination.oneOf.multiple', 'error',
                   'content matches more than one configured schema'
            FROM f WHERE np > 1
        """,
        "combination_grouped": """
            WITH f AS (
              SELECT doc_id,
                     (n_chars IS NULL OR n_chars BETWEEN 50 AND 250) AS a_ok,
                     (lang IS NULL OR lang = 'en') AS b_ok,
                     (source IS NULL OR regexp_matches(source, '^src[0-9]$')) AS pat_ok,
                     (text IS NOT NULL) AS txt_ok
              FROM documents
            ), g AS (
              SELECT doc_id,
                     (a_ok OR b_ok) AS ga_pass,
                     (pat_ok AND txt_ok) AS gb_pass,
                     CASE WHEN a_ok OR b_ok THEN 0
                          ELSE 1 + (CASE WHEN a_ok THEN 0 ELSE 1 END)
                                 + (CASE WHEN b_ok THEN 0 ELSE 1 END) END AS ga_viols,
                     (CASE WHEN pat_ok THEN 0 ELSE 1 END)
                   + (CASE WHEN txt_ok THEN 0 ELSE 1 END) AS gb_viols
              FROM f
            )
            SELECT doc_id,
                   (ga_pass::INT + gb_pass::INT)::BIGINT AS n_groups_passed,
                   (ga_viols + gb_viols)::BIGINT AS n_violations,
                   CASE WHEN ga_pass AND gb_pass THEN 'SUCCESS' ELSE 'FAILURE' END AS result
            FROM g
        """,
        "span_invariant": _SPAN_SIG_SQL,
        "tdigest": """
            SELECT 0.5::DOUBLE AS p,
                   round(quantile_cont(l_extendedprice::DOUBLE, 0.5), 6) AS exact_quantile,
                   true AS within_tol FROM lineitem
            UNION ALL
            SELECT 0.9::DOUBLE,
                   round(quantile_cont(l_extendedprice::DOUBLE, 0.9), 6), true FROM lineitem
            UNION ALL
            SELECT 0.99::DOUBLE,
                   round(quantile_cont(l_extendedprice::DOUBLE, 0.99), 6), true FROM lineitem
        """,
        "windowed_event_rates": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   count(*)::BIGINT AS n_events,
                   sum(CASE WHEN value IS NOT NULL AND NOT (value BETWEEN 0.0 AND 100.0)
                            THEN 1 ELSE 0 END)::BIGINT AS n_bad_value,
                   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error_events
            FROM events GROUP BY 1
        """,
        "approx_stats": "\nUNION ALL\n".join(
            f"SELECT '{c}' AS \"column\", count(*)::BIGINT AS n, "
            f"round(min({c}::DOUBLE), 6) AS min, round(max({c}::DOUBLE), 6) AS max, "
            f"count(DISTINCT {c})::BIGINT AS n_distinct, "
            f"round(quantile_cont({c}::DOUBLE, 0.25), 6) AS q25, "
            f"round(quantile_cont({c}::DOUBLE, 0.5), 6) AS q50, "
            f"round(quantile_cont({c}::DOUBLE, 0.75), 6) AS q75, "
            f"true AS hll_ok, true AS gk_ok FROM lineitem"
            for c in ["l_quantity", "l_extendedprice", "l_orderkey"]
        ),
        # IVF is approximate by design; the contract row asserts the
        # quantified 0.6 per-query recall floor (tolerance-boolean,
        # like tdigest) — the exact neighbor sets themselves are
        # oracle-checked as knn_bruteforce / knn_numpy.
        "knn_ivf": """
            SELECT vec_id AS query_id, 5::BIGINT AS n_exact,
                   true AS recall_ok, true AS mean_recall_ok
            FROM embeddings WHERE vec_id < 8
        """,
        # Mirrors media.synth_decodable_media + sources/synth.synth_media_catalog:
        # media_ref = 'media://' || uuid-format(lpad(hex(id),32,'0')) for
        # id in [0, 495); mime = [png,jpeg,wav][id % 3]; decode fails iff
        # md5(ref)'s first byte % 97 == 0 (the deterministic corruption).
        "media_decode": """
            WITH ids AS (SELECT unnest(generate_series(0, 494)) AS id),
            refs AS (
              SELECT 'media://' || substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-'
                     || substr(h, 13, 4) || '-' || substr(h, 17, 4) || '-'
                     || substr(h, 21, 12) AS media_ref,
                     CASE id % 3 WHEN 0 THEN 'image/png'
                                 WHEN 1 THEN 'image/jpeg'
                                 ELSE 'audio/wav' END AS mime_type
              FROM (SELECT id, lpad(lower(to_hex(id)), 32, '0') AS h FROM ids) t
            )
            SELECT mime_type,
                   (('0x' || substr(md5(media_ref), 1, 2))::INT % 97) <> 0 AS decode_ok,
                   count(*)::BIGINT AS n
            FROM refs GROUP BY 1, 2
        """,
        # media_features: the synthetic payload is md5(media_ref)'s 16
        # digest bytes tiled 16x to 256 bytes (media.synth_media_table),
        # so byte_mean equals the mean of the 16 digest bytes and the
        # byte-histogram entropy equals the entropy of the digest-byte
        # distribution (p = k/16 — tiling scales counts, not
        # probabilities). Both are exact binary fractions, so the
        # round-6 values match Spark's numpy path bit-for-bit; only the
        # stubbed `feature` projection has no SQL analogue and it is
        # (deliberately) not part of this aggregate.
        "media_features": """
            WITH ids AS (SELECT unnest(generate_series(0, 494)) AS id),
            refs AS (
              SELECT 'media://' || substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-'
                     || substr(h, 13, 4) || '-' || substr(h, 17, 4) || '-'
                     || substr(h, 21, 12) AS media_ref,
                     CASE id % 3 WHEN 0 THEN 'image/png'
                                 WHEN 1 THEN 'image/jpeg'
                                 ELSE 'audio/wav' END AS mime_type
              FROM (SELECT id, lpad(lower(to_hex(id)), 32, '0') AS h FROM ids) t
            ),
            bytes AS (
              SELECT media_ref, mime_type,
                     ('0x' || substr(md5(media_ref), 2 * i + 1, 2))::INT AS b
              FROM refs, (SELECT unnest(generate_series(0, 15)) AS i) pos
            ),
            per_val AS (
              SELECT media_ref, mime_type, b,
                     count(*)::DOUBLE / 16 AS p
              FROM bytes GROUP BY 1, 2, 3
            ),
            per_media AS (
              SELECT media_ref, mime_type,
                     round(sum(p * b), 6) AS byte_mean,
                     round(-sum(p * log2(p)), 6) AS ent
              FROM per_val GROUP BY 1, 2
            )
            SELECT mime_type, count(*)::BIGINT AS n,
                   round(avg(byte_mean), 6) AS avg_byte_mean,
                   round(avg(ent), 6) AS avg_entropy
            FROM per_media GROUP BY 1 ORDER BY 1
        """,
    }
    # the streaming validator consumes the SAME derived corpus; its
    # doc_id is string (stream contract), values otherwise identical
    out["validate_stream_parity"] = (
        "SELECT doc_id::VARCHAR AS doc_id, span_path, rule_id, severity, "
        "message FROM (" + out["corpus_validation"] + ")"
    )
    # streaming ingest accepts exactly what the batch accept does
    out["neardup_ingest_parity"] = out["dedup_incremental_accept"]
    return out
