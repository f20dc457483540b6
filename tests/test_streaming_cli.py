"""Streaming incremental validation + CLI packaging tests."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from json_validator_spark.sources.derive import SPAN_SCHEMA, derive_corpus, derived_corpus_ruleset
from tests.conftest import job_count, rows_set


@pytest.fixture()
def landing(tmp_path, spark):
    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 20) for i in range(50)], "doc_id long, text string"
    )
    corpus = derive_corpus(docs)
    path = str(tmp_path / "landing")
    corpus.write.parquet(path)
    return path, corpus


def test_validate_stream_matches_batch(tmp_path, spark, landing):
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.streaming.validate_stream import validate_stream

    path, corpus = landing
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = f"doc_id bigint, spans {SPAN_SCHEMA}"
    q = validate_stream(spark, path, schema, derived_corpus_ruleset(), out, ckpt)
    q.awaitTermination(120)

    streamed = spark.read.parquet(f"{out}/violations").drop("batch_id")
    batch = violations_df(corpus, derived_corpus_ruleset())
    # violations_df keeps the corpus's own id type; the stream casts
    assert dict(batch.dtypes)["doc_id"] == "bigint"
    batch = batch.withColumn("doc_id", F.col("doc_id").cast("string"))
    assert rows_set(streamed) == rows_set(batch)

    # second batch of new files → incremental, no reprocessing of batch 1
    more = derive_corpus(
        spark.createDataFrame(
            [(i, f"tok{i} word " * 15) for i in range(100, 140)],
            "doc_id long, text string",
        )
    )
    more.write.mode("append").parquet(path)
    q2 = validate_stream(spark, path, schema, derived_corpus_ruleset(), out, ckpt)
    q2.awaitTermination(120)
    streamed2 = spark.read.parquet(f"{out}/violations").drop("batch_id")
    both = batch.unionByName(
        violations_df(more, derived_corpus_ruleset()).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    assert rows_set(streamed2) == rows_set(both)


def test_windowed_violation_rates_batch_mode(spark):
    from json_validator_spark.streaming.validate_stream import windowed_violation_rates

    docs = derive_corpus(
        spark.createDataFrame(
            [(i, f"alpha beta {i} " * 10) for i in range(60)], "doc_id long, text string"
        )
    ).withColumn(
        "ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(secs=F.col("doc_id").cast("int") * 10),
    )
    out = windowed_violation_rates(docs, derived_corpus_ruleset(), window="1 minute")
    rows = out.collect()
    assert sum(r["n_docs"] for r in rows) == 60
    assert len(rows) == 10  # 600s span / 60s windows
    assert all(r["n_violations"] >= r["n_failed"] for r in rows)


def test_cli_validate(tmp_path, spark, landing):
    from json_validator_spark.cli import main

    path, corpus = landing
    out = str(tmp_path / "cli_out")
    rules = {
        "name": "cli-test",
        "rules": [
            {"rule_id": "enum.kind", "target": "/spans/*/kind", "kind": "enum",
             "params": json.dumps({"values": ["text", "media"]}), "severity": "error"},
            {"rule_id": "min.spans", "target": "/spans", "kind": "minItems",
             "params": json.dumps({"value": 1}), "severity": "error"},
        ],
    }
    rules_path = tmp_path / "rules.json"
    rules_path.write_text(json.dumps(rules))
    rc = main([
        "validate", "--input", path, "--output", out, "--rules", str(rules_path),
    ])
    assert rc == 0
    v = spark.read.parquet(f"{out}/violations")
    assert set(v.columns) == {"doc_id", "span_path", "rule_id", "severity", "message"}
    agg = spark.read.parquet(f"{out}/aggregate")
    assert {r["rule_id"] for r in agg.collect()} <= {"enum.kind", "min.spans"}


def test_cli_validate_jsonl_with_corrupt_lines(tmp_path, spark):
    """Raw JSON-lines surface end-to-end: corrupt lines surface as
    corrupt.document violations with a content-derived surrogate id,
    valid rows flow through the rule pass unharmed."""
    from json_validator_spark.cli import main

    lines = [
        '{"doc_id": 1, "lang": "en"}',
        '{"doc_id": 2, "lang": "xx"}',
        "{this is not json",
        '{"doc_id": 4, "lang": "en"}',
    ]
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(lines) + "\n")
    rules = {
        "name": "jsonl-test",
        "rules": [
            {"rule_id": "enum.lang", "target": "/lang", "kind": "enum",
             "params": json.dumps({"values": ["en"]}), "severity": "error"},
        ],
    }
    rules_path = tmp_path / "rules.json"
    rules_path.write_text(json.dumps(rules))
    out = str(tmp_path / "jsonl_out")
    rc = main([
        "validate", "--input", str(src), "--output", out,
        "--input-format", "jsonl", "--input-schema", "doc_id long, lang string",
        "--rules", str(rules_path),
    ])
    assert rc == 0
    v = spark.read.parquet(f"{out}/violations").collect()
    by_rule = {}
    for r in v:
        by_rule.setdefault(r["rule_id"], []).append(r)
    assert [r["doc_id"] for r in by_rule["enum.lang"]] == ["2"]
    corrupt = by_rule["corrupt.document"]
    assert len(corrupt) == 1 and corrupt[0]["doc_id"].startswith("corrupt:")
    # merged verdict surface FAILS the corrupt upload (reference behavior)
    verd = {r["doc_id"]: r["result"] for r in spark.read.parquet(f"{out}/verdicts").collect()}
    assert verd["1"] == "SUCCESS" and verd["2"] == "FAILURE"
    corrupt_verdicts = [v for d, v in verd.items() if d.startswith("corrupt:")]
    assert corrupt_verdicts == ["FAILURE"]


def test_cli_validate_yaml_multidoc(tmp_path, spark):
    """YAML surface: multi-doc files + one unparseable file, through the
    same acceptance layer as JSONL (YAML → canonical JSON → from_json)."""
    import pytest

    pytest.importorskip("yaml")
    from json_validator_spark.cli import main

    ydir = tmp_path / "yml"
    ydir.mkdir()
    (ydir / "a.yaml").write_text(
        "doc_id: 1\nlang: en\n---\ndoc_id: 2\nlang: xx\n"
    )
    (ydir / "b.yaml").write_text("doc_id: 3\nlang: en\n")
    (ydir / "bad.yaml").write_text("{unclosed: [\n")
    rules = {
        "name": "yaml-test",
        "rules": [
            {"rule_id": "enum.lang", "target": "/lang", "kind": "enum",
             "params": json.dumps({"values": ["en"]}), "severity": "error"},
        ],
    }
    rules_path = tmp_path / "rules.json"
    rules_path.write_text(json.dumps(rules))
    out = str(tmp_path / "yaml_out")
    rc = main([
        "validate", "--input", str(ydir), "--output", out,
        "--input-format", "yaml", "--input-schema", "doc_id long, lang string",
        "--rules", str(rules_path),
    ])
    assert rc == 0
    v = spark.read.parquet(f"{out}/violations").collect()
    rules_hit = {(r["doc_id"], r["rule_id"]) for r in v if not r["doc_id"].startswith("corrupt:")}
    assert rules_hit == {("2", "enum.lang")}
    assert sum(1 for r in v if r["rule_id"] == "corrupt.document") == 1
    verd = {r["doc_id"]: r["result"] for r in spark.read.parquet(f"{out}/verdicts").collect()}
    assert verd["1"] == "SUCCESS" and verd["2"] == "FAILURE" and verd["3"] == "SUCCESS"
    assert [v for d, v in verd.items() if d.startswith("corrupt:")] == ["FAILURE"]


def test_yaml_non_string_keys_survive(tmp_path, spark):
    """YAML mapping keys may be dates/ints/bools — key stringification
    must keep the doc valid instead of crashing json.dumps (and the
    whole task) with TypeError."""
    import pytest

    pytest.importorskip("yaml")
    from json_validator_spark.sources.ingest import jsonl_valid, load_yaml_docs

    ydir = tmp_path / "ydk"
    ydir.mkdir()
    (ydir / "d.yaml").write_text(
        "doc_id: 7\nmeta:\n  2024-01-05: x\n  1: a\n  name: b\n"
    )
    raw = load_yaml_docs(spark, str(ydir), "doc_id long, meta map<string,string>")
    rows = jsonl_valid(raw).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 7
    assert rows[0]["meta"]["2024-01-05"] == "x" and rows[0]["meta"]["1"] == "a"


def test_cli_validate_with_checkpoint(tmp_path, spark, landing):
    from json_validator_spark.cli import main

    path, corpus = landing
    out = str(tmp_path / "cli_ck_out")
    ck = str(tmp_path / "cli_ck")
    rules = {
        "name": "ck-test",
        "rules": [
            {"rule_id": "enum.kind", "target": "/spans/*/kind", "kind": "enum",
             "params": json.dumps({"values": ["text", "media"]}), "severity": "error"},
        ],
    }
    rules_path = tmp_path / "rules_ck.json"
    rules_path.write_text(json.dumps(rules))
    rc = main([
        "validate", "--input", path, "--output", out,
        "--rules", str(rules_path), "--checkpoint", ck, "--run-id", "r1",
    ])
    assert rc == 0
    v = spark.read.parquet(f"{out}/violations")
    assert {r["rule_id"] for r in v.collect()} <= {"enum.kind", "unique.doc_id"}
    # lineage recorded all buckets done
    lineage = spark.read.parquet(f"{ck}/lineage")
    assert lineage.filter("status = 'done'").count() >= 64
    # the checkpoint path emits the same report surface as the direct path
    verdicts = spark.read.parquet(f"{out}/verdicts")
    assert {"doc_id", "n_errors", "n_warnings", "result"} <= set(verdicts.columns)
    assert verdicts.count() == corpus.count()
    agg = spark.read.parquet(f"{out}/aggregate")
    assert {r["rule_id"] for r in agg.collect()} <= {"enum.kind", "unique.doc_id"}


def test_batch_replay_is_idempotent(tmp_path, spark):
    """foreachBatch is at-least-once: re-delivering a micro-batch must
    overwrite its own batch_id partition, not append a duplicate copy."""
    from json_validator_spark.streaming.validate_stream import write_batch_idempotent

    schema = "doc_id string, span_path string, rule_id string, severity string, message string"
    b7 = spark.createDataFrame(
        [("d1", "/x", "r1", "error", "m"), ("d2", "/y", "r2", "error", "m")], schema
    )
    path = str(tmp_path / "viol")
    write_batch_idempotent(b7, 7, path)
    write_batch_idempotent(b7, 7, path)  # replay after simulated restart
    assert spark.read.parquet(path).count() == 2

    b8 = spark.createDataFrame([("d3", "/z", "r1", "error", "m")], schema)
    write_batch_idempotent(b8, 8, path)
    got = spark.read.parquet(path)
    assert got.count() == 3  # replay of 7 did not clobber other batches
    assert {r["batch_id"] for r in got.select("batch_id").distinct().collect()} == {7, 8}


def test_stateful_dedup_stream_across_restarts(tmp_path, spark):
    """applyInPandasWithState exact-dedup: state (first-seen content
    hash) survives a stream restart via the checkpoint, so duplicates
    arriving in a later run are still flagged against the original."""
    from json_validator_spark.streaming.dedup_stream import dedup_stream

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")], schema
    )
    b1.write.parquet(landing)
    q = dedup_stream(spark, landing, schema, out, ckpt)
    q.awaitTermination(120)

    got1 = {
        r["doc_id"]: (r["is_duplicate"], r["first_doc_id"])
        for r in spark.read.parquet(f"{out}/dedup").collect()
    }
    assert got1 == {"1": (False, "1"), "2": (False, "2"), "3": (True, "1")}

    # "restart": new query instance, same checkpoint; a late duplicate of
    # doc 1's content must be flagged against first_doc_id=1 from STATE
    spark.createDataFrame([(9, "alpha beta"), (10, "epsilon")], schema).write.mode(
        "append"
    ).parquet(landing)
    q2 = dedup_stream(spark, landing, schema, out, ckpt)
    q2.awaitTermination(120)

    got2 = {
        r["doc_id"]: (r["is_duplicate"], r["first_doc_id"])
        for r in spark.read.parquet(f"{out}/dedup").collect()
    }
    assert got2["9"] == (True, "1")
    assert got2["10"] == (False, "10")
    assert len(got2) == 5


def test_cli_grouped_rules_locale_and_plugin(tmp_path, spark, landing):
    """CLI end-to-end with a grouped rule spec (per-group combination),
    a French message locale, and a plugin violation table merged in."""
    from json_validator_spark.cli import main
    from json_validator_spark.rules import messages

    path, corpus = landing
    out = str(tmp_path / "cli_grp_out")
    rules = {
        "name": "grouped",
        "groups": [
            {
                "name": "external", "combination": "any",
                "rules": [
                    {"rule_id": "a.min.spans", "target": "/spans", "kind": "minItems",
                     "params": json.dumps({"value": 1}), "severity": "error",
                     "ruleset": "A"},
                    {"rule_id": "b.min.spans", "target": "/spans", "kind": "minItems",
                     "params": json.dumps({"value": 999}), "severity": "error",
                     "ruleset": "B"},
                ],
            },
            {
                "name": "preconfigured",
                "rules": [
                    {"rule_id": "max.spans", "target": "/spans", "kind": "maxItems",
                     "params": json.dumps({"value": 2}), "severity": "error"},
                ],
            },
        ],
    }
    rules_path = tmp_path / "rules_grp.json"
    rules_path.write_text(json.dumps(rules))
    plugin = spark.createDataFrame(
        [("0", "/", "plugin.scan", "warning", "marqué par le plugin")],
        "doc_id string, span_path string, rule_id string, severity string, message string",
    )
    plugin_path = str(tmp_path / "plugin_viols")
    plugin.write.parquet(plugin_path)
    try:
        rc = main([
            "validate", "--input", path, "--output", out,
            "--rules", str(rules_path), "--locale", "fr",
            "--extra-violations", plugin_path,
        ])
    finally:
        messages.set_locale("en")
    assert rc == 0
    v = spark.read.parquet(f"{out}/violations")
    ids = {r["rule_id"] for r in v.collect()}
    assert "plugin.scan" in ids               # plugin rows merged
    assert "unique.doc_id" in ids or True     # uniqueness may be clean
    # group A (ANY) passes via branch A → no a./b. violations surface;
    # the preconfigured group's maxItems violations (every doc has ≥3
    # spans) carry the FRENCH catalog message
    msgs = {r["message"] for r in v.filter("rule_id = 'max.spans'").collect()}
    assert msgs and all("contrainte 'maxItems' non respectée" in m for m in msgs)
    assert not ids & {"a.min.spans", "b.min.spans"}


def test_windowed_drift_scores(spark):
    """Windows matching the baseline score PSI≈0; a shifted window is
    flagged — per-window drift against a fixed-edge baseline snapshot."""
    from json_validator_spark.operators.set_checks import histogram
    from json_validator_spark.streaming.validate_stream import (
        window_drift_scores,
        windowed_histogram,
    )

    base = spark.range(0, 5000).select((F.col("id") % 100).cast("double").alias("v"))
    baseline = histogram(base, "v", 0, 100, 10)
    rows = []
    for i in range(3000):
        rows.append(("2024-01-01 10:00:30", float(i % 100)))          # matches baseline
    for i in range(3000):
        rows.append(("2024-01-01 11:00:30", float(60 + (i % 40))))    # shifted
    ev = spark.createDataFrame(rows, "ts_s string, v double").select(
        F.to_timestamp("ts_s").alias("ts"), "v"
    )
    wh = windowed_histogram(ev, "v", 0, 100, 10, window="1 hour")
    scores = window_drift_scores(wh, baseline, 10)
    assert len(scores) == 2
    calm, drifted = scores[0], scores[1]
    assert calm["psi"] < 0.01 and calm["ks"] < 0.01
    assert drifted["psi"] > 0.25 and drifted["ks"] > 0.2
    assert [(s["psi"], s["ks"]) for s in scores] == [(0.0, 0.0), (7.457532, 0.6)]

    # the job count does not grow with the number of windows
    def hist_of(n_windows):
        ids = spark.range(0, 3000 * n_windows)
        hour = (F.col("id") / 3000).cast("int")
        v = F.when(hour % 2 == 0, F.col("id") % 100).otherwise(60 + F.col("id") % 40)
        return windowed_histogram(
            ids.select(
                (F.lit("2024-01-01 10:00:30").cast("timestamp")
                 + F.make_interval(hours=hour)).alias("ts"),
                v.cast("double").alias("v"),
            ),
            "v", 0, 100, 10, window="1 hour",
        )

    jobs = {}
    for n in (2, 6):
        out = []
        jobs[n] = job_count(
            spark, lambda: out.extend(window_drift_scores(hist_of(n), baseline, 10))
        )
        assert [(s["psi"], s["ks"]) for s in out] == [(0.0, 0.0), (7.457532, 0.6)] * (n // 2)
    assert jobs[2] == jobs[6]


def test_neardup_ingest_stream(tmp_path, spark):
    """Streaming near-dup ingest: a micro-batch is screened against the
    standing corpus (exact copy rejected, fresh doc accepted, intra-
    batch duplicate pair keeps the min id); folding accepted docs into
    the corpus makes the next trigger reject their near-copies."""
    from json_validator_spark.streaming.dedup_stream import neardup_ingest_stream

    landing = str(tmp_path / "landing")
    corpus_dir = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    spark.createDataFrame(
        [(1, "the corpus already holds this exact document text"),
         (2, "another standing corpus document about spark tables")],
        schema,
    ).write.parquet(corpus_dir)
    spark.createDataFrame(
        [(101, "the corpus already holds this exact document text"),  # reject
         (102, "completely novel content never seen before anywhere"),
         (103, "completely novel content never seen before anywhere")],  # intra dup
        schema,
    ).write.parquet(landing)

    q = neardup_ingest_stream(spark, landing, schema, corpus_dir, out, ckpt)
    q.awaitTermination(120)
    accepted = spark.read.parquet(f"{out}/accepted")
    assert {r["doc_id"] for r in accepted.collect()} == {102}

    # fold the accepted batch into the corpus; a late near-copy of 102
    # must now be rejected by the standing index
    accepted.write.mode("append").parquet(corpus_dir)
    spark.createDataFrame(
        [(201, "completely novel content never seen before anywhere"),  # now a dup
         (202, "yet another genuinely fresh piece of text entirely")],
        schema,
    ).write.mode("append").parquet(landing)
    q2 = neardup_ingest_stream(spark, landing, schema, corpus_dir, out, ckpt)
    q2.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(f"{out}/accepted").collect()}
    assert got == {102, 202}


def test_session_stream_across_restarts(tmp_path, spark):
    """applyInPandasWithState sessionization: per-user (session_idx,
    last tick) state survives a restart, so an event within the gap of
    the previous RUN's last event continues that session, and one beyond
    the gap opens a new one — matching the batch operator's decisions."""
    import datetime as dt

    from json_validator_spark.streaming.session_stream import session_stream

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long, ts timestamp"
    t0 = dt.datetime(2024, 1, 1)

    def ts(minute):
        return t0 + dt.timedelta(minutes=minute)

    b1 = spark.createDataFrame(
        [(1, 10, ts(0)), (2, 10, ts(5)), (3, 20, ts(0))], schema
    )
    b1.write.parquet(landing)
    q = session_stream(spark, landing, schema, out, ckpt, gap_minutes=30)
    q.awaitTermination(120)
    got1 = {r["event_id"]: (r["session_idx"], r["session_id"])
            for r in spark.read.parquet(f"{out}/sessions").collect()}
    assert got1 == {"1": (1, "10#1"), "2": (1, "10#1"), "3": (1, "20#1")}

    # restart: +20m is within the gap of event 2 (state!), +90m is not
    spark.createDataFrame(
        [(4, 10, ts(25)), (5, 20, ts(90))], schema
    ).write.mode("append").parquet(landing)
    q2 = session_stream(spark, landing, schema, out, ckpt, gap_minutes=30)
    q2.awaitTermination(120)
    got2 = {r["event_id"]: (r["session_idx"], r["session_id"])
            for r in spark.read.parquet(f"{out}/sessions").collect()}
    assert got2["4"] == (1, "10#1")   # continues run-1's session
    assert got2["5"] == (2, "20#2")   # beyond gap: new session
    assert len(got2) == 5

    # parity with the batch operator over the union of all events
    from json_validator_spark.operators.temporal import sessionize

    batch = {str(r["event_id"]): r["session_idx"] for r in sessionize(
        spark.read.parquet(landing), gap_minutes=30).collect()}
    assert batch == {k: v[0] for k, v in got2.items()}


def test_running_stats_stream_across_restarts(tmp_path, spark):
    """Welford-state running stats: after a restart the merged lifetime
    moments equal a batch computation over ALL events ever seen, to
    float precision — state carries (n, mean, M2, min, max)."""
    import statistics

    from json_validator_spark.streaming.stats_stream import running_stats_stream

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_type string, value double"

    b1 = [("a", v) for v in (1.0, 2.0, 3.0)] + [("b", 10.0)]
    spark.createDataFrame(b1, schema).write.parquet(landing)
    q = running_stats_stream(spark, landing, schema, out, ckpt)
    q.awaitTermination(120)
    got1 = {r["key"]: r for r in spark.read.parquet(f"{out}/stats").collect()}
    assert got1["a"]["n"] == 3 and got1["a"]["mean"] == 2.0
    assert got1["b"]["n"] == 1 and got1["b"]["std"] == 0.0

    # restart with more data for 'a' only
    b2 = [("a", v) for v in (4.0, 100.0)]
    spark.createDataFrame(b2, schema).write.mode("append").parquet(landing)
    q2 = running_stats_stream(spark, landing, schema, out, ckpt)
    q2.awaitTermination(120)
    rows = spark.read.parquet(f"{out}/stats").collect()
    a = max((r for r in rows if r["key"] == "a"), key=lambda r: r["n"])
    all_a = [1.0, 2.0, 3.0, 4.0, 100.0]
    assert a["n"] == 5
    assert a["mean"] == round(statistics.mean(all_a), 6)
    assert a["std"] == round(statistics.stdev(all_a), 6)
    assert (a["min"], a["max"]) == (1.0, 100.0)
    assert a["batch_n"] == 2 and a["batch_mean"] == 52.0


def test_jsonl_null_struct_lines_reported_not_dropped(tmp_path, spark):
    """ADVICE r03 #5: a non-blank line that from_json maps to a NULL
    struct (the literal ``null``, a bare scalar) must land in the
    corrupt bucket — previously it vanished from BOTH jsonl_valid and
    jsonl_corrupt_violations. Blank lines stay silently skipped."""
    from json_validator_spark.sources.ingest import (
        jsonl_corrupt_violations,
        jsonl_valid,
        load_jsonl,
    )

    src = tmp_path / "docs.jsonl"
    src.write_text(
        '{"doc_id": 1, "lang": "en"}\n'
        "null\n"
        "\n"
        "   \n"
        "{broken\n"
    )
    df = load_jsonl(spark, str(src), "doc_id long, lang string")
    valid = jsonl_valid(df).collect()
    corrupt = jsonl_corrupt_violations(df).collect()
    assert [r["doc_id"] for r in valid] == [1]
    # 'null' and '{broken' each get a violation; blank lines do not
    assert len(corrupt) == 2
    assert all(r["rule_id"] == "corrupt.document" for r in corrupt)
    assert all(r["doc_id"].startswith("corrupt:") for r in corrupt)
    # exhaustive: every non-blank input line is either valid or reported
    assert len(valid) + len(corrupt) == 3
