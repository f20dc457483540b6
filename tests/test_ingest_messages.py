"""S2 acceptance layer (first-char sniff + corrupt-record handling,
``FileManager.java:58-64`` / ``ValidationSpecs.java:225-243``) and the
localized message catalogs (validator_*.properties analogue)."""

from __future__ import annotations

from pyspark.sql import functions as F

from json_validator_spark.sources.ingest import (
    corrupt_record_violations,
    parse_json_column,
    sniff_json_kind,
)
from tests.conftest import rows_set


def _payloads(spark):
    return spark.createDataFrame(
        [
            ("d1", '{"k": "1"}'),     # valid object
            ("d2", '[1, 2]'),          # valid array (not a map → corrupt for map schema)
            ("d3", '{{"broken"'),      # invalid JSON
            ("d4", None),              # absent — NOT corrupt
            ("d5", "  {\"k\": \"2\"}"),  # leading whitespace, valid
        ],
        "doc_id string, payload string",
    )


def test_sniff_json_kind(spark):
    got = {
        (r["doc_id"], r["kind"])
        for r in _payloads(spark)
        .select("doc_id", sniff_json_kind(F.col("payload")).alias("kind"))
        .collect()
    }
    assert got == {
        ("d1", "object"), ("d2", "array"), ("d3", "object"),
        ("d4", None), ("d5", "object"),
    }


def test_parse_json_column_null_disambiguation(spark):
    parsed = parse_json_column(_payloads(spark), "payload", "map<string,string>")
    got = {
        (r["doc_id"], r["payload_corrupt"], r["payload_parsed"] is not None)
        for r in parsed.collect()
    }
    # d2 ([1,2]) does not fit map<string,string> → corrupt for THIS schema;
    # d4 (NULL) is absent, not corrupt
    assert got == {
        ("d1", False, True), ("d2", True, False), ("d3", True, False),
        ("d4", False, False), ("d5", False, True),
    }


def test_corrupt_record_violations(spark):
    v = corrupt_record_violations(_payloads(spark), "payload", "map<string,string>")
    assert rows_set(v, "doc_id", "rule_id", "severity") == {
        ("d2", "corrupt.payload", "error"),
        ("d3", "corrupt.payload", "error"),
    }


def test_message_locale_switch(spark):
    """Locale changes only the human-facing message; rule_id / severity /
    violation sets stay identical (the rule_id-keyed contract)."""
    from json_validator_spark.operators.row_checks import violations_df
    from json_validator_spark.rules import messages
    from json_validator_spark.rules.model import Rule, RuleSet

    df = spark.createDataFrame([("d1", None)], "doc_id string, v string")
    rs = RuleSet(rules=(Rule("req.v", "/v", "required"),))

    def msg():
        return violations_df(df, rs).collect()[0]

    en = msg()
    assert en["message"] == "[/v] required value is missing"
    messages.set_locale("fr")
    try:
        fr = msg()
        assert fr["message"] == "[/v] la valeur obligatoire est absente"
        assert (fr["doc_id"], fr["rule_id"], fr["severity"]) == (
            en["doc_id"], en["rule_id"], en["severity"],
        )
    finally:
        messages.set_locale("en")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no message catalog"):
        messages.set_locale("xx")


def test_sniff_handles_all_json_whitespace(spark):
    """Tab / newline / CR before the first token are legal JSON
    whitespace — the sniff must skip them, not classify as 'other'."""
    df = spark.createDataFrame(
        [("t", "\t{\"a\":1}"), ("n", "\n[1]"), ("r", "\r\n {\"b\":2}")],
        "doc_id string, payload string",
    )
    got = {
        (r["doc_id"], r["kind"])
        for r in df.select(
            "doc_id", sniff_json_kind(F.col("payload")).alias("kind")
        ).collect()
    }
    assert got == {("t", "object"), ("n", "array"), ("r", "object")}


def test_jsonl_trailing_token_leniency(tmp_path, spark):
    """Trailing-token acceptance is this repo's JSONL ingest choice
    (`_parse_raw_json` docstring): `{"a":1} junk` parses as the prefix
    object, while a line with no valid JSON prefix is corrupt.
    contentMediaType (the KEYWORD) is deliberately stricter; see
    vocabulary.py."""
    from json_validator_spark.sources.ingest import (
        jsonl_corrupt_violations,
        jsonl_valid,
        load_jsonl,
    )

    src = tmp_path / "docs.jsonl"
    src.write_text(
        '{"doc_id": 1, "lang": "en"}\n'
        '{"doc_id": 2, "lang": "es"} trailing junk\n'
        "junk with no prefix\n"
    )
    df = load_jsonl(spark, str(src), "doc_id long, lang string")
    valid = {(r["doc_id"], r["lang"]) for r in jsonl_valid(df).collect()}
    assert valid == {(1, "en"), (2, "es")}
    assert jsonl_corrupt_violations(df).count() == 1
