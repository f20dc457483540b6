"""Input acceptance — the S2 layer (MIME sniff → corrupt-record handling).

The reference gates input with Tika byte-sampling against an accepted
mime-type list (``FileManager.java:58-64``, accepted list
``application.properties:46``) and sniffs JSON-vs-YAML by first
character (``ValidationSpecs.java:225-243``, ``:233-239``). Set-based
analogue over a stringly payload column:

- ``sniff_json_kind``: first-non-whitespace-character classification
  (object / array / other) — the ``{``/``[`` sniff as a narrow Column
  expression.
- ``parse_json_column`` / ``corrupt_record_violations``: PERMISSIVE
  ``from_json`` with the null ambiguity resolved — ``from_json`` yields
  NULL for corrupt input *and* for NULL input, so "corrupt" is defined
  as ``payload IS NOT NULL AND parsed IS NULL``. Corrupt rows become
  first-class violation rows (the analogue of the reference rejecting a
  non-JSON upload) instead of silently nulling out downstream rules.

Both are pure Catalyst expressions — the whole acceptance layer stays
inside the same narrow scan projection as the row rules.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sniff_json_kind(payload: Column) -> Column:
    """'object' | 'array' | 'other' from the first non-space character
    (``ValidationSpecs.java:233-239``). NULL payload → NULL."""
    # regexp strip, not ltrim: ltrim removes only spaces, but JSON
    # allows tab/newline/CR before the first token
    head = F.substring(F.regexp_replace(payload, r"^\s+", ""), 1, 1)
    return (
        F.when(payload.isNull(), F.lit(None).cast("string"))
        .when(head == "{", F.lit("object"))
        .when(head == "[", F.lit("array"))
        .otherwise(F.lit("other"))
    )


def parse_json_column(
    df: DataFrame, col: str, schema: str, parsed_col: str | None = None
) -> DataFrame:
    """Append ``{parsed_col}`` (default ``{col}_parsed``) and a boolean
    ``{col}_corrupt`` distinguishing genuinely corrupt payloads from
    absent ones."""
    out = parsed_col or f"{col}_parsed"
    parsed = F.from_json(F.col(col), schema)
    return df.withColumns(
        {
            out: parsed,
            f"{col}_corrupt": F.col(col).isNotNull() & parsed.isNull(),
        }
    )


def load_jsonl(spark, path: str, schema: str) -> DataFrame:
    """Raw JSON-lines ingestion with corrupt-line capture — the file
    surface of the reference (``FileManager.java:100-139`` reads the
    uploaded payload; a non-parseable file is rejected with a report).
    Read as TEXT, parse with the same ``from_json`` null-disambiguation
    as ``parse_json_column`` — one splittable scan, an explicit schema
    (no inference pass), and none of Spark's raw-file
    ``_corrupt_record``-only-query restrictions. One mangled line in a
    billion reports a violation instead of failing the job.

    Returns ``(_raw string, _doc struct<schema + _cr>)`` where
    ``_doc._cr`` carries the raw text of a malformed/non-object line
    (``from_json``'s columnNameOfCorruptRecord — a PERMISSIVE struct
    parse fills plain fields with NULLs on corrupt input, so a corrupt
    *column* is the only reliable discriminator); split with
    ``jsonl_valid`` / ``jsonl_corrupt_violations``."""
    return _parse_raw_json(spark.read.text(path).withColumnRenamed("value", "_raw"), schema)


def _parse_raw_json(raw: DataFrame, schema: str) -> DataFrame:
    """``(_raw string)`` → ``(_raw, _doc struct<schema, _cr>)`` — the
    shared acceptance step behind both the JSONL and the YAML surface.

    Trailing-token leniency is this repo's JSONL choice, pinned in
    ``tests/test_ingest_messages.py::test_jsonl_trailing_token_leniency``:
    ``from_json`` (Jackson) parses the first complete JSON value and
    ignores trailing content, so a line like ``{"a":1} junk`` is
    ACCEPTED with the parsed prefix. Whether the reference's upload
    path accepts or rejects such a line is not settled here.
    Contrast ``vocabulary.py``'s ``contentMediaType``, where RFC 8259
    whole-string strictness is the keyword's meaning and the engine
    wraps the parse to enforce it."""
    return raw.select(
        "_raw",
        F.from_json(
            F.col("_raw"),
            f"struct<{schema}, _cr string>",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_cr"},
        ).alias("_doc"),
    )


def load_yaml_docs(spark, path: str, schema: str) -> DataFrame:
    """YAML file ingestion — the other half of the reference's JSON/YAML
    acceptance (``ValidationSpecs.java:225-243`` sniffs and converts;
    YAML is parsed then handled as JSON). Each file may hold multiple
    ``---``-separated documents; every document converts to a canonical
    JSON string in ``mapInPandas`` (pyyaml per Arrow batch of files) and
    flows through the SAME ``from_json`` + corrupt-column acceptance as
    ``load_jsonl`` — an unparseable file or a non-object document lands
    in ``_doc._cr`` and reports as ``corrupt.document``.

    Shape: ``binaryFile`` source (one task per file — YAML configs are
    many-small-files by nature; Spark packs small files into shared
    tasks via ``maxPartitionBytes``), then a narrow Arrow stage. Gated
    on pyyaml at call time with a clear error."""
    try:
        import yaml  # noqa: F401
    except ImportError as e:  # pragma: no cover
        raise ImportError(
            "YAML ingestion needs pyyaml on driver and executors "
            "(ship it via --py-files or the cluster image)"
        ) from e

    files = spark.read.format("binaryFile").load(path).select("content")

    def to_json_lines(batches):
        import json as _json

        import pandas as pd
        import yaml as _yaml

        def norm(o):
            # YAML is a superset of JSON: mapping keys may be dates/ints/
            # bools — stringify keys (and non-JSON scalars like dates)
            # so json.dumps never raises; matches how the reference's
            # Jackson YAML→JSON conversion coerces keys to strings
            if isinstance(o, dict):
                return {str(k): norm(v) for k, v in o.items()}
            if isinstance(o, (list, tuple)):
                return [norm(x) for x in o]
            if isinstance(o, (str, int, float, bool)) or o is None:
                return o
            return str(o)

        for pdf in batches:
            out = []
            for blob in pdf["content"]:
                text = bytes(blob).decode("utf-8", errors="replace")
                try:
                    docs = list(_yaml.safe_load_all(text))
                    lines = [
                        _json.dumps(norm(d), sort_keys=True)
                        for d in docs
                        if d is not None  # empty document between separators
                    ]
                except Exception:  # YAMLError, or a pathological payload
                    out.append(text)  # whole file → one corrupt row
                    continue
                out.extend(lines)
            yield pd.DataFrame({"_raw": out})

    raw = files.mapInPandas(to_json_lines, schema="_raw string")
    return _parse_raw_json(raw, schema)


def jsonl_valid(df: DataFrame) -> DataFrame:
    """The clean side of ``load_jsonl``: parsed rows flattened to the
    declared schema — feed this to ``validate_run``."""
    return (
        df.filter(F.col("_doc").isNotNull() & F.col("_doc._cr").isNull())
        .select("_doc.*")
        .drop("_cr")
    )


def jsonl_corrupt_violations(df: DataFrame) -> DataFrame:
    """Violation rows for non-blank lines that failed JSON parsing. A
    corrupt line has no usable id, so the doc_id is a content-derived
    surrogate (``corrupt:`` + md5 of the raw line) — deterministic,
    partition-invariant, collision-safe for reporting purposes.

    Three buckets make valid ∪ corrupt exhaustive over non-blank lines:
    (1) parse failures (``_cr`` captured), (2) the literal ``null``
    document and (3) any other non-blank line ``from_json`` maps to a
    NULL struct — (2)/(3) would otherwise vanish from BOTH
    ``jsonl_valid`` and this report, silently losing input rows."""
    corrupt = (F.col("_doc").isNotNull() & F.col("_doc._cr").isNotNull()) | (
        F.col("_doc").isNull() & (F.trim(F.col("_raw")) != "")
    )
    return df.filter(corrupt).select(
        F.concat(F.lit("corrupt:"), F.md5("_raw")).alias("doc_id"),
        F.lit("/").alias("span_path"),
        F.lit("corrupt.document").alias("rule_id"),
        F.lit("error").alias("severity"),
        F.lit("[/] content is not parseable as JSON").alias("message"),
    )


def corrupt_record_violations(
    df: DataFrame,
    col: str,
    schema: str,
    doc_id: str = "doc_id",
    rule_id: str | None = None,
) -> DataFrame:
    """Violation rows for payloads that fail to parse under ``schema`` —
    the distributed form of the reference's mime-type rejection
    (``FileManager.java:58-64``): the bad row is *reported*, the rest of
    the corpus proceeds."""
    rid = rule_id or f"corrupt.{col}"
    flagged = parse_json_column(df, col, schema)
    return flagged.filter(F.col(f"{col}_corrupt")).select(
        F.col(doc_id).cast("string").alias("doc_id"),
        F.lit(f"/{col}").alias("span_path"),
        F.lit(rid).alias("rule_id"),
        F.lit("error").alias("severity"),
        F.lit(f"[/{col}] content is not parseable as the accepted type").alias("message"),
    )
