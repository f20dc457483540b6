"""spark-submit entry point (BASELINE.json "packaged for spark-submit
--py-files") — the CLI surface analogue of the reference's standalone
JAR (``ValidationRunner.java:93-119``), with the per-input loop
replaced by one distributed pass.

Usage:
    spark-submit --py-files json_validator_spark.zip \
        -m json_validator_spark.cli validate \
        --input <table-or-parquet-or-files> --output <dir> \
        [--input-format table|jsonl|yaml --input-schema <ddl>] \
        [--rules rules.json | --schema schema.json] [--media-catalog <table>] \
        [--checkpoint <dir> --run-id <id>] [--repartition N] \
        [--format tables|xml|csv|pdf [--xml-max N]]

or locally: ``python -m json_validator_spark.cli validate ...``.

Outputs (S7 sink analogue, ``FileManager.java:100-139``):
``{output}/violations``, ``{output}/verdicts``, ``{output}/aggregate``,
and ``{output}/partition_verdicts`` without ``--checkpoint`` — Iceberg
tables when the catalog resolves,
parquet otherwise (``sources/tables.write_table``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _one_ruleset(spec: dict, default_name: str = "cli"):
    from json_validator_spark.rules.model import Combination, Rule, RuleSet

    return RuleSet(
        rules=tuple(Rule.from_row(r) for r in spec["rules"]),
        combination=Combination(spec.get("combination", "all")),
        name=spec.get("name", default_name),
    )


def _load_ruleset(path: str | None):
    """Rule-table JSON (FIXTURES.md §4). Two shapes:

    - ``{"rules": [...], "combination": "all|any|oneOf"}`` — one set;
    - ``{"groups": [{...}, {...}]}`` — the preconfigured ⊕ external
      composition (``JSONValidator.java:423-435``): each group keeps its
      own combination, groups conjoin.
    """
    from json_validator_spark.corpus import corpus_ruleset
    from json_validator_spark.rules.model import RuleSetGroup

    if path is None:
        return corpus_ruleset()
    with open(path) as f:
        spec = json.load(f)
    if "groups" in spec:
        return RuleSetGroup(
            groups=tuple(
                _one_ruleset(g, f"group{i}") for i, g in enumerate(spec["groups"])
            ),
            name=spec.get("name", "cli-grouped"),
        )
    return _one_ruleset(spec)


def cmd_validate(args: argparse.Namespace) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from json_validator_spark.operators import report as rpt
    from json_validator_spark.plans.pipeline import validate_run
    from json_validator_spark.session import get_spark
    from json_validator_spark.sources.tables import load_table, write_table

    if args.locale:
        from json_validator_spark.rules.messages import set_locale

        set_locale(args.locale)

    spark = get_spark(app_name="jvs-validate", master=args.master)
    extra = (
        [load_table(spark, p) for p in args.extra_violations]
        if args.extra_violations
        else None
    )
    if args.input_format in ("jsonl", "yaml"):
        # raw-file surface (the reference's JSON/YAML upload analogue):
        # corrupt documents become first-class violations, valid rows proceed
        from json_validator_spark.sources.ingest import (
            jsonl_corrupt_violations,
            jsonl_valid,
            load_jsonl,
            load_yaml_docs,
        )

        if not args.input_schema:
            raise SystemExit(f"--input-format {args.input_format} requires --input-schema (DDL)")
        loader = load_jsonl if args.input_format == "jsonl" else load_yaml_docs
        raw = loader(spark, args.input, args.input_schema)
        docs = jsonl_valid(raw)
        corrupt = jsonl_corrupt_violations(raw)
        extra = (extra or []) + [corrupt]
    else:
        docs = load_table(spark, args.input)
        corrupt = None
    media = load_table(spark, args.media_catalog) if args.media_catalog else None
    definitions = None
    if args.schema:
        # the reference's own interface: a JSON-Schema document
        # (JSONValidator.java:321-345) compiled to the flat rule table
        from json_validator_spark.rules.schema_import import ruleset_from_json_schema

        if args.rules:
            raise SystemExit("--rules and --schema are mutually exclusive")
        registry = None
        if args.shared_schemas or args.schema_fetch_prefix:
            from json_validator_spark.rules.schema_registry import (
                SchemaRegistry,
                http_fetcher,
            )

            fetcher = (
                http_fetcher(args.schema_fetch_prefix)
                if args.schema_fetch_prefix else None
            )
            registry = SchemaRegistry.from_paths(
                args.shared_schemas or [],
                fetcher=fetcher,
                allowed_uri_prefixes=args.schema_fetch_prefix,
            )
        with open(args.schema) as f:
            ruleset, definitions = ruleset_from_json_schema(
                json.load(f), registry=registry, max_ref_depth=args.max_ref_depth
            )
    else:
        ruleset = _load_ruleset(args.rules)

    t0 = time.perf_counter()
    partition_verdicts = None
    if args.checkpoint:
        from json_validator_spark.plans.checkpoint import (
            read_violations,
            run_with_checkpoint,
        )

        run_with_checkpoint(
            spark, docs, ruleset, args.checkpoint, args.run_id or "cli-run",
            media_catalog=media, extra_violations=extra, definitions=definitions,
        )
        violations = read_violations(spark, args.checkpoint)
        ids = docs
        aggregate = rpt.aggregate_report(violations)
    else:
        # every table below is derived from the run's materialized frames
        res = validate_run(
            spark, docs, ruleset, definitions=definitions, media_catalog=media,
            repartition_to=args.repartition,
            extra_violations=extra,
        )
        violations = res.violations
        ids = res.doc_verdicts  # one row per doc, no corpus re-scan
        partition_verdicts = res.partition_verdicts
        aggregate = res.aggregate
    # one string id base for every per-doc surface
    ids = ids.select(F.col("doc_id").cast("string").alias("doc_id"))
    if corrupt is not None:
        # corrupt uploads FAIL like the reference's: their surrogate ids
        # join the base, so they get verdict rows and TAR files too
        ids = ids.unionByName(corrupt.select("doc_id"))
    # {output}/verdicts is ALWAYS per-doc merged-TAR rows (doc_id,
    # n_errors, n_warnings, result); the partition rollup gets its own
    # table where there is one
    write_table(rpt.ordered(violations), f"{args.output}/violations")
    # n_docs is counted while the verdict table (one row per doc incl.
    # corrupt uploads) is written: docs.count() would re-run the whole
    # raw ingestion, and re-reading the table costs two more jobs
    verdict_rows = Observation()
    write_table(
        rpt.doc_verdicts_merged(ids, violations).observe(
            verdict_rows, F.count(F.lit(1)).alias("n_docs")
        ),
        f"{args.output}/verdicts",
    )
    if partition_verdicts is not None:
        write_table(partition_verdicts, f"{args.output}/partition_verdicts")
    write_table(aggregate, f"{args.output}/aggregate")
    if args.format == "csv":
        rpt.ordered(violations).write.option("header", True).mode(
            "overwrite"
        ).csv(f"{args.output}/csv")
    elif args.format in ("xml", "pdf"):
        import datetime as _dt

        write_reports, write_aggregate = {
            "xml": (rpt.write_tar_xml_reports, rpt.write_tar_xml_aggregate),
            "pdf": (rpt.write_tar_pdf_reports, rpt.write_tar_pdf_aggregate),
        }[args.format]
        now = _dt.datetime.now(_dt.timezone.utc).isoformat(timespec="seconds")
        out_dir = f"{args.output}/{args.format}"
        write_reports(
            rpt.tar_reports_from_violations(ids, violations),
            out_dir, max_docs=args.xml_max, date=now,
        )
        write_aggregate(violations, f"{out_dir}/TAR-aggregate.{args.format}", date=now)
    elapsed = time.perf_counter() - t0
    n_docs = verdict_rows.get["n_docs"]
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "elapsed_sec": round(elapsed, 3),
                "docs_per_sec": round(n_docs / elapsed, 1),
                "output": args.output,
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="json_validator_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    v = sub.add_parser("validate", help="validate a documents table")
    v.add_argument("--input", required=True)
    v.add_argument("--output", required=True)
    v.add_argument(
        "--input-format", choices=["table", "jsonl", "yaml"], default="table",
        help="'table' = Iceberg/parquet; 'jsonl' = raw JSON lines; 'yaml' = "
        "YAML files (multi-doc, needs pyyaml) — both raw formats capture "
        "corrupt documents as violations (require --input-schema)",
    )
    v.add_argument(
        "--input-schema", default=None,
        help="DDL schema for --input-format jsonl (explicit schema = "
        "single-scan read, no inference pass)",
    )
    v.add_argument("--rules", default=None, help="rule-table JSON (FIXTURES.md §4)")
    v.add_argument(
        "--schema", default=None,
        help="JSON-Schema document compiled to the rule table "
        "(rules/schema_import.py — the reference's own interface); "
        "mutually exclusive with --rules",
    )
    v.add_argument(
        "--shared-schemas", action="append", default=None,
        help="file or directory preloaded into the $id->document registry "
        "for cross-document $ref (the reference's validator.schemaFile.* "
        "shared-schema config); repeatable",
    )
    v.add_argument(
        "--schema-fetch-prefix", action="append", default=None,
        help="authorize remote $ref fetching (stdlib HTTP, JSON-only, "
        "timeout + size cap) for URIs under this prefix — the reference's "
        "ImportedUriAuthorizer allowlist (LocalSchemaResolver.java:76-79); "
        "repeatable; preloaded --shared-schemas always win (local-first)",
    )
    v.add_argument(
        "--max-ref-depth", type=int, default=None,
        help="bounded unrolling depth for RECURSIVE schemas (deeper "
        "nesting becomes an explicit refDepthExceeded violation); "
        "default: recursion is a compile-time error",
    )
    v.add_argument(
        "--format", choices=["tables", "xml", "csv", "pdf"], default="tables",
        help="'xml' additionally writes per-doc GITB TAR-<doc_id>.xml files "
        "plus the run-level TAR-aggregate.xml under {output}/xml "
        "(FileManager.java:100-139 wire shapes; per-doc files truncated to "
        "--xml-max, the full report stays in tables); 'csv' additionally "
        "writes the ordered violation report as distributed CSV "
        "(getReportFileNameCsv analogue) under {output}/csv; 'pdf' "
        "additionally writes per-doc TAR-<doc_id>.pdf files plus "
        "TAR-aggregate.pdf under {output}/pdf (report.X.pdf analogue, "
        "ValidationRunner.java:164-171; same --xml-max truncation)",
    )
    v.add_argument(
        "--xml-max", type=int, default=100,
        help="max per-doc TAR files written with --format xml or pdf "
        "(the first N documents by id)",
    )
    v.add_argument("--media-catalog", default=None)
    v.add_argument("--checkpoint", default=None)
    v.add_argument("--run-id", default=None)
    v.add_argument("--repartition", type=int, default=None)
    v.add_argument("--master", default=None)
    v.add_argument(
        "--locale", default=None,
        help="violation-message locale (en/fr/de; rules/messages.py)",
    )
    v.add_argument(
        "--extra-violations", action="append", default=None,
        help="plugin violation table(s) to merge (JSONValidator.java:193-219 analogue); repeatable",
    )
    v.set_defaults(fn=cmd_validate)
    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
