"""Report layer — the TAR-report analogue (``JSONValidator.java:443-500``).

The reference builds, per document: result ∈ {SUCCESS, FAILURE} (SUCCESS
iff zero messages, ``:454-459``), error counters (``:447-448``), ordered
report items (``:139-146``), and an *aggregate* report grouping errors by
``severity|message`` (``:466-481``). Set-based analogues:

- per-doc verdicts: a flag column, no shuffle;
- per-partition verdicts: groupBy(spark_partition_id) — the unit the
  checkpoint/lineage layer tracks;
- aggregate rollup: groupBy(rule_id, severity) — map-side partial agg
  makes this cheap at any scale;
- deterministic ordering for diffable test output.
"""

from __future__ import annotations

from pathlib import Path
from xml.sax.saxutils import escape

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_validator_spark.rules.compiler import severity_count


def _result(n_errors: Column) -> Column:
    """The verdict policy: SUCCESS iff zero error-severity violations
    (``JSONValidator.java:454-459``) — warnings/infos are counted but do
    not fail the document."""
    return F.when(n_errors == 0, F.lit("SUCCESS")).otherwise(F.lit("FAILURE"))


def doc_verdicts(with_viols: DataFrame, doc_id: str = "doc_id") -> DataFrame:
    """Per-document verdict from a ``with_violations`` frame, by
    ``_result`` over its error count."""
    n_err = severity_count(F.col("violations"), "error")
    n_warn = severity_count(F.col("violations"), "warning")
    # result derives from n_errors, not doc_pass: by construction every
    # failing combination emits ≥1 error-severity violation (ANY/ONE_OF
    # failures add an error header), so the violations array alone
    # decides the verdict — which lets validate_run keep only that array
    # in its materialized per-doc frame.
    return with_viols.select(
        F.col(doc_id).alias("doc_id"),
        n_err.alias("n_errors"),
        n_warn.alias("n_warnings"),
    ).withColumn("result", _result(F.col("n_errors")))


def _per_doc_rollup(
    ids: DataFrame, violations: DataFrame, doc_id: str, **aggs: Column
) -> DataFrame:
    """``(doc_id, n_errors, n_warnings, *aggs, result)`` for every id in
    ``ids``: the violation stream grouped by its string ``doc_id`` in
    ONE aggregation (counters plus any extra ``aggs``), then joined back
    LEFT so clean docs get zero counters (and NULL extras) and SUCCESS.

    The violations side partial-aggregates to one row per doc with
    violations — typically a tiny fraction of the corpus — so at scale
    it is broadcast-eligible; otherwise it hash-joins on the same doc_id
    key the corpus is already salted by."""
    counts = violations.groupBy(F.col("doc_id").cast("string").alias("__d")).agg(
        F.sum((F.col("severity") == "error").cast("long")).alias("n_errors"),
        F.sum((F.col("severity") == "warning").cast("long")).alias("n_warnings"),
        *(agg.alias(name) for name, agg in aggs.items()),
    )
    base = ids.select(F.col(doc_id).cast("string").alias("doc_id"))
    return (
        base.join(counts, base["doc_id"] == counts["__d"], "left")
        .select(
            "doc_id",
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
            F.coalesce("n_warnings", F.lit(0)).alias("n_warnings"),
            *aggs,
        )
        .withColumn("result", _result(F.col("n_errors")))
    )


def doc_verdicts_merged(
    docs: DataFrame, violations: DataFrame, doc_id: str = "doc_id"
) -> DataFrame:
    """Per-document verdict ``(doc_id, n_errors, n_warnings, result)``
    over the FULL merged violation stream — row rules ∪ uniqueness ∪
    referential ∪ plugin providers — the exact counter semantics of the
    reference's report, which counts plugin TAR items alongside schema
    errors (``JSONValidator.java:193-219`` merge feeding
    ``createReport`` ``:443-459``). ``docs`` only supplies the ids."""
    return _per_doc_rollup(docs, violations, doc_id)


def partition_verdicts(with_viols: DataFrame) -> DataFrame:
    """Per-partition pass/fail rollup ``(partition_id, n_docs, n_errors,
    result)`` over the partitions ``with_viols`` is evaluated in — the
    verdict unit named by the north star."""
    return partition_rollup(with_viols.withColumn("__pid", F.spark_partition_id()))


def partition_rollup(tagged: DataFrame) -> DataFrame:
    """``partition_verdicts`` of a frame that carries its ``violations``
    array and, as ``__pid``, the partition id it was evaluated in (the
    per-doc frame ``validate_run`` materializes); partial (map-side)
    aggregation means one tiny row per partition hits the shuffle."""
    n_err = severity_count(F.col("violations"), "error")
    return (
        tagged.select(F.col("__pid").alias("partition_id"), n_err.alias("n_err"))
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_err").alias("n_errors"),
        )
        .withColumn("result", _result(F.col("n_errors")))
    )


def aggregate_report(violations: DataFrame) -> DataFrame:
    """Rule-level rollup ``(rule_id, severity, count)`` — exactly the
    reference's aggregate report keyed on severity|message with the
    location prefix stripped (``JSONValidator.java:466-481,479``); our
    rule_id *is* the location-free message identity."""
    return violations.groupBy("rule_id", "severity").agg(
        F.count(F.lit(1)).alias("count")
    )


def ordered(violations: DataFrame) -> DataFrame:
    """Deterministic report ordering (ReportItemComparator analogue,
    ``JSONValidator.java:139-146``) — for diffable golden-output tests."""
    return violations.orderBy("doc_id", "span_path", "rule_id")


def run_summary(with_viols: DataFrame) -> DataFrame:
    """One-row run rollup — the CLI summary line
    (``FileReport``/``ValidationRunner.java:156-157``): docs seen,
    total error/warning counts, failed docs, failure rate. One agg
    pass, map-side combined — constant output at any corpus size."""
    n_err = severity_count(F.col("violations"), "error")
    n_warn = severity_count(F.col("violations"), "warning")
    return (
        with_viols.select(n_err.alias("e"), n_warn.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("e").alias("n_errors"),
            F.sum("w").alias("n_warnings"),
            F.sum((F.col("e") > 0).cast("long")).alias("n_failed_docs"),
            F.round(F.avg((F.col("e") > 0).cast("double")), 6).alias("failure_rate"),
        )
    )


def top_violations(violations: DataFrame, k: int = 20) -> DataFrame:
    """Top-K most frequent rules — the human-facing truncated export
    (``ValidationRunner.java:163-176`` caps); full set is always persisted."""
    return (
        aggregate_report(violations)
        .orderBy(F.desc("count"), "rule_id", "severity")
        .limit(k)
    )


def tar_reports_from_violations(
    docs: DataFrame, violations: DataFrame, doc_id: str = "doc_id"
) -> DataFrame:
    """Per-document TAR-shaped report rows — the reference's JSON report
    contract (``JSONValidator.java:443-500``; JSON serialization of the
    TAR via the REST accept header, ``RestValidationController.java:149-159``):
    ``(doc_id, result, counters{nrOfErrors, nrOfWarnings}, reports[])``
    with items sorted by (span_path, rule_id) — the ReportItemComparator
    ordering (``:139-146``). Counters and the item list come out of the
    one ``_per_doc_rollup`` aggregation; ``docs`` only supplies the ids:
    the corpus, or any frame with one row per doc
    (``RunResult.doc_verdicts``). The per-doc ``collect_list`` is
    bounded by that doc's violation count, never corpus-sized."""
    items = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("span_path").alias("location"),
                F.col("rule_id").alias("rule_id"),
                F.col("severity").alias("severity"),
                F.col("message").alias("description"),
            )
        )
    )
    no_items = F.array().cast(
        "array<struct<location:string,rule_id:string,severity:string,description:string>>"
    )
    return _per_doc_rollup(docs, violations, doc_id, reports=items).select(
        "doc_id",
        "result",
        F.struct(
            F.col("n_errors").alias("nrOfErrors"),
            F.col("n_warnings").alias("nrOfWarnings"),
        ).alias("counters"),
        F.coalesce("reports", no_items).alias("reports"),
    )


def aggregate_tar_items(violations: DataFrame) -> DataFrame:
    """Aggregate-report items — the reference's ``AggregateReportItems``
    keying (``JSONValidator.java:466-481``): severity element name +
    description with the ``[location] `` prefix stripped (``:472-479``),
    counted. Output ``(severity, description, count)``, rule-catalog-
    sized (one partial-agg groupBy over the violation stream)."""
    desc = F.when(
        F.col("message").startswith("["),
        F.expr("substring(message, instr(message, '] ') + 2)"),
    ).otherwise(F.col("message"))
    return (
        violations.groupBy("severity", desc.alias("description"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


# ----------------------------------------------------------------------
# File sinks: GITB TAR XML and PDF. Both render the same report — a
# result + counters head, then one entry per item — from one per-doc TAR
# row or from the run-level aggregate items. Driver-side BY DESIGN:
# callers pass the truncated per-doc report set or the rule-catalog-
# sized aggregate, never a corpus-sized frame.
# ----------------------------------------------------------------------


def _tag(severity: str) -> str:
    """The report element an item's severity maps to; unknown → info."""
    return severity if severity in ("error", "warning", "info") else "info"


def _by_severity(items) -> list:
    """Aggregate items in (severity, description) order."""
    return sorted(items, key=lambda r: (r["severity"], r["description"]))


def _write_file(path: str | Path, data: bytes) -> str:
    p = Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_bytes(data)
    return str(p)


def _write_first_docs(
    tar_df: DataFrame, out_dir: str, max_docs: int, ext: str, render
) -> list[str]:
    """Write ``TAR-<doc_id>.<ext>`` for the FIRST ``max_docs`` documents
    by id, skipping rows ``render`` maps to None — the reference's
    per-input report artifact is inherently per-file, so this sink is
    explicitly truncated driver-side output (the full report stays in
    the distributed tables; same contract as ``top_violations``).
    Returns the written paths."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    paths: list[str] = []
    for r in tar_df.orderBy("doc_id").limit(max_docs).collect():
        data = render(r)
        if data is not None:
            paths.append(_write_file(out / f"TAR-{r['doc_id']}.{ext}", data))
    return paths


def _aggregate_counts(violations: DataFrame):
    """``(items, n_errors, n_warnings)`` for an aggregate writer: the
    ``aggregate_tar_items`` rows plus two counters summed from the same
    rows — corpus-size-independent by construction."""
    items = aggregate_tar_items(violations).collect()
    n_err = sum(r["count"] for r in items if r["severity"] == "error")
    n_warn = sum(r["count"] for r in items if r["severity"] == "warning")
    return items, n_err, n_warn


_XML_HEADER = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
_TAR_OPEN = (
    '<TAR xmlns="http://www.gitb.com/tr/v1/" '
    'xmlns:ns2="http://www.gitb.com/core/v1/" '
    'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">'
)


def _xml_tar(result: str, n_errors: int, n_warnings: int, entries, date: str | None) -> str:
    """One GITB TAR document: date, result and counters (nrOfAssertions
    always zero in the reference's JSON flow), then one ``<error|warning|
    info xsi:type="BAR">`` element per ``(severity, description,
    location)`` entry; a None location is left out."""
    lines = [_XML_HEADER, _TAR_OPEN]
    if date is not None:
        lines.append(f"    <date>{escape(date)}</date>")
    lines += [
        f"    <result>{escape(result)}</result>",
        "    <counters>",
        "        <nrOfAssertions>0</nrOfAssertions>",
        f"        <nrOfErrors>{int(n_errors)}</nrOfErrors>",
        f"        <nrOfWarnings>{int(n_warnings)}</nrOfWarnings>",
        "    </counters>",
        "    <reports>",
    ]
    for severity, description, location in entries:
        tag = _tag(severity)
        lines.append(f'        <{tag} xsi:type="BAR">')
        lines.append(f"            <description>{escape(description)}</description>")
        if location is not None:
            lines.append(f"            <location>{escape(location)}</location>")
        lines.append(f"        </{tag}>")
    lines += ["    </reports>", "</TAR>", ""]
    return "\n".join(lines)


def tar_xml(report_row, date: str | None = None) -> str:
    """One per-document TAR report as the GITB XML wire format — the
    shape ``FileManager.java:100-139`` saves as ``TAR-<uuid>.xml`` and
    ``JSONValidator.java:443-465`` populates; each item carries its
    description + location (the JSON-pointer contentPath,
    ``JSONValidator.java:462-463``). ``report_row`` is one
    ``tar_reports_from_violations`` row; items are already in
    ReportItemComparator order (sort_array upstream), so the
    serialization is deterministic."""
    c = report_row["counters"]
    return _xml_tar(
        report_row["result"], c["nrOfErrors"], c["nrOfWarnings"],
        [(it["severity"], it["description"], it["location"]) for it in report_row["reports"]],
        date,
    )


def tar_xml_aggregate(items, n_errors: int, n_warnings: int, date: str | None = None) -> str:
    """One run-level aggregate TAR as XML — the ``TAR-<uuid>_aggregate``
    sibling of the per-doc report (``FileManager.java:100-124``
    aggregate naming; populated at ``JSONValidator.java:485-499``).
    ``items`` are ``aggregate_tar_items`` rows. itb-commons' exact
    aggregated-item wording is localization-dependent (library not in
    this repo); here each item is its location-free description
    prefixed with the occurrence count — deterministic and
    golden-testable. Items serialize in (severity, description) order."""
    return _xml_tar(
        "FAILURE" if n_errors else "SUCCESS", n_errors, n_warnings,
        [(it["severity"], f"({int(it['count'])}x) {it['description']}", None)
         for it in _by_severity(items)],
        date,
    )


def write_tar_xml_reports(
    tar_df: DataFrame,
    out_dir: str,
    max_docs: int = 100,
    date: str | None = None,
) -> list[str]:
    """Write ``TAR-<doc_id>.xml`` files (the ``getReportFileNameXml``
    naming, ``FileManager.java:121-124`` with the doc id as the uuid
    slot) for the first ``max_docs`` documents by id. Returns the
    written paths."""
    return _write_first_docs(
        tar_df, out_dir, max_docs, "xml", lambda r: tar_xml(r, date=date).encode()
    )


def write_tar_xml_aggregate(
    violations: DataFrame, out_path: str, date: str | None = None
) -> str:
    """Serialize the run-level aggregate report to ONE
    ``TAR-aggregate.xml`` file. Returns the written path."""
    return _write_file(
        out_path, tar_xml_aggregate(*_aggregate_counts(violations), date=date).encode()
    )


_PDF_PAGE_LINES = 46  # 11pt leading inside a US-Letter text box
_PDF_WRAP = 92  # chars per line at 10pt Helvetica in a 468pt box


def _pdf_text(s: str) -> bytes:
    """A PDF literal string: latin-1 (the base-14 fonts' StandardEncoding
    superset), unencodable chars replaced, ``\\ ( )`` escaped."""
    b = str(s).encode("latin-1", errors="replace")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def _pdf_wrap(s: str, width: int = _PDF_WRAP) -> list[str]:
    out: list[str] = []
    s = str(s)
    while len(s) > width:
        cut = s.rfind(" ", 1, width + 1)
        if cut <= 0:
            cut = width
        out.append(s[:cut])
        s = s[cut:].lstrip(" ")
    out.append(s)
    return out


def _pdf_document(lines: list[tuple[bool, str]]) -> bytes:
    """Assemble a complete deterministic PDF 1.4 byte string from
    ``(bold, text)`` lines, ``_PDF_PAGE_LINES`` to a page. Objects: 1
    Catalog, 2 Pages, 3/4 the base-14 Helvetica fonts (no embedding),
    then one Page + one Content stream per page; a correct xref table so
    any conforming reader accepts it. No creation timestamp is emitted —
    byte-identical output for identical input is part of the sink's
    contract (golden-testable, idempotent re-runs)."""
    pages = [
        lines[i : i + _PDF_PAGE_LINES] for i in range(0, len(lines), _PDF_PAGE_LINES)
    ]
    objs: list[bytes] = []
    kids = " ".join(f"{5 + 2 * i} 0 R" for i in range(len(pages)))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(pages)} >>".encode("ascii")
    )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold >>")
    for i, page in enumerate(pages):
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 3 0 R /F2 4 0 R >> >> "
                f"/Contents {6 + 2 * i} 0 R >>"
            ).encode("ascii")
        )
        parts = [b"BT /F1 10 Tf 11 TL 72 756 Td"]
        cur_bold = False
        for bold, text in page:
            if bold != cur_bold:
                parts.append(b"/F2 10 Tf" if bold else b"/F1 10 Tf")
                cur_bold = bold
            parts.append(b"(" + _pdf_text(text) + b") Tj T*")
        parts.append(b"ET")
        stream = b"\n".join(parts)
        objs.append(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
        )
    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(buf)
    buf += b"xref\n0 %d\n" % (len(objs) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(buf)


def _pdf_report(
    title: str, result: str, n_errors: int, n_warnings: int, entries, date: str | None
) -> bytes:
    """One report as a PDF: title, result, date and counters, then per
    ``(severity, heading, description)`` entry a bold ``[SEVERITY]
    heading`` line and the wrapped description."""
    lines: list[tuple[bool, str]] = [(True, title), (False, ""), (False, f"Result: {result}")]
    if date is not None:
        lines.append((False, f"Date: {date}"))
    lines += [
        (
            False,
            f"Errors: {int(n_errors)}    Warnings: {int(n_warnings)}    Assertions: 0",
        ),
        (False, ""),
    ]
    for severity, heading, description in entries:
        lines.append((True, f"[{_tag(severity).upper()}] {heading}"))
        lines += [(False, ln) for ln in _pdf_wrap(description)]
        lines.append((False, ""))
    return _pdf_document(lines)


def tar_pdf(report_row, date: str | None = None) -> bytes:
    """One per-document validation report as a PDF — the reference's
    ``report.X.pdf`` / ``TAR-<uuid>.pdf`` artifact
    (``ValidationRunner.java:164-171`` via itb-commons' ReportGenerator;
    naming ``FileManager.java:94-102``). Same content as ``tar_xml``,
    each item headed by its JSON-pointer location. Pure-Python PDF 1.4
    with the base-14 Helvetica fonts — no libraries, byte-deterministic."""
    c = report_row["counters"]
    return _pdf_report(
        f"Validation report - document {report_row['doc_id']}",
        report_row["result"], c["nrOfErrors"], c["nrOfWarnings"],
        [(it["severity"], it["location"], it["description"]) for it in report_row["reports"]],
        date,
    )


def tar_pdf_aggregate(
    items, n_errors: int, n_warnings: int, date: str | None = None
) -> bytes:
    """Run-level aggregate report as a PDF — the ``TAR-<uuid>_aggregate.pdf``
    sibling (``FileManager.java:94-102`` aggregate naming). ``items`` are
    ``aggregate_tar_items`` rows; rendered in (severity, description)
    order with the occurrence-count heading, matching
    ``tar_xml_aggregate``."""
    return _pdf_report(
        "Aggregate validation report",
        "FAILURE" if n_errors else "SUCCESS", n_errors, n_warnings,
        [(it["severity"], f"({int(it['count'])}x)", it["description"])
         for it in _by_severity(items)],
        date,
    )


def write_tar_pdf_reports(
    tar_df: DataFrame,
    out_dir: str,
    max_docs: int = 100,
    date: str | None = None,
    max_items_for_detailed: int = 5000,
) -> list[str]:
    """Write ``TAR-<doc_id>.pdf`` files for the first ``max_docs``
    documents by id — the ``getReportFileNamePdf`` naming
    (``FileManager.java:94-102``). Mirrors the reference's detailed-
    output gate (``ValidationRunner.java:163-176``): a document whose
    item count exceeds ``max_items_for_detailed`` gets NO PDF (the XML/
    table surfaces still carry it) — that is the reference's own
    protection against unbounded driver-side rendering, kept here for
    the same reason. Returns the written paths."""
    return _write_first_docs(
        tar_df, out_dir, max_docs, "pdf",
        lambda r: None if len(r["reports"]) > max_items_for_detailed else tar_pdf(r, date=date),
    )


def write_tar_pdf_aggregate(
    violations: DataFrame, out_path: str, date: str | None = None
) -> str:
    """Serialize the run-level aggregate report to ONE PDF. Returns the
    written path."""
    return _write_file(
        out_path, tar_pdf_aggregate(*_aggregate_counts(violations), date=date)
    )
