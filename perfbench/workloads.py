"""The benchmark's workloads and layer probes.

A workload is one user operation on inputs generated from the run's seed
by ``sources.synth``. Inputs are cached on disk keyed by (workload, size,
seed); generating them is scaffolding and is kept out of every engine
metric. The expected violation counts are computed at generation time by
a second path -- the row-rule explode, uniqueness and referential checks
counted separately -- never by the operation being checked.
"""

from __future__ import annotations

import contextlib
import functools
import io
import itertools
import json
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_validator_spark import cli, corpus
from json_validator_spark.operators import row_checks, set_checks
from json_validator_spark.plans import checkpoint, pipeline
from json_validator_spark.rules import schema_import
from json_validator_spark.sources import ingest, synth, tables

# Input files per corpus: two per core on the 4-core reference host.
PARTITIONS = 8
# Truncated JSON lines appended to the JSON-lines copy the ingest probe reads.
N_CORRUPT = 100
JSONL_DDL = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
SCHEMA_FILE = Path(__file__).with_name("schema.json")
# Must match the rule id validate_run gives referential violations.
REF_RULE_ID = "ref.media_catalog"
# Cached input sets kept on disk; older ones are deleted.
CACHE_KEEP = 6


@dataclass(frozen=True)
class Inputs:
    docs: str  # parquet corpus
    media: str  # parquet media catalog
    n_docs: int
    expected: dict[str, int]  # "rule_id|severity" -> count
    gen_s: float  # writing the corpus; 0 when cached
    expected_s: float
    cached: bool

    @property
    def n_violations(self) -> int:
        return sum(self.expected.values())


@dataclass
class Observed:
    n_violations: int
    aggregate: dict[str, int] | None = None
    by_severity: dict[str, int] | None = None


@dataclass
class Ctx:
    spark: SparkSession
    inputs: Inputs
    ruleset: Any
    out: Path
    span: Callable[[str], Any]  # span(name) -> context manager


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    # (ctx) -> observe(); the call is timed, observe() reads the outputs
    run: Callable[[Ctx], Callable[[], Observed]]
    # Discarded passes after set-up. The JIT compiles a method once it has
    # run often enough; a CLI pass runs the engine's code paths over three
    # times as many jobs as a gate pass, so the CLI has mostly settled
    # after the set-up passes while the gate's pass times fall for a few
    # more.
    warm_passes: int
    # Timed passes at least. The JIT is still compiling over them, so a
    # run whose count depended on the host's speed would take its median
    # from a different point of the warm-up; the count is set so that on
    # the fastest host seen it outlasts the run's seconds.
    passes: int


def compile_rules():
    return corpus.corpus_ruleset()


def _cli(ctx: Ctx, *args: str) -> None:
    """``cli.main(["validate", ...])`` with its JSON line swallowed."""
    with ctx.span("cli.main"), contextlib.redirect_stdout(io.StringIO()):
        rc = cli.main(["validate", *args])
    if rc != 0:
        raise RuntimeError(f"cli.main returned {rc}")


def _read_reports(spark: SparkSession, out: Path) -> Observed:
    n = spark.read.parquet(str(out / "violations")).count()
    agg = {
        f"{r['rule_id']}|{r['severity']}": r["count"]
        for r in spark.read.parquet(str(out / "aggregate")).collect()
    }
    return Observed(n_violations=n, aggregate=agg)


def _cli_tables(ctx: Ctx) -> Callable[[], Observed]:
    _cli(ctx, "--input", ctx.inputs.docs, "--output", str(ctx.out),
         "--media-catalog", ctx.inputs.media)
    return lambda: _read_reports(ctx.spark, ctx.out)


def _gate_metrics(ctx: Ctx) -> Callable[[], Observed]:
    spark, inputs = ctx.spark, ctx.inputs
    res = pipeline.validate_run(
        spark, tables.load_table(spark, inputs.docs), ctx.ruleset,
        media_catalog=tables.load_table(spark, inputs.media),
    )
    with ctx.span("pipeline.metrics"):
        m = res.metrics.collect()[0]
    return lambda: Observed(
        n_violations=m["n_violations"],
        by_severity={"error": m["n_errors"], "warning": m["n_warnings"]},
    )


WORKLOADS = {
    w.name: w
    for w in (
        Workload("cli_tables", 6_000, _cli_tables, warm_passes=0, passes=3),
        Workload("gate_metrics", 20_000, _gate_metrics, warm_passes=2, passes=8),
    )
}


def check(obs: Observed, inputs: Inputs) -> list[str]:
    """Disagreements between a run's outputs and the expected values."""
    exp = inputs.expected
    errors = []
    if obs.n_violations != inputs.n_violations:
        errors.append(f"violations {obs.n_violations} != expected {inputs.n_violations}")
    if obs.aggregate is not None and obs.aggregate != exp:
        errors.append(f"aggregate {sorted(obs.aggregate.items())} != expected {sorted(exp.items())}")
    for sev, n in (obs.by_severity or {}).items():
        want = sum(c for k, c in exp.items() if k.endswith(f"|{sev}"))
        if n != want:
            errors.append(f"{sev} count {n} != expected {want}")
    return errors


# -------------------------------------------------------------------- inputs


def _expected(docs: DataFrame, ruleset: Any, media: DataFrame) -> dict[str, int]:
    parts = (
        row_checks.violations_df(docs, ruleset),
        set_checks.uniqueness_violations(docs),
        set_checks.referential_violations(
            set_checks.span_media_refs(docs), "media_ref", media, "media_ref",
            rule_id=REF_RULE_ID, span_path=F.col("span_path"),
        ),
    )
    # each part is counted on its own, then the counts are added
    tagged = [
        p.groupBy("rule_id", "severity").count().withColumn("part", F.lit(i))
        for i, p in enumerate(parts)
    ]
    counts: Counter = Counter()
    for r in functools.reduce(DataFrame.unionByName, tagged).collect():
        counts[f"{r['rule_id']}|{r['severity']}"] += r["count"]
    return dict(counts)


def ensure_inputs(spark: SparkSession, wl: Workload, seed: int, cache: Path) -> Inputs:
    """The corpus and media catalog for (workload, size, seed), generated
    unless cached, and the expected counts. The counts are recomputed on
    every run, so a cached and an uncached run warm the JIT alike before
    set-up starts."""
    dest = cache / f"{wl.name}-n{wl.n_docs}-s{seed}"
    done = dest / "COMPLETE"
    cached = done.is_file()
    t0 = time.perf_counter()
    if not cached:
        cache.mkdir(parents=True, exist_ok=True)
        old = sorted((p for p in cache.iterdir() if p != dest), key=lambda p: p.stat().st_mtime)
        for p in old[: max(0, len(old) - (CACHE_KEEP - 1))] + [dest]:
            shutil.rmtree(p, ignore_errors=True)
        synth.synth_documents(spark, wl.n_docs, seed=seed, partitions=PARTITIONS).write.parquet(
            str(dest / "docs")
        )
        synth.synth_media_catalog(spark).write.parquet(str(dest / "media"))
        done.touch()
    t1 = time.perf_counter()
    expected = _expected(
        spark.read.parquet(str(dest / "docs")), compile_rules(),
        spark.read.parquet(str(dest / "media")),
    )
    return Inputs(
        docs=str(dest / "docs"), media=str(dest / "media"), n_docs=wl.n_docs,
        expected=expected, gen_s=t1 - t0, expected_s=time.perf_counter() - t1, cached=cached,
    )


def write_jsonl_copy(spark: SparkSession, inputs: Inputs, seed: int, dest: Path) -> None:
    """The corpus as JSON lines, plus N_CORRUPT truncated lines: valid
    documents of another seed, each cut short so it cannot parse."""
    tables.load_table(spark, inputs.docs).select(
        F.to_json(F.struct("doc_id", "spans")).alias("value")
    ).write.text(str(dest))
    src = synth.synth_documents(spark, N_CORRUPT, seed=seed + 1).select(
        F.to_json(F.struct("doc_id", "spans")).alias("j")
    )
    rng = random.Random(seed)
    cut = [r["j"][: rng.randrange(1, len(r["j"]))] for r in src.collect()]
    (dest / "corrupt-lines.jsonl").write_text("\n".join(cut) + "\n")


# -------------------------------------------------------------- layer probes


def _sink(df: DataFrame) -> list[str]:
    df.write.format("noop").mode("overwrite").save()
    return []


def probes(
    spark: SparkSession, inputs: Inputs, jsonl: Path, work_dir: Path, span: Callable[[str], Any]
) -> dict[str, Callable[[], list[str]]]:
    """Each layer on its own over the workload's inputs; a probe returns
    its disagreements with the expected values.

    Scan, rules and explode fuse into one stage in a real run, so each is
    sunk to ``format("noop")`` and a layer's self time is the difference
    between two nested probes (``run.py``). The layers off the path of a
    workload are measured here too: the CLI writing its reports, a
    checkpointed run stopped after half the buckets and resumed, the
    JSON-lines copy through ``load_jsonl``, and the JSON Schema document
    compiled."""
    ruleset = compile_rules()
    docs = tables.load_table(spark, inputs.docs)
    media = tables.load_table(spark, inputs.media)
    raw = ingest.load_jsonl(spark, str(jsonl), JSONL_DDL)
    runs = itertools.count()

    def reports() -> list[str]:
        out = work_dir / f"cli{next(runs)}"
        try:
            return check(_cli_tables(Ctx(spark, inputs, ruleset, out, span))(), inputs)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def checkpointed() -> list[str]:
        ckpt, run_id = str(work_dir / f"ckpt{next(runs)}"), "perfbench"
        for half in (32, None):
            checkpoint.run_with_checkpoint(
                spark, docs, ruleset, ckpt, run_id, max_buckets_this_call=half,
                media_catalog=media,
            )
        n = checkpoint.read_violations(spark, ckpt).count()
        shutil.rmtree(ckpt, ignore_errors=True)
        return [] if n == inputs.n_violations else [f"checkpoint violations {n} != {inputs.n_violations}"]

    def ingest_counts() -> list[str]:
        n_valid = ingest.jsonl_valid(raw).count()
        n_corrupt = ingest.jsonl_corrupt_violations(raw).count()
        errors = [f"valid lines {n_valid} != {inputs.n_docs}"] if n_valid != inputs.n_docs else []
        if n_corrupt != N_CORRUPT:
            errors.append(f"corrupt lines {n_corrupt} != {N_CORRUPT}")
        return errors

    def schema() -> list[str]:
        schema_import.ruleset_from_json_schema(json.loads(SCHEMA_FILE.read_text()))
        return []

    def sink(df: DataFrame) -> Callable[[], list[str]]:
        return lambda: _sink(df)

    return {
        "scan": sink(docs),
        "rules": sink(row_checks.with_violations(docs, ruleset).select("violations")),
        "explode": sink(row_checks.violations_df(docs, ruleset)),
        # uniqueness reads the key column only; this is its base
        "keys": sink(docs.select("doc_id")),
        "uniqueness": sink(set_checks.uniqueness_violations(docs)),
        "referential": sink(
            set_checks.referential_violations(
                set_checks.span_media_refs(docs), "media_ref", media, "media_ref",
                rule_id=REF_RULE_ID, span_path=F.col("span_path"),
            )
        ),
        "text": sink(spark.read.text(str(jsonl))),
        "ingest": sink(ingest.jsonl_valid(raw)),
        "ingest_counts": ingest_counts,
        "schema_import": schema,
        "cli": reports,
        "checkpoint": checkpointed,
    }
