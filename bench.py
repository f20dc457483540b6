"""Per-round benchmark. Prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "docs_per_sec": ...}``

Headline workload:
- ``validate_synth``  — the flagship: synthesize the interleaved corpus
  (``BENCH_DOCS`` docs, deterministic, FIXTURES.md §1 shape incl. 1%
  media-heavy skew), run the FULL engine (row rules + uniqueness +
  referential vs media catalog + verdicts), count violations.
  ``docs_per_sec`` (the north metric) comes from this query.
- ``corpus_validation`` — derive spans from the driver ``documents``
  table and validate (the oracle-checked path).
- ``column_stats`` — single-pass stats agg over lineitem (approx
  distinct + percentile sketches).
- ``drift_hist``    — histogram + PSI over lineitem halves.
- ``dedup_minhash`` — MinHash/LSH near-dup over documents∪dups.
- ``knn_numpy``     — brute-force ANN, Arrow+numpy matmul path.
- ``uniq_ref``      — uniqueness groupBy + broadcast anti-join.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), BENCH_DOCS (default 200000).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0
    # 1M docs: large enough that per-action fixed costs (~2-3 s of driver
    # planning + job scheduling) stop dominating the docs/sec figure
    n_docs = int(os.environ.get("BENCH_DOCS", "1000000"))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry
    from json_validator_spark.corpus import corpus_ruleset
    from json_validator_spark.plans.pipeline import validate_run
    from json_validator_spark.session import get_spark
    from json_validator_spark.sources.synth import synth_documents, synth_media_catalog

    # 1-min load average before we spin up: on this shared sandbox the
    # co-tenant load swings 0-30, and a nonzero figure here is the
    # context for an inflated single-shot headline (telemetry, not a
    # result — the engine numbers are min-of-N within the run).
    with open("/proc/loadavg") as f:
        load1_before = float(f.read().split()[0])

    spark = get_spark(
        app_name="jvs-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JIT/codegen + Python worker pool spin-up, discarded
    synth_documents(spark, 1000).count()

    timings: dict[str, float] = {}
    # Min-of-N timing (default 2): the sandbox's ambient load is documented
    # at up to 2x between runs minutes apart (BENCH.md), and a single timed
    # pass let one load spike define the official BENCH_r02 artifact
    # (VERDICT r02 next-round #2). The min over repeats measures the
    # engine, not the neighbors; every query is deterministic and
    # side-effect-free (gen_synth overwrites), so repetition is sound.
    repeats = int(os.environ.get("BENCH_REPEATS", "2"))

    def timed(name, fn):
        best, out, samples = None, None, []
        for _ in range(max(repeats, 1)):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            samples.append(dt)
            best = dt if best is None else min(best, dt)
        # Adaptive third sample (VERDICT r04 #7 bench-noise discipline):
        # two samples >25% apart mean at least one caught a host load
        # spike — one more draw makes the min a load-spike-free estimate
        # with high probability instead of a coin flip.
        if len(samples) == 2 and max(samples) > 1.25 * min(samples):
            t0 = time.perf_counter()
            out = fn()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        return out

    # The corpus is a TABLE input (input_hint: an Iceberg table) — generate
    # it once to parquet (timed separately), then benchmark validation as
    # table-scan → verdicts, which is what docs/sec means at 100 TB.
    import tempfile

    corpus_path = os.path.join(tempfile.gettempdir(), f"jvs_bench_corpus_{n_docs}")

    def gen_corpus():
        synth_documents(spark, n_docs, partitions=2 * cpus).write.mode(
            "overwrite"
        ).parquet(corpus_path)

    # warm-up for the GENERATOR path too: the first parquet write in a
    # fresh JVM pays C2/janino compilation of the synth projection — and
    # the huge-method JIT lift keeps compiler threads busy through it —
    # measured 13.2 s then 7.9 s back-to-back on a 1M-doc write. This
    # pass doubles as the initial corpus materialization.
    gen_corpus()

    timed("gen_synth", gen_corpus)

    def q_validate_synth():
        docs = spark.read.parquet(corpus_path)
        catalog = synth_media_catalog(spark)
        res = validate_run(
            spark, docs, corpus_ruleset(), media_catalog=catalog,
            check_uniqueness=True,
        )
        # validate_run has already evaluated the rules once into its
        # materialized frames and observed the metrics while doing so;
        # collecting them runs no job (equivalence with the other
        # RunResult fields asserted in
        # tests/test_pipeline.py::test_run_metrics_single_action).
        m = res.metrics.collect()[0]
        return m["n_violations"], m["n_failing_partitions"]

    # warm-up run, discarded (BASELINE.md protocol): the first validation
    # pass in a fresh JVM pays tens of seconds of C2/janino compilation
    # of the rule-expression evaluators — steady state is what scales.
    # The warm-up must be the EXACT flagship plan: a limit() probe fuses
    # into a different whole-stage method, so the full-corpus codegen
    # still C2-compiles during the first timed run (measured 14.2 s /
    # 7.5 s / 4.7 s across three back-to-back 1M-doc passes with the
    # huge-method JIT lift — the first two absorb compiler interference).
    res_warm = validate_run(
        spark, spark.read.parquet(corpus_path),
        corpus_ruleset(), media_catalog=synth_media_catalog(spark),
        check_uniqueness=True,
    )
    res_warm.metrics.collect()

    n_viol, _ = timed("validate_synth", q_validate_synth)

    timed("corpus_validation", lambda: entry.q_corpus_validation(spark, sf_dir).count())

    def q_column_stats():
        from json_validator_spark.operators.set_checks import column_stats

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return column_stats(
            li, ["l_quantity", "l_extendedprice", "l_discount", "l_orderkey", "l_shipdate"]
        ).count()

    timed("column_stats", q_column_stats)
    timed("drift_hist", lambda: entry.q_drift_psi(spark, sf_dir).count())
    timed("dedup_minhash", lambda: entry.q_dedup_minhash(spark, sf_dir).count())
    timed("knn_numpy", lambda: entry.q_knn_numpy(spark, sf_dir).count())

    def q_uniq_ref():
        return (
            entry.q_uniqueness(spark, sf_dir).count()
            + entry.q_referential(spark, sf_dir).count()
        )

    timed("uniq_ref", q_uniq_ref)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_docs": n_docs,
                "n_violations": n_viol,
                "docs_per_sec": round(n_docs / timings["validate_synth"], 1),
                "cpus": cpus,
                "load1_before": round(load1_before, 2),
                "load1_after": round(
                    float(open("/proc/loadavg").read().split()[0]), 2
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
