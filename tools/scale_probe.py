"""10x scale probe for the two heaviest bench queries (VERDICT r03 #7).

Runs ONE query at ONE scale in a fresh process with Spark event logging
enabled, then parses the event log for the probe window and prints one
JSON line: wall seconds, shuffle read/write bytes, peak per-task
execution memory, rows out. Fresh-process-per-config so JIT state,
caches and the event log are isolated.

Usage:
    python tools/scale_probe.py validate <n_docs>
    python tools/scale_probe.py minhash  <replication>

``validate`` = the flagship table-scan validation (bench.py protocol:
corpus generated to parquet untimed, 50k-doc warm-up, timed single
pass). ``minhash`` = the dedup_minhash pipeline over the sf0.1
documents∪dups corpus replicated <replication>x (each replica's text
perturbed with a unique token so cross-replica pairs stay below the
0.999 threshold — duplicate STRUCTURE per replica is preserved, pair
output scales linearly, no quadratic cross-replica blowup).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _parse_event_log(evdir: str, t0_ms: float) -> dict:
    shuffle_write = shuffle_read = 0
    peak_mem = 0
    n_tasks = 0
    for f in Path(evdir).rglob("events_*"):
        for line in f.read_text().splitlines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") != "SparkListenerTaskEnd":
                continue
            info = ev.get("Task Info", {})
            if info.get("Finish Time", 0) < t0_ms:
                continue
            tm = ev.get("Task Metrics") or {}
            sw = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sr_m = tm.get("Shuffle Read Metrics") or {}
            sr = sr_m.get("Local Bytes Read", 0) + sr_m.get("Remote Bytes Read", 0)
            pm = tm.get("Peak Execution Memory", 0)
            if not pm:
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == "internal.metrics.peakExecutionMemory":
                        pm = int(acc.get("Update", 0) or 0)
            shuffle_write += sw
            shuffle_read += sr
            peak_mem = max(peak_mem, int(pm))
            n_tasks += 1
    return {
        "shuffle_write_mb": round(shuffle_write / 1e6, 1),
        "shuffle_read_mb": round(shuffle_read / 1e6, 1),
        "peak_task_mem_mb": round(peak_mem / 1e6, 1),
        "n_tasks": n_tasks,
    }


def main() -> None:
    query, scale = sys.argv[1], int(sys.argv[2])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="jvs_evlog_")

    from pyspark.sql import functions as F

    from json_validator_spark.session import get_spark

    # SHUFFLE_PARTITIONS overrides the fixed test default — the probe
    # tables document peak-task-memory growing as corpus/partitions at a
    # FIXED partition count; this knob measures the documented remedy
    # (size partitions with the corpus) instead of just asserting it.
    parts = int(os.environ.get("SHUFFLE_PARTITIONS", str(max(2 * cpus, 16))))
    spark = get_spark(
        app_name=f"probe-{query}-{scale}",
        master=f"local[{cpus}]",
        shuffle_partitions=parts,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if query == "validate":
        from json_validator_spark.corpus import corpus_ruleset
        from json_validator_spark.plans.pipeline import validate_run
        from json_validator_spark.sources.synth import (
            synth_documents,
            synth_media_catalog,
        )

        corpus_path = os.path.join(tempfile.gettempdir(), f"jvs_probe_corpus_{scale}")
        synth_documents(spark, scale, partitions=2 * cpus).write.mode(
            "overwrite"
        ).parquet(corpus_path)
        warm = validate_run(
            spark, spark.read.parquet(corpus_path).limit(50000),
            corpus_ruleset(), media_catalog=synth_media_catalog(spark),
        )
        warm.metrics.collect()
        t0_ms = time.time() * 1000
        t0 = time.perf_counter()
        res = validate_run(
            spark, spark.read.parquet(corpus_path), corpus_ruleset(),
            media_catalog=synth_media_catalog(spark),
            check_uniqueness=True,
        )
        m = res.metrics.collect()[0]
        wall = time.perf_counter() - t0
        rows = int(m["n_violations"])
    elif query == "minhash":
        from json_validator_spark.operators.dedup import minhash_neardup_pairs

        import __spark_entry__ as entry

        base = entry._union_dup_docs(entry._load_spread(spark, sf_dir, "documents"))
        reps = None
        for i in range(scale):
            r = base.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                (
                    F.col("text")
                    if i == 0
                    # suffix keyed by doc_id % 100000 so the +100000 dup
                    # copies keep matching their originals WITHIN a
                    # replica while cross-replica similarity stays below
                    # threshold (pair output scales linearly)
                    else F.concat(
                        F.col("text"),
                        F.lit(f" zrep{i}q"),
                        (F.col("doc_id") % 100000).cast("string"),
                    )
                ).alias("text"),
            )
            reps = r if reps is None else reps.unionByName(r)
        corpus_path = os.path.join(tempfile.gettempdir(), f"jvs_probe_mh_{scale}")
        reps.write.mode("overwrite").parquet(corpus_path)
        docs = spark.read.parquet(corpus_path).repartition(2 * cpus)
        # warm-up on a slice (JIT/codegen), discarded
        minhash_neardup_pairs(
            docs.limit(2000), k=3, n_hashes=16, n_bands=8, threshold=0.999
        ).count()
        t0_ms = time.time() * 1000
        t0 = time.perf_counter()
        rows = minhash_neardup_pairs(
            docs, k=3, n_hashes=16, n_bands=8, threshold=0.999
        ).count()
        wall = time.perf_counter() - t0
    elif query == "components":
        # simhash near-dup pairs -> pointer-jumping connected components
        # over the replicated corpus: the iteration-heavy operator (O(log
        # diameter) rounds, lineage cut per round)
        from json_validator_spark.operators.dedup import (
            connected_components,
            simhash,
            simhash_neardup_pairs,
        )

        import __spark_entry__ as entry

        base = entry._union_dup_docs(entry._load_spread(spark, sf_dir, "documents"))
        reps = None
        for i in range(scale):
            r = base.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                (
                    F.col("text")
                    if i == 0
                    else F.concat(
                        F.col("text"),
                        F.lit(f" zrep{i}q"),
                        (F.col("doc_id") % 100000).cast("string"),
                    )
                ).alias("text"),
            )
            reps = r if reps is None else reps.unionByName(r)
        corpus_path = os.path.join(tempfile.gettempdir(), f"jvs_probe_cc_{scale}")
        reps.write.mode("overwrite").parquet(corpus_path)
        docs = spark.read.parquet(corpus_path).repartition(2 * cpus)
        pairs = simhash_neardup_pairs(
            simhash(docs), max_hamming=3, n_bands=4, max_bucket=10**6
        )
        connected_components(pairs.limit(100)).count()  # warm-up
        t0_ms = time.time() * 1000
        t0 = time.perf_counter()
        rows = connected_components(pairs).count()
        wall = time.perf_counter() - t0
    else:
        raise SystemExit(f"unknown query {query!r}")

    spark.stop()  # flush + finalize the event log
    out = {
        "query": query,
        "scale": scale,
        "wall_sec": round(wall, 2),
        "rows": rows,
        "cpus": cpus,
        **_parse_event_log(evdir, t0_ms),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
