"""10x scale probe for the two heaviest bench queries (VERDICT r03 #7).

Runs ONE query at ONE scale in a fresh process with Spark event logging
enabled, runs the timed call in its own job group, reads that group's
totals from the event log (``perfbench.eventlog.read_event_log``) and
prints one JSON line: wall seconds, shuffle read/write bytes, peak per-task
execution memory, rows out. Fresh-process-per-config so JIT state,
caches and the event log are isolated.

Usage:
    python tools/scale_probe.py validate <n_docs>
    python tools/scale_probe.py minhash  <replication>
    python tools/scale_probe.py components <replication>

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
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.eventlog import GroupStats, read_event_log  # noqa: E402


PROBE_GROUP = "scale_probe"


def _replicated_docs(spark, sf_dir: str, scale: int, cpus: int, corpus_path: str):
    """The sf documents∪dups corpus replicated ``scale`` times, written
    to ``corpus_path`` as parquet (untimed) and read back in ``2 * cpus``
    partitions. Each replica's text carries a suffix keyed by ``doc_id %
    100000``, so the +100000 dup copies keep matching their originals
    WITHIN a replica while cross-replica similarity stays below
    threshold (pair output scales linearly)."""
    from pyspark.sql import functions as F

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
    reps.write.mode("overwrite").parquet(corpus_path)
    return spark.read.parquet(corpus_path).repartition(2 * cpus)


def _timed(spark, fn):
    """``(seconds, fn())`` with every job ``fn`` runs in ``PROBE_GROUP``."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", PROBE_GROUP)
    try:
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def main() -> None:
    query, scale = sys.argv[1], int(sys.argv[2])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # event log and corpus live under one temp dir, removed at the end
    work = tempfile.mkdtemp(prefix="jvs_probe_")
    evdir = os.path.join(work, "evlog")
    os.mkdir(evdir)
    corpus_path = os.path.join(work, "corpus")

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

        synth_documents(spark, scale, partitions=2 * cpus).write.mode(
            "overwrite"
        ).parquet(corpus_path)
        warm = validate_run(
            spark, spark.read.parquet(corpus_path).limit(50000),
            corpus_ruleset(), media_catalog=synth_media_catalog(spark),
        )
        warm.metrics.collect()
        wall, m = _timed(spark, lambda: validate_run(
            spark, spark.read.parquet(corpus_path), corpus_ruleset(),
            media_catalog=synth_media_catalog(spark),
            check_uniqueness=True,
        ).metrics.collect()[0])
        rows = int(m["n_violations"])
    elif query == "minhash":
        from json_validator_spark.operators.dedup import minhash_neardup_pairs

        docs = _replicated_docs(spark, sf_dir, scale, cpus, corpus_path)
        # warm-up on a slice (JIT/codegen), discarded
        minhash_neardup_pairs(
            docs.limit(2000), k=3, n_hashes=16, n_bands=8, threshold=0.999
        ).count()
        wall, rows = _timed(spark, lambda: minhash_neardup_pairs(
            docs, k=3, n_hashes=16, n_bands=8, threshold=0.999
        ).count())
    elif query == "components":
        # simhash near-dup pairs -> pointer-jumping connected components
        # over the replicated corpus: the iteration-heavy operator (O(log
        # diameter) rounds, lineage cut per round)
        from json_validator_spark.operators.dedup import (
            connected_components,
            simhash,
            simhash_neardup_pairs,
        )

        docs = _replicated_docs(spark, sf_dir, scale, cpus, corpus_path)
        pairs = simhash_neardup_pairs(
            simhash(docs), max_hamming=3, n_bands=4, max_bucket=10**6
        )
        connected_components(pairs.limit(100)).count()  # warm-up
        wall, rows = _timed(spark, lambda: connected_components(pairs).count())
    else:
        raise SystemExit(f"unknown query {query!r}")

    spark.stop()  # flush + finalize the event log
    g = read_event_log(evdir).groups.get(PROBE_GROUP, GroupStats())
    shutil.rmtree(work, ignore_errors=True)
    out = {
        "query": query,
        "scale": scale,
        "wall_sec": round(wall, 2),
        "rows": rows,
        "cpus": cpus,
        "shuffle_write_mb": round(g.shuffle_write_bytes / 1e6, 1),
        "shuffle_read_mb": round(g.shuffle_read_bytes / 1e6, 1),
        "peak_task_mem_mb": round(g.peak_task_mem_bytes / 1e6, 1),
        "n_tasks": sum(len(ms) for ms in g.stage_task_ms.values()),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
