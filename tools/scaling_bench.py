"""N-vs-4N scaling evidence (BASELINE.md protocol).

Same flagship validation job on the SAME materialized corpus at two
parallelism levels (default local[8] vs local[32]); each level runs in
a fresh JVM **pinned with taskset to exactly that many physical CPUs**,
so N-vs-4N is a true 4x resource ratio — the honest sandbox emulation
of N vs 4N executors (per driver instruction; no real cluster here).
Warm-up discarded, median of 3 timed runs per level.

Each level also runs a PLATFORM CALIBRATION: a pure-JVM codegen'd hash
loop (no strings, no GC pressure, no I/O, no Python). Its speedup is
the ceiling this host can deliver at all — shared-cloud hosts throttle
sustained all-core load, so e.g. 8→32 pinned cores may top out near
2.5x even for embarrassingly parallel compute. The JSON therefore
reports BOTH the raw engine efficiency and the platform-normalized one
(engine speedup / platform speedup).

Each leg records the host's 1-minute load average immediately before
its calibration and after its last timed run: on this shared sandbox
the co-tenant load drifts 0-30 on a minutes scale, and a pinned-8-core
leg reporting load >> 8 is direct evidence the wall-clock includes
someone else's cycles. QUIET_LOAD (default off; e.g. QUIET_LOAD=2.0)
makes the orchestrator sleep before EACH pair until the 1-minute load
falls below the threshold (QUIET_TIMEOUT seconds cap, default 1800, it
then launches anyway and the per-leg telemetry shows the contention).

Env: BENCH_DOCS (default 200000), LEVELS (default "8,32"),
     BENCH_RUNS (timed runs per leg, default 2), N_PAIRS (default 3),
     QUIET_LOAD / QUIET_TIMEOUT (see above).
Usage: python tools/scaling_bench.py            # orchestrates both levels
       python tools/scaling_bench.py gen|<N>    # internal sub-invocations
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(os.environ.get("BENCH_DOCS", "200000"))
LEVELS = tuple(int(x) for x in os.environ.get("LEVELS", "8,32").split(","))
N_PAIRS = int(os.environ.get("N_PAIRS", "3"))
CORPUS = f"/tmp/jvs_scale_corpus_{N_DOCS}"
CALIB_ROWS = 6_000_000_000


def gen_corpus() -> None:
    """Materialize the corpus once, at full parallelism — generation is
    not part of the measured validation job."""
    from json_validator_spark.session import get_spark
    from json_validator_spark.sources.synth import synth_documents

    if os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        return
    spark = get_spark(app_name="scale-gen", master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    synth_documents(spark, N_DOCS, partitions=128).write.mode("overwrite").parquet(CORPUS)
    spark.stop()


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line.

    Steal is time the hypervisor ran OTHER tenants while this VM's vCPUs
    were runnable — the direct measurement of co-tenant contention that
    the load average (which only sees this VM's own runqueue) cannot
    show. A leg reporting steal_pct >> 0 had its wall-clock inflated by
    the host, not by the engine."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def run_level(cores: int) -> dict:
    from pyspark.sql import functions as F

    from json_validator_spark.corpus import corpus_ruleset
    from json_validator_spark.plans.pipeline import validate_run
    from json_validator_spark.session import get_spark
    from json_validator_spark.sources.synth import synth_media_catalog

    load_before = _load1()
    steal0, total0 = _cpu_jiffies()
    spark = get_spark(
        app_name=f"scale-{cores}", master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # platform calibration A: pure codegen'd ALU compute, zero I/O /
    # Python — the host's absolute ceiling
    calib_df = spark.range(0, CALIB_ROWS, numPartitions=4 * cores)
    calib_exprs = [
        F.max(F.xxhash64("id")),
        F.max(F.xxhash64("id", F.lit(1))),
        F.max(F.xxhash64("id", F.lit(2))),
    ]
    calib_df.select(*calib_exprs).collect()  # warm-up
    t0 = time.perf_counter()
    calib_df.select(*calib_exprs).collect()
    calib_sec = time.perf_counter() - t0
    # platform calibration B: STRING workload (allocate + hash ~64-byte
    # strings) — the validator's hot path is string/regex work, which is
    # memory-bandwidth-bound and scales worse than pure ALU on a shared
    # host; this is the resource-profile-matched ceiling
    scal_df = spark.range(0, CALIB_ROWS // 12, numPartitions=4 * cores)
    scal_expr = F.max(
        F.md5(F.concat(F.lpad(F.col("id").cast("string"), 24, "x"),
                       F.reverse(F.col("id").cast("string")),
                       F.lit("abcdefghijklmnopqrstuvwxyz0123456789")))
    )
    scal_df.select(scal_expr).collect()  # warm-up
    t0 = time.perf_counter()
    scal_df.select(scal_expr).collect()
    calib_str_sec = time.perf_counter() - t0

    def once() -> tuple[float, int]:
        docs = spark.read.parquet(CORPUS)
        t0 = time.perf_counter()
        res = validate_run(
            spark, docs, corpus_ruleset(), media_catalog=synth_media_catalog(spark)
        )
        # violation count + failing partitions from the run's one
        # evaluation of the rules (see plans/pipeline.validate_run)
        m = res.metrics.collect()[0]
        return time.perf_counter() - t0, m["n_violations"]

    once()  # warm-up, discarded
    times, n_viol = [], 0
    for _ in range(int(os.environ.get("BENCH_RUNS", "2"))):
        t, n_viol = once()
        times.append(t)
    load_after = _load1()
    steal1, total1 = _cpu_jiffies()
    steal_pct = (
        100.0 * (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
    )
    spark.stop()
    best = min(times)
    return {
        "cores": cores,
        "best_sec": round(best, 3),
        "runs_sec": [round(t, 3) for t in times],
        "docs_per_sec": round(N_DOCS / best, 1),
        "n_violations": n_viol,
        "calib_sec": round(calib_sec, 3),
        "calib_str_sec": round(calib_str_sec, 3),
        # 1-min load averages bracketing the leg; this JVM is pinned to
        # `cores` CPUs, so load_after >> cores means co-tenant cycles
        # inflated the wall-clock (contention telemetry, not a result)
        # Hypervisor steal % across the whole leg (warm-ups included):
        # direct co-tenant-contention evidence, see _cpu_jiffies.
        "steal_pct": round(steal_pct, 2),
        "load1_before": round(load_before, 2),
        "load1_after": round(load_after, 2),
    }


def main() -> None:
    import subprocess

    subprocess.run(
        [sys.executable, "-u", __file__, "gen"], capture_output=True, check=True
    )

    def one(cores: int) -> dict:
        # Fresh JVM per run, PINNED to exactly `cores` physical CPUs —
        # otherwise the local[N] JVM borrows all 32 cores for GC / IO /
        # codegen threads and the low-core baseline is silently faster
        # than an N-core node would be.
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}",
             sys.executable, "-u", __file__, str(cores)],
            capture_output=True, text=True, check=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    def wait_quiet() -> None:
        # Optional quiet-window gate: sleep until the 1-minute load is
        # below QUIET_LOAD (co-tenant idle), capped at QUIET_TIMEOUT —
        # after the cap the pair launches anyway and its per-leg load
        # telemetry records the contention instead of hiding it.
        thr = os.environ.get("QUIET_LOAD")
        if not thr:
            return
        deadline = time.time() + float(os.environ.get("QUIET_TIMEOUT", "1800"))
        while _load1() >= float(thr) and time.time() < deadline:
            time.sleep(20)

    # PAIRED interleaved measurement: the shared host's ambient load
    # drifts on a minutes scale, so two levels measured far apart are
    # not comparable. Back-to-back (lo, hi) pairs cancel the drift; the
    # median of per-pair ratios is the reported speedup.
    pairs = []
    for _ in range(N_PAIRS):
        wait_quiet()
        pairs.append((one(LEVELS[0]), one(LEVELS[1])))
    ratio = LEVELS[1] / LEVELS[0]
    engine_speedups = [h["docs_per_sec"] / l["docs_per_sec"] for l, h in pairs]
    platform_speedups = [l["calib_sec"] / h["calib_sec"] for l, h in pairs]
    platform_str_speedups = [
        l["calib_str_sec"] / h["calib_str_sec"] for l, h in pairs
    ]
    per_pair_norm = [
        round(e / p, 3) for e, p in zip(engine_speedups, platform_speedups)
    ]
    per_pair_norm_str = [
        round(e / p, 3) for e, p in zip(engine_speedups, platform_str_speedups)
    ]
    engine_speedup = statistics.median(engine_speedups)
    platform_speedup = statistics.median(platform_speedups)
    platform_str_speedup = statistics.median(platform_str_speedups)
    lo_best = max(l["docs_per_sec"] for l, _ in pairs)
    hi_best = max(h["docs_per_sec"] for _, h in pairs)
    print(
        json.dumps(
            {
                "n_docs": N_DOCS,
                "levels": list(LEVELS),
                "pairs": [
                    {"lo": l, "hi": h} for l, h in pairs
                ],
                "docs_per_sec_best": {str(LEVELS[0]): lo_best, str(LEVELS[1]): hi_best},
                "engine_speedup_median": round(engine_speedup, 3),
                "platform_speedup_pure_compute_median": round(platform_speedup, 3),
                "platform_speedup_string_median": round(platform_str_speedup, 3),
                "raw_scaling_efficiency": round(engine_speedup / ratio, 3),
                "platform_normalized_efficiency": round(
                    engine_speedup / platform_speedup, 3
                ),
                "string_normalized_efficiency": round(
                    engine_speedup / platform_str_speedup, 3
                ),
                "per_pair_normalized": per_pair_norm,
                "per_pair_normalized_string": per_pair_norm_str,
                "identical_violations": len(
                    {x["n_violations"] for p in pairs for x in p}
                ) == 1,
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "gen":
        gen_corpus()
    elif len(sys.argv) > 1:
        print(json.dumps(run_level(int(sys.argv[1]))))
    else:
        main()
