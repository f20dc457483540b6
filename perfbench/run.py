"""Benchmark of json_validator_spark through its public entry points.

    python3 perfbench/run.py --workload cli_tables --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout; it imports the engine from there and
keeps everything it writes under ``.bench_work/``. One run measures one
workload (``workloads.py``) on inputs generated from ``--seed``:

1. a session is started cold (``session.start_s``) and the inputs are
   generated or taken from the cache (``gen_s``, excluded from every
   metric);
2. set-up -- session start, rule-set compile and one discarded warm-up
   pass -- is done three times, the first in the cold JVM; ``setup_s``
   is the median;
3. the operation is then repeated in a closed loop, one at a time, for
   ``--seconds`` and at least the workload's ``passes``; every pass has
   its outputs checked, and ``run_s`` and ``cpu_s`` are medians over the
   passes.

Timings are taken so that a shared host's load does not read as the
program's time. Wall times (``run_s``, ``setup_s``) are less the time the
hypervisor held this machine's CPUs for other guests (``StolenClock``);
``cpu_s`` is the JVM's user+sys CPU time less its JIT compiler threads'.
The raw wall times and the stolen time of every pass are in the detail
line.

With ``--trace 1`` the run sets up once, times the untraced operation
N_BASELINE times as the baseline of the tracing overhead, then repeats
it under a Spark event log with a span and job group around each public
call (``spans.py``), sinks each fused layer to ``format("noop")`` on its
own, and reports the per-layer metrics instead of the end-to-end ones.

The last line of stdout is the result: ``{"correct", "attempted",
"failed", "metrics"}``, with the metrics named and united as in
``BENCHMARK.json``. The line before it carries the details: samples, load
average and stolen time per pass, effective session confs, input
generation time and, when tracing, the full layer breakdown.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
HEAP = "2g"
# Each set-up ends with a discarded pass, and the workload may add more
# (``Workload.warm_passes``), so measuring starts after a fixed number of
# passes however fast the host runs them: the JIT is still compiling the
# engine's generated code over the first passes.
N_SETUPS = 3
N_TRACED = 3
PROBE_ROUNDS = 4
# Probes run fewer rounds, with no discarded one: a crash-and-resume
# through the checkpoint takes ten seconds or more, a CLI run several.
SLOW_PROBES = {"checkpoint": 1, "cli": 2}
N_BASELINE = 3
# How often the stolen time is polled.
STEAL_POLL_S = 0.02
CLK_TCK = os.sysconf("SC_CLK_TCK")
# Session confs whose effective values are recorded for every run.
RECORDED_CONFS = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.sources.partitionOverwriteMode",
)


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _jvm_thread_ticks(pid: int) -> dict[int, int]:
    """User+sys CPU ticks of each JVM thread but the JIT compiler's.

    The compiler threads work off a queue that the first passes fill,
    so how much of their CPU time falls in a pass depends on how far the
    warm-up has got rather than on the pass."""
    ticks = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read()
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the thread ended
            continue
        if "CompilerThre" not in name:
            ticks[int(tid)] = int(fields[11]) + int(fields[12])
    return ticks


def _jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError("VmHWM missing from /proc status")


def _steal_ticks() -> list[int]:
    """Each CPU's steal counter: time the hypervisor ran another guest
    while this CPU had work."""
    with open("/proc/stat") as f:
        return [int(line.split()[8]) for line in f if line[:3] == "cpu" and line[3].isdigit()]


def _median(xs) -> float:
    return statistics.median(list(xs))


class StolenClock(threading.Thread):
    """Time this machine's work stood still because the hypervisor had
    taken its CPUs, polled from ``/proc/stat`` every STEAL_POLL_S as the
    largest steal of any one CPU over the poll: CPUs taken at the same
    time stall the operation once, not once each.

    The machine is a guest on a shared host: when another guest's load
    takes the CPUs, the operation waits for them as long as they are
    away, seconds at a time, which is the host's time and not the
    program's. A timing less the stolen time over it is what the
    operation takes on a host of its own; both are reported."""

    def __init__(self) -> None:
        super().__init__(name="stolen-clock", daemon=True)
        self.ticks = 0
        self.done = threading.Event()

    def run(self) -> None:
        prev = _steal_ticks()
        while not self.done.wait(STEAL_POLL_S):
            cur = _steal_ticks()
            self.ticks += max(c - p for c, p in zip(cur, prev))
            prev = cur

    def read(self) -> float:
        return self.ticks / CLK_TCK

    def close(self) -> None:
        self.done.set()
        self.join()


class Clock:
    """Wall, stolen and JVM CPU time over an interval."""

    def __init__(self, stolen: StolenClock, jvm_pid: int) -> None:
        self.stolen, self.jvm_pid = stolen, jvm_pid

    def read(self) -> tuple[float, float, dict[int, int]]:
        return time.perf_counter(), self.stolen.read(), _jvm_thread_ticks(self.jvm_pid)

    def since(self, before) -> tuple[float, float, float]:
        """(wall, stolen, cpu) seconds since ``before = read()``."""
        wall, stolen, ticks = self.read()
        cpu = sum(t - before[2].get(tid, 0) for tid, t in ticks.items())
        return wall - before[0], stolen - before[1], cpu / CLK_TCK


class Session:
    """The one SparkSession of the run, built as the CLI builds it."""

    def __init__(self) -> None:
        self.spark = None

    def start(self, event_log: Path | None = None):
        from json_validator_spark import session

        self.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            # the whole heap is committed and touched at JVM start, so
            # peak RSS does not depend on when the collector grew the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
            ),
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                # scan locations in the plan events are matched by path
                "spark.sql.maxMetadataStringLength": "100000",
            })
        # the CLI calls get_spark(app_name="jvs-validate") with no master:
        # same name and defaults here, so its call reuses this session
        # without changing a conf
        self.spark = session.get_spark(app_name="jvs-validate", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


@dataclass
class Sample:
    run_s: float  # wall time less stolen time
    wall_s: float
    stolen_s: float
    cpu_s: float
    load1_before: float
    load1_after: float
    root: object = None  # the run's span, when traced


class Runner:
    """Runs the workload's operation and the layer probes, and counts
    every pass that raised or disagreed with the expected outputs."""

    def __init__(self, wl, inputs, run_dir: Path, clock: Clock) -> None:
        self.wl, self.inputs, self.run_dir, self.clock = wl, inputs, run_dir, clock
        self.attempted = 0
        self.failed = 0

    def _record(self, label: str, errors: list[str]) -> bool:
        self.attempted += 1
        if errors:
            self.failed += 1
            print(f"perfbench: {label} failed: {errors}", file=sys.stderr)
        return not errors

    def once(self, spark, ruleset, tracer=None) -> Sample | None:
        from workloads import Ctx, check

        out = self.run_dir / f"op{self.attempted}"
        span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
        try:
            load0, before = _load1(), self.clock.read()
            with span("run") as root:
                observe = self.wl.run(Ctx(spark, self.inputs, ruleset, out, span))
            wall, stolen, cpu = self.clock.since(before)
            sample = Sample(wall - stolen, wall, stolen, cpu, load0, _load1(), root)
            errors = check(observe(), self.inputs)
        except Exception:  # a failed pass is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            errors = ["raised"]
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return sample if self._record(self.wl.name, errors) else None

    def probe(self, tracer, name: str, fn):
        with tracer.span(f"probe.{name}") as s:
            try:
                errors = fn()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                errors = ["raised"]
        self._record(f"probe {name}", errors)
        return s


def _layer_metrics(tracer, log, inputs, traced: list[Sample], probes) -> dict:
    """Every layer metric the traced passes and the probes measured."""
    from eventlog import GroupStats

    def stats(spans) -> GroupStats:
        total = GroupStats()
        for s in spans:
            g = log.groups.get(tracer.group(s.id))
            if g is not None:
                total.add(g)
        return total

    def tree(spans):
        return [x for s in spans for x in tracer.subtree(s.id)]

    def corpus_rows(spans) -> int:
        key = inputs.docs + "]"
        return sum(
            n
            for s in spans
            for loc, n in log.scan_rows.get(tracer.group(s.id), {}).items()
            if key in loc
        )

    def by_name(root) -> dict[str, list]:
        named = defaultdict(list)
        for s in tracer.subtree(root.id):
            named[s.name].append(s)
        return named

    per_run: dict[str, list[float]] = defaultdict(list)
    for sample in traced:
        sub = tracer.subtree(sample.root.id)
        named = by_name(sample.root)
        run = stats(sub).summary()
        vals = {
            "run_s": sample.run_s,
            "sources.scan_amplification": corpus_rows(sub) / inputs.n_docs,
            "sources.output_mb": run["output_mb"],
            "pipeline.plan_s": sum(s.dur for s in named["pipeline.validate_run"]),
            **{f"run.{k}": run[k] for k in ("jobs", "cpu_s", "shuffle_mb", "spill_mb", "peak_task_mem_mb")},
        }
        if named["pipeline.metrics"]:
            vals["pipeline.metrics_s"] = sum(s.dur for s in named["pipeline.metrics"])
        for k, v in vals.items():
            per_run[k].append(v)
    # the report layers are measured on every workload by the CLI probe,
    # which writes the four reports over the workload's inputs
    for probe in probes["cli"]:
        named = by_name(probe)
        per_run["cli.self_s"].append(sum(tracer.self_time(s) for s in named["cli.main"]))
        for name, spans in named.items():
            if name.startswith("report."):
                g = stats(tree(spans)).summary()
                per_run[f"{name}.wall_s"].append(sum(s.dur for s in spans))
                for k in ("cpu_s", "jobs", "input_records", "shuffle_mb", "spill_mb", "peak_task_mem_mb"):
                    per_run[f"{name}.{k}"].append(g[k])
    layers = {k: _median(v) for k, v in per_run.items()}

    wall = {n: _median(s.dur for s in spans) for n, spans in probes.items()}
    cpu = {n: _median(stats([s]).executor_cpu_s for s in spans) for n, spans in probes.items()}

    def probe_median(name: str, fn) -> float:
        return _median(fn(s) for s in probes[name])

    def ckpt_run_s(s) -> float:
        return sum(c.dur for c in tracer.subtree(s.id) if c.name == "checkpoint.run")

    layers.update({
        "sources.scan_s": wall["scan"],
        "sources.ingest_s": wall["ingest"] - wall["text"],
        "row_checks.rules_s": wall["rules"] - wall["scan"],
        "row_checks.cpu_s": cpu["rules"] - cpu["scan"],
        "row_checks.explode_s": wall["explode"] - wall["rules"],
        "row_checks.task_skew": probe_median("rules", lambda s: stats([s]).task_skew()),
        "set_checks.uniqueness_s": wall["uniqueness"] - wall["keys"],
        "set_checks.referential_s": wall["referential"] - wall["scan"],
        "set_checks.shuffle_mb": sum(
            probe_median(n, lambda s: stats([s]).summary()["shuffle_mb"])
            for n in ("uniqueness", "referential")
        ),
        "rules.schema_import_s": wall["schema_import"],
        "checkpoint.run_s": probe_median("checkpoint", ckpt_run_s),
        "checkpoint.read_s": probe_median("checkpoint", lambda s: s.dur - ckpt_run_s(s)),
        "checkpoint.jobs": probe_median("checkpoint", lambda s: stats(tracer.subtree(s.id)).jobs),
        "checkpoint.output_mb": probe_median(
            "checkpoint", lambda s: stats(tracer.subtree(s.id)).output_bytes / 1e6
        ),
        "probe_wall_s": wall,
    })
    return layers


def run(workload: str, seed: int, seconds: int, trace: bool, spec: dict) -> tuple[dict, dict]:
    import eventlog
    import spans
    import workloads

    wl = workloads.WORKLOADS[workload]
    run_dir = WORK / "runs" / f"{workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    stolen = StolenClock()
    stolen.start()
    session = Session()
    try:
        # set-up 1 runs in the cold JVM; input generation is not part of it
        t0, s0 = time.perf_counter(), stolen.read()
        spark = session.start()
        session_start = (time.perf_counter() - t0, stolen.read() - s0)
        clock = Clock(stolen, int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        inputs = workloads.ensure_inputs(spark, wl, seed, WORK / "inputs")
        runner = Runner(wl, inputs, run_dir, clock)
        setups, compile_s = [], []
        # a traced run reports no set-up time, and its untraced passes
        # warm the JIT instead
        for i in range(1 if trace else N_SETUPS):
            if i:
                session.stop()
            before = clock.read()
            if i:
                spark = session.start()
            t1 = time.perf_counter()
            ruleset = workloads.compile_rules()
            compile_s.append(time.perf_counter() - t1)
            runner.once(spark, ruleset)  # the discarded warm-up pass
            wall, stolen_s, _ = clock.since(before)
            if not i:  # the first session started before the inputs were made
                wall, stolen_s = wall + session_start[0], stolen_s + session_start[1]
            setups.append((wall, stolen_s))
        for _ in range(wl.warm_passes):
            runner.once(spark, ruleset)

        samples: list[Sample] = []
        # a traced run times the untraced operation only as the baseline
        # of the tracing overhead
        t_end = time.perf_counter() + (0 if trace else seconds)
        n_passes = N_BASELINE if trace else wl.passes
        while time.perf_counter() < t_end or (len(samples) < n_passes and not runner.failed):
            sample = runner.once(spark, ruleset)
            if sample is not None:
                samples.append(sample)
        if not samples:
            raise RuntimeError(f"{workload}: every pass failed")
        confs = {k: spark.conf.get(k, None) for k in RECORDED_CONFS}

        run_s = _median(s.run_s for s in samples)
        end_to_end = {
            "docs_per_s": inputs.n_docs / run_s,
            "run_s": run_s,
            "cpu_s": _median(s.cpu_s for s in samples),
            "setup_s": _median(w - st for w, st in setups),
            "peak_rss_mb": _jvm_peak_rss_mb(clock.jvm_pid),
        }
        detail = {
            "workload": workload,
            "seed": seed,
            "n_docs": inputs.n_docs,
            "n_violations": inputs.n_violations,
            "samples": len(samples),
            "run_s_samples": [s.run_s for s in samples],
            "wall_s_samples": [s.wall_s for s in samples],
            "stolen_s_samples": [s.stolen_s for s in samples],
            "cpu_s_samples": [s.cpu_s for s in samples],
            "wall_run_s": _median(s.wall_s for s in samples),
            "setup_wall_s_samples": [w for w, _ in setups],
            "setup_stolen_s_samples": [st for _, st in setups],
            "load1_before": [s.load1_before for s in samples],
            "load1_after": [s.load1_after for s in samples],
            "gen_s": inputs.gen_s,
            "expected_s": inputs.expected_s,
            "inputs_cached": inputs.cached,
            "confs": confs,
        }

        if trace:
            session.stop()
            spark = session.start(event_log=run_dir / "eventlog")
            jsonl = run_dir / "jsonl"
            workloads.write_jsonl_copy(spark, inputs, seed, jsonl)
            tracer = spans.Tracer(spark.sparkContext)
            ruleset = workloads.compile_rules()
            probes = defaultdict(list)
            with spans.instrument(tracer):
                traced = [runner.once(spark, ruleset, tracer) for _ in range(N_TRACED)]
                traced = [s for s in traced if s is not None]
                probe_fns = workloads.probes(spark, inputs, jsonl, run_dir, tracer.span)
                # a discarded first round compiles each quick probe's plan;
                # the rounds then alternate the probes, so a change in the
                # host's speed hits nested probes alike
                for rnd in range(PROBE_ROUNDS + 1):
                    for name, fn in probe_fns.items():
                        if name in SLOW_PROBES and not 0 < rnd <= SLOW_PROBES[name]:
                            continue
                        s = runner.probe(tracer, name, fn)
                        if rnd:
                            probes[name].append(s)
            session.stop()  # flushes the event log
            if not traced:
                raise RuntimeError(f"{workload}: every traced pass failed")
            layers = _layer_metrics(
                tracer, eventlog.read_event_log(run_dir / "eventlog"), inputs, traced, probes
            )
            layers["session.start_s"] = session_start[0] - session_start[1]
            layers["rules.compile_s"] = _median(compile_s)
            layers["rules.n_rules"] = len(ruleset.rules)
            layers["trace_overhead_s"] = layers["run_s"] - run_s
            detail["layers"] = layers
            traces = WORK / "traces"
            traces.mkdir(exist_ok=True)
            (traces / f"{workload}-s{seed}.json").write_text(
                json.dumps({"spans": tracer.to_json(), "layers": layers}, indent=1)
            )
            values, wanted = layers, spec["per_layer"]
        else:
            values, wanted = end_to_end, spec["end_to_end"]
        detail["attempted"], detail["failed"] = runner.attempted, runner.failed
        # cpu_s moves with the host's load more than any bound would allow
        # (LAYERS.md), so it is reported here but not in BENCHMARK.json
        units = {"cpu_s": "s", **{m["name"]: m["unit"] for m in spec["end_to_end"]}}
        detail["end_to_end"] = {
            **{k: {"value": v, "unit": units[k]} for k, v in end_to_end.items()},
            "fail_frac": {"value": runner.failed / runner.attempted, "unit": "ratio"},
        }
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
        }
        return detail, result
    finally:
        session.shutdown()
        stolen.close()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    engine = ROOT / "json_validator_spark" / "__init__.py"
    spec_file = ROOT / "BENCHMARK.json"
    if not engine.is_file() or not spec_file.is_file():
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads(spec_file.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    for d in ("tmp", "local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    # the CLI's get_spark sizes shuffle partitions from this; unset, a
    # CLI call inside the run would reset them to 32
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(1, str(ROOT))

    detail, result = run(args.workload, args.seed, args.seconds, bool(args.trace), spec)
    print(json.dumps({"perfbench": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
