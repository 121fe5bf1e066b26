"""Layered benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A single client thread drives the workload's ops as a closed loop on
``local[nproc]``: each op starts when the previous one has finished.
Passes over its ops repeat until ``--seconds`` of measuring have
elapsed (at least one pass); the first pass of a fresh process is cold,
as a submitted job is.  Every op's result is checked outside its timed
interval; a failed op or a failed check counts in ``failed`` and makes
the run exit non-zero.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
same ops with per-op Spark counters and spans around each layer's
public functions, and reports the per-layer metrics instead; end-to-end
numbers never come from a traced run.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  A record of
the run (environment fingerprint, per-op timings, and the spans of a
traced run) is written to ``.perfbench_runs/`` in the checkout.

The runner sets only ``SPARK_GRAFT_CPUS``, ``SPARK_LOCAL_DIRS`` and
``TMPDIR`` (so that every file the program writes stays inside the
checkout); it tunes no engine conf.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

STARTED = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples): the highest whole percentile with at
    least ten samples above it (nearest-rank).  Below 11 samples no
    percentile qualifies and the maximum is reported as p100."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100, n
    p = math.floor(100 * (n - 10) / n)
    return xs[math.ceil(p * n / 100) - 1], p, n


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _program_present() -> bool:
    need = ("big_data_processing_spark/plans/catalog.py", "scripts/driver_sim.py",
            "tests/weather_fixture.py", "bench.py")
    return all((ROOT / p).is_file() for p in need)


def _session_start():
    """Start the engine's session (in a fresh process: launch its JVM)
    and run bench.py's warm-up action; return it with its wall time."""
    from big_data_processing_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


class Run:
    """One run: set-up, passes of closed-loop ops, checks, metrics."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.spans: list[dict] = []
        self.ops: list[dict] = []  # one row per op executed
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    # -- spans (traced run only; kept in memory, written at the end) --
    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def start(self) -> None:
        """Make the workload's inputs from the seed (timed as input_s),
        then start the session once, with nothing else running: the cold
        start of a fresh process, JVM launch included, is setup_s."""
        from perfbench.workloads import make_workload

        t0 = time.perf_counter()
        self.wl = make_workload(self.args.workload, str(self.work / "data"), self.args.seed)
        self.input_s = time.perf_counter() - t0
        self.spark, self.setup_s = _session_start()
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.wl.spark = self.spark

    def run(self) -> None:
        from big_data_processing_spark.operators.util import drain_phases

        args = self.args
        self.start()
        drain_phases()
        if self.trace:
            from perfbench.counters import SparkCounters

            self.counters = SparkCounters(self.spark)
            self.patches = LayerSpans(self)
        self.passes: list[float] = []
        began = time.perf_counter()
        while not self.passes or time.perf_counter() - began < args.seconds:
            self.run_pass(len(self.passes))
        if self.trace:
            self.patches.restore()

    def run_pass(self, pass_no: int) -> None:
        wall = 0.0
        for op in self.wl.pass_ops(pass_no):
            wall += self.run_op(op, pass_no)
        self.passes.append(wall)
        errors = self.wl.end_pass(pass_no)
        self.attempted += len(errors)
        self.failed += len(errors)
        self.errors += [f"pass {pass_no}: {e}" for e in errors]

    def run_op(self, op, pass_no: int) -> float:
        """Run one op; return its wall time.  One-time artifact builds the
        op triggers stay in it: every run is a fresh process that pays
        them, and left in the op, work moved into them shows in pass_s."""
        from big_data_processing_spark.operators.util import drain_phases

        sc = self.spark.sparkContext
        self.attempted += 1
        group = f"perfbench-{pass_no}-{op.name}"
        row = {"op": op.name, "layer": op.layer, "pass": pass_no}
        self.ops.append(row)
        trace = self.trace
        if op.prepare:
            op.prepare()
        sc.setJobGroup(group, op.name)
        t0 = time.perf_counter()
        try:
            if trace:
                mark = self.counters.mark()
                t0 = time.perf_counter()
            built = op.build()
            t1 = time.perf_counter()
            if trace:
                # jobs run inside the public call itself (persist barriers,
                # certificates, eager counts) are the "eager" ones
                eager = len(self.counters.jobs_since(mark, {group} | op.groups(built)))
            t1a = time.perf_counter()
            result = op.action(built)
            t2 = time.perf_counter()
        except Exception:  # an op failure is a measured outcome, not a crash
            t1 = t1a = t2 = time.perf_counter()
            self.failed += 1
            self.errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            row["failed"] = True
        finally:
            sc.setJobGroup(None, None)
        phases = drain_phases()
        artifacts = sum(d.get("setup", 0.0) for k, d in phases.items() if k.startswith("artifact:"))
        row.update(
            wall_s=t2 - t0,
            build_s=t1 - t0,
            action_s=t2 - t1a,
            artifact_s=artifacts,
            entry_setup_s=phases.get(op.name, {}).get("setup", 0.0),
        )
        if row.get("failed"):
            return row["wall_s"]
        if trace:
            row["eager_jobs"] = eager
            row["counters"] = self.counters.since(mark, {group} | op.groups(built))
            if op.frame:
                from perfbench.counters import catalyst_phases_ms

                row["catalyst_ms"] = catalyst_phases_ms(built)
            sid = self.span(op.name, None, t0, t2, layer=op.layer, group=group)
            self.span("build", sid, t0, t1)
            self.span("action", sid, t1a, t2)
            row["span"] = sid
        t3 = time.perf_counter()
        error = self.wl.check(op, result)
        row["check_s"] = time.perf_counter() - t3
        if error:
            self.failed += 1
            self.errors.append(f"{op.name}: {error}")
            row["failed"] = True
        return row["wall_s"]

    # -- metrics --
    def op_stats(self) -> dict:
        """Median and tail op wall over the passes.  Reported in
        every run's output and record, and as per-layer metrics: in a cold
        pass the seeded order hands the JVM's warm-up to different ops,
        which spread them by up to 0.34 (IQR/median over ten seeds), more
        than any bound an end-to-end metric may carry."""
        walls = [r["wall_s"] for r in self.ops]
        value, pct, n = tail(walls)
        return {"p50_s": statistics.median(walls), "tail_s": value,
                "tail_percentile": pct, "samples": n}

    def end_to_end(self) -> dict:
        return {
            "pass_s": (statistics.median(self.passes), "s"),
            "setup_s": (self.setup_s, "s"),
        }

    def per_layer(self) -> dict:
        n = len(self.passes)
        ops = [r for r in self.ops if not r.get("failed")]

        def total(key):
            return sum(r.get(key, 0.0) for r in ops) / n

        def counter(key, scale=1.0):
            return sum(r["counters"][key] for r in ops) * scale / n

        def catalyst(phase):
            return sum(r.get("catalyst_ms", {}).get(phase, 0.0) for r in ops) / n

        op_wall = total("wall_s")
        cpu_s = counter("cpu_ns", 1e-9)
        p = self.patches.totals
        prog = self.wl.progress
        op = self.op_stats()
        ingest_wall = sum(r["wall_s"] for r in ops if r["layer"] == "ingest")
        dur = lambda k: sum(pr.durationMs.get(k, 0) for pr in prog) / 1000 / n  # noqa: E731
        rows_in = sum(pr.numInputRows for pr in prog)
        return {
            "plans.build_s": (total("build_s"), "s"),
            "plans.action_s": (total("action_s"), "s"),
            "plans.eager_jobs": (total("eager_jobs"), "count"),
            "catalyst.analysis_ms": (catalyst("analysis"), "ms"),
            "catalyst.optimization_ms": (catalyst("optimization"), "ms"),
            "catalyst.planning_ms": (catalyst("planning"), "ms"),
            "scheduler.jobs": (counter("jobs"), "count"),
            "scheduler.stages": (counter("stages"), "count"),
            "scheduler.tasks": (counter("tasks"), "count"),
            "executor.run_s": (counter("run_ms", 1e-3), "s"),
            "executor.cpu_s": (cpu_s, "s"),
            "executor.gc_s": (counter("gc_ms", 1e-3), "s"),
            "executor.cpu_util": (cpu_s / (self.cpus * op_wall), "ratio"),
            "shuffle.read_bytes": (counter("shuffle_read_bytes"), "B"),
            "shuffle.write_bytes": (counter("shuffle_write_bytes"), "B"),
            "shuffle.spill_bytes": (counter("spill_bytes"), "B"),
            "codegen.compiles": (counter("codegen_compiles"), "count"),
            "codegen.compile_ms": (counter("codegen_compile_ns", 1e-6), "ms"),
            "python.rows": (counter("python_rows"), "count"),
            "python.bytes_sent": (counter("python_bytes_sent"), "B"),
            "python.bytes_received": (counter("python_bytes_received"), "B"),
            "sources.input_bytes": (counter("input_bytes"), "B"),
            "sources.output_bytes": (counter("output_bytes"), "B"),
            "txnlog.setup_s": (total("entry_setup_s"), "s"),
            "streaming.batch_s": (dur("triggerExecution"), "s"),
            "streaming.add_batch_s": (dur("addBatch"), "s"),
            "streaming.planning_s": (dur("queryPlanning"), "s"),
            "streaming.commit_s": (dur("walCommit") + dur("commitOffsets"), "s"),
            "streaming.ingest_rows_per_s": (rows_in / ingest_wall if ingest_wall else 0.0, "1/s"),
            "ml.fit_s": (p["ml.fit"] / n, "s"),
            "ml.eval_s": (p["ml.eval"] / n, "s"),
            "writers.write_s": (p["writers.write"] / n, "s"),
            "memory.peak_rss_mb": (self.peak_rss_mb, "MB"),
            "session.start_s": (self.setup_s, "s"),
            "setup.artifacts_s": (sum(r["artifact_s"] for r in self.ops), "s"),
            "trace.pass_s": (statistics.median(self.passes), "s"),
            "ops.p50_s": (op["p50_s"], "s"),
            "ops.tail_s": (op["tail_s"], "s"),
        }

    def invariants(self) -> list[str]:
        """Consistency of the traced run: every op ran a Spark job, and its
        executor CPU fits in its cores x wall.  The op wall is build +
        action + the tracer's read of the eager jobs between them, so the
        third check, build + action within 5% + 50 ms of the wall, only
        bounds that read: the tracer's overhead inside the timed op."""
        out = []
        for r in self.ops:
            if r.get("failed"):
                continue
            c = r["counters"]
            if c["jobs"] < 1:
                out.append(f"{r['op']}: no Spark job attributed")
            if c["cpu_ns"] * 1e-9 > self.cpus * r["wall_s"]:
                out.append(f"{r['op']}: executor cpu {c['cpu_ns'] * 1e-9:.3f}s > "
                           f"{self.cpus} x wall {r['wall_s']:.3f}s")
            gap = r["wall_s"] - r["build_s"] - r["action_s"]
            if gap > 0.05 + 0.1 * r["wall_s"]:
                out.append(f"{r['op']}: build+action miss {gap:.3f}s of wall {r['wall_s']:.3f}s")
        return out

    def read_peak_rss(self) -> None:
        """VmHWM of the Python driver plus that of its JVM.  A per-layer
        figure: the JVM's peak follows its garbage collector's timing and
        varies by a fifth between runs of the same input."""
        self.peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(self.jvm_pid)

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=120)


class LayerSpans:
    """Traced runs only: wrap the public functions of the ml and writers
    layers that the pipeline calls, recording a span per call and
    per-layer totals.  Patched at the call sites' module attributes and
    restored at the end of the run; the program's code is not changed."""

    def __init__(self, run: Run):
        import big_data_processing_spark.ml.pipeline as ML
        import big_data_processing_spark.plans.pipeline as P
        import big_data_processing_spark.plans.weather as W

        self.run = run
        self.totals = {"ml.fit": 0.0, "ml.eval": 0.0, "writers.write": 0.0}
        self.saved = []
        self._wrap(ML, "train_et_model", "ml.fit")
        self._wrap(ML, "model_performance_row", "ml.eval")
        self._wrap(ML, "save_model", "writers.write")
        self._wrap(P, "write_table", "writers.write")
        self._wrap(W, "write_fact_partitioned", "writers.write")

    def _wrap(self, module, attr: str, layer: str) -> None:
        fn = getattr(module, attr)
        self.saved.append((module, attr, fn))

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                t1 = time.perf_counter()
                self.totals[layer] += t1 - t0
                self.run.span(f"{layer}:{attr}", None, t0, t1)

        setattr(module, attr, timed)

    def restore(self) -> None:
        for module, attr, fn in self.saved:
            setattr(module, attr, fn)


def fingerprint() -> dict:
    """Environment beside each run (not a metric): storage drift shows in
    the io probe, toolchain drift in the versions."""
    import pyspark

    from bench import _io_probe

    return {
        "nproc": os.cpu_count(),
        "cpus_used": int(os.environ["SPARK_GRAFT_CPUS"]),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "io_probe_s": _io_probe(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: the program is not present under {ROOT}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    runs_dir = ROOT / ".perfbench_runs"
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    sys.path[:0] = [str(ROOT)]
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")

    env = fingerprint()
    run = Run(args, work)
    timeline = {"fingerprint": time.perf_counter() - STARTED}
    try:
        run.run()
        timeline["measured"] = time.perf_counter() - STARTED
        env["java"] = run.spark._jvm.java.lang.System.getProperty("java.version")
        run.read_peak_rss()
        metrics = run.per_layer() if run.trace else run.end_to_end()
        if run.trace:
            bad = run.invariants()
            run.errors += bad
            run.failed += len(bad)
    finally:
        if hasattr(run, "spark"):
            run.stop()
        if hasattr(run, "wl"):
            run.wl.close()
        shutil.rmtree(work, ignore_errors=True)
        timeline["stopped"] = time.perf_counter() - STARTED

    for e in run.errors:
        print(f"FAILED {e}", file=sys.stderr)
    print("fingerprint " + json.dumps(env))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": env, "passes": run.passes,
        "setup_s": run.setup_s,
        "input_s": run.input_s, "ops": run.ops, "errors": run.errors,
        "failed_frac": run.failed / run.attempted, "peak_rss_mb": run.peak_rss_mb,
        "timeline": timeline,
        "op_stats": run.op_stats(), "spans": run.spans,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    runs_dir.mkdir(exist_ok=True)
    with open(runs_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"failed_frac {run.failed}/{run.attempted} = {run.failed / run.attempted:.4f}")
    print(f"input_s {run.input_s:.6g} s (inputs made from the seed, before set-up)")
    ops = run.op_stats()
    print(f"op_p50_s {ops['p50_s']:.6g} s; op_tail_s {ops['tail_s']:.6g} s "
          f"(p{ops['tail_percentile']} of {ops['samples']} ops)")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
