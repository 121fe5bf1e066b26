"""Per-op Spark counters, read over py4j from Spark's own status stores.

Nothing here needs a jar, the UI or a listener of our own: the
application status store (jobs, stages), the SQL status store (plan
graphs and SQL metrics), a DataFrame's ``QueryExecution`` phase tracker
and the JVM codegen counters are all reachable from the driver's py4j
gateway.

Attribution is per op by job group, never by diffing global stage
lists (those roll over at ``spark.ui.retainedStages``).  The runner
sets a fresh job group before each op; jobs whose id is newer than the
op's start and whose group is the op's, one of the op's extra groups
(a streaming query's run id) or unset (helper threads of the op, which
do not inherit the caller's thread-local group) are the op's jobs.
The client is a single closed-loop thread, so no other op can own an
ungrouped job in that window.
"""

from __future__ import annotations

import re

# Python/Arrow plan nodes (ArrowEvalPython, BatchEvalPython, MapInPandas,
# MapInArrow, FlatMapGroupsInPandas, ...) all carry "Python", "Pandas"
# or "Arrow" in their node name.
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "codegen_compiles",
    "codegen_compile_ns",
    "python_rows",
    "python_bytes_sent",
    "python_bytes_received",
)


def _seq(seq):
    """Iterate a Scala ``Seq`` held over py4j."""
    for i in range(seq.size()):
        yield seq.apply(i)


def _size_bytes(text: str) -> float:
    """Parse a formatted SQL size metric ("8.2 KiB" or the aggregated
    "total (min, med, max ...)\\n8.2 KiB (...)" form) into bytes."""
    line = text.strip().splitlines()[-1]
    value, unit = line.split()[:2]
    return float(value.replace(",", "")) * _SIZE_UNITS[unit]


class SparkCounters:
    """Reads one session's counters; ``mark()`` before an op, ``since()``
    after it."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = spark._jvm
        self._compile_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def _settle(self) -> None:
        # status stores are fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()

    def last_job_id(self) -> int:
        self._settle()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _last_execution_id(self) -> int:
        execs = self._sql.executionsList()  # oldest first
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def mark(self) -> dict:
        return {
            "job": self.last_job_id(),
            "execution": self._last_execution_id(),
            "compiles": self._compile_hist.getCount(),
            "compile_ns": self._codegen.compileTime(),
        }

    def jobs_since(self, mark: dict, groups: set[str]) -> list:
        """JobData of the jobs started after ``mark`` that belong to one of
        ``groups`` or to no group."""
        last = self.last_job_id()
        out = []
        for job_id in range(mark["job"] + 1, last + 1):
            job = self._store.job(job_id)
            group = job.jobGroup()
            if not group.isDefined() or group.get() in groups:
                out.append(job)
        return out

    def since(self, mark: dict, groups: set[str]) -> dict:
        """Counters of the op that started at ``mark``."""
        jobs = self.jobs_since(mark, groups)
        c = dict.fromkeys(COUNTERS, 0)
        c["jobs"] = len(jobs)
        stage_ids = {sid for job in jobs for sid in _seq(job.stageIds())}
        for sid in stage_ids:
            stage = self._store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
            c["run_ms"] += stage.executorRunTime()
            c["cpu_ns"] += stage.executorCpuTime()
            c["gc_ms"] += stage.jvmGcTime()
            c["shuffle_read_bytes"] += stage.shuffleReadBytes()
            c["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            c["spill_bytes"] += stage.diskBytesSpilled()
            c["input_bytes"] += stage.inputBytes()
            c["output_bytes"] += stage.outputBytes()
        c["codegen_compiles"] = self._compile_hist.getCount() - mark["compiles"]
        c["codegen_compile_ns"] = self._codegen.compileTime() - mark["compile_ns"]
        c.update(self._python_metrics(mark["execution"]))
        return c

    def _python_metrics(self, after_execution: int) -> dict:
        """Rows and bytes through Python/Arrow plan nodes of the SQL
        executions newer than ``after_execution``."""
        out = {"python_rows": 0, "python_bytes_sent": 0, "python_bytes_received": 0}
        execs = self._sql.executionsList()
        i = execs.size() - 1
        while i >= 0 and execs.apply(i).executionId() > after_execution:
            exec_id = execs.apply(i).executionId()
            i -= 1
            wanted = {}
            for node in _seq(self._sql.planGraph(exec_id).allNodes()):
                if not _PY_NODE.search(node.name()):
                    continue
                for m in _seq(node.metrics()):
                    wanted[m.accumulatorId()] = m.name()
            if not wanted:
                continue
            # a Scala Map[Long, String]: py4j would box a Python int key as
            # Integer, so walk the entries instead of calling get()
            values = {}
            it = self._sql.executionMetrics(exec_id).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            for acc_id, name in wanted.items():
                text = values.get(acc_id)
                if text is None:
                    continue
                if name == "data sent to Python workers":
                    out["python_bytes_sent"] += _size_bytes(text)
                elif name == "data returned from Python workers":
                    out["python_bytes_received"] += _size_bytes(text)
                elif name == "number of output rows":
                    out["python_rows"] += int(text.replace(",", ""))
        return out


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds of ``df``'s own
    QueryExecution (the op's final action)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out
