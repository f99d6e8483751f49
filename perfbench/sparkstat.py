"""Read Spark's own status stores after an action.

Everything here runs outside the timed region and only in a traced
run.  Stages and SQL executions carry increasing ids, so a ``Cursor``
remembers the last ones it has seen and each ``read`` returns the
counters of what ran since.
"""

from __future__ import annotations

import re

# Plan nodes that cross into Python workers, and their byte metrics.
_PY_METRICS = ("data sent to Python workers",
               "data returned from Python workers")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)\b")
_NUM = re.compile(r"[0-9][0-9,]*")
_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


def parse_size(text: str) -> int:
    """Bytes of a formatted SQL size metric.  Aggregated metrics read
    ``total (min, med, max ...)\\n12.3 MiB (...)``; the total is the
    first size after the header line."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return round(float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]) \
        if m else 0


def parse_count(text: str) -> int:
    body = text.split("\n", 1)[-1]
    m = _NUM.search(body)
    return int(m.group(0).replace(",", "")) if m else 0


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class Cursor:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.gw = spark.sparkContext._gateway
        self.cores = spark.sparkContext.defaultParallelism
        self.last_stage = -1
        self.last_exec = -1
        self.skip()

    def _stages_since(self, last: int) -> list:
        """Stages newer than ``last``; the store lists newest first."""
        store = self.jsc.statusStore()
        seq = store.stageList([], False, False,
                              self.gw.new_array(self.gw.jvm.double, 0),
                              [])
        out = []
        for s in _seq(seq):
            if s.stageId() <= last:
                break
            out.append(s)
        return out

    def _executions_since(self, last: int) -> list:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        return [e for e in _seq(sql.executionsList(max(0, n - 64), 64))
                if e.executionId() > last]

    def skip(self) -> None:
        """Forget everything that has run so far."""
        st = self._stages_since(self.last_stage)
        if st:
            self.last_stage = max(s.stageId() for s in st)
        ex = self._executions_since(self.last_exec)
        if ex:
            self.last_exec = max(e.executionId() for e in ex)

    def read(self) -> dict:
        """Counters of every stage and SQL execution since the last
        ``read`` or ``skip``.  ``output_rows`` is the row count of the
        top-most counted plan node of the last execution: the rows the
        job's action produced."""
        stages = self._stages_since(self.last_stage)
        out = {"stages": 0, "tasks": 0, "task_s": 0.0, "narrow_task_s": 0.0,
               "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "python_mb": 0.0,
               "join_rows_max": 0, "output_rows": 0}
        for s in stages:
            if str(s.status().toString()) == "SKIPPED":
                continue
            run_s = s.executorRunTime() / 1e3
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["task_s"] += run_s
            if s.numTasks() < self.cores:
                out["narrow_task_s"] += run_s
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) / 2**20
        if stages:
            self.last_stage = max(s.stageId() for s in stages)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = self._executions_since(self.last_exec)
        for e in sorted(execs, key=lambda e: e.executionId()):
            eid = e.executionId()
            values = sql.executionMetrics(eid)
            top = None
            for node in _seq(sql.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    text = str(values.get(m.accumulatorId()))
                    if m.name() in _PY_METRICS:
                        out["python_mb"] += parse_size(text) / 2**20
                    elif m.name() == "number of output rows":
                        rows = parse_count(text)
                        if node.name().startswith(_JOINS):
                            out["join_rows_max"] = max(
                                out["join_rows_max"], rows)
                        if top is None or node.id() < top[0]:
                            top = (node.id(), rows)
            out["output_rows"] = top[1] if top else 0
        if execs:
            self.last_exec = max(e.executionId() for e in execs)
        return out
