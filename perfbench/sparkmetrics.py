"""Per-operation Spark layer metrics, read from outside the engine.

Two sources, both read after an operation has finished:

- the SQL status store (``sharedState().statusStore()``): every SQL
  metric of every SQL execution started since a mark, summed by metric
  name.  Values are the store's UI strings (``'105.8 MiB'``,
  ``'total (min, med, max ...)\\n20.2 s (...)'``, ``'4,096'``); sizes
  and times carry one decimal, so they are exact to about 0.1 unit;
- the application status store: the tasks of every job those executions
  ran, with their durations and result sizes.

The listener bus is drained first, so an operation's metrics are
complete when they are read.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^(-?[\d,]+(?:\.\d+)?)(?:\s+([A-Za-z]+))?")

# layer metric name -> SQL metric name (Spark 4.1)
SQL_LAYERS = {
    "python.start_s": "time to start Python workers",
    "python.init_s": "time to initialize Python workers",
    "python.run_s": "time to run Python workers",
    "arrow.bytes_to_python": "data sent to Python workers",
    "arrow.bytes_from_python": "data returned from Python workers",
    "shuffle.bytes_written": "shuffle bytes written",
    "shuffle.records_written": "shuffle records written",
    "shuffle.fetch_wait_s": "fetch wait time",
}
_WANTED = set(SQL_LAYERS.values())


def parse_value(text: str) -> float:
    """A status-store metric string -> number in base units (bytes,
    seconds or a count).  For per-task statistics the total is the first
    figure on the second line."""
    lines = str(text).strip().split("\n")
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _TOTAL.match(body.strip())
    if m is None:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_S:
        return num * _TIME_S[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric value {text!r}")


@dataclass
class OpSpark:
    """What Spark did for one operation."""

    executions: int
    sql: dict[str, float]          # SQL metric name -> summed value (SQL_LAYERS)
    task_ms: list[float]           # every task's duration
    heavy_stage_ms: list[float]    # task durations of the busiest stage
    result_bytes: float            # task results sent to the driver

    def layers(self) -> dict[str, float]:
        out = {k: self.sql.get(v, 0.0) for k, v in SQL_LAYERS.items()}
        heavy = self.heavy_stage_ms
        p50 = statistics.median(heavy) if heavy else 0.0
        out["tasks.n"] = float(len(self.task_ms))
        out["tasks.p50_ms"] = p50
        out["tasks.max_over_p50"] = max(heavy) / p50 if p50 > 0 else 0.0
        return out


class StatusReader:
    """Diff Spark's status stores across an operation:
    ``m = r.mark(); <operation>; r.since(m)``."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        self._bus.waitUntilEmpty()
        return self._sql.executionsList().size()

    def since(self, mark: int) -> OpSpark:
        self._bus.waitUntilEmpty()
        execs = self._sql.executionsList()
        sql: dict[str, float] = {}
        stages: dict[int, list[float]] = {}
        result_bytes = 0.0
        for i in range(mark, execs.size()):
            ex = execs.apply(i)
            names = {}
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                names[m.accumulatorId()] = m.name()
            it = self._sql.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                e = it.next()
                name = names.get(e._1())
                if name in _WANTED:
                    sql[name] = sql.get(name, 0.0) + parse_value(e._2())
            jobs = ex.jobs().keys().iterator()
            while jobs.hasNext():
                sit = self._app.job(jobs.next()).stageIds().iterator()
                while sit.hasNext():
                    sid = sit.next()
                    if sid in stages:
                        continue
                    durs = stages[sid] = []
                    tit = self._app.taskList(sid, 0, 1 << 30).iterator()
                    while tit.hasNext():
                        td = tit.next()
                        if td.duration().isDefined():
                            durs.append(float(td.duration().get()))
                        if td.taskMetrics().isDefined():
                            result_bytes += td.taskMetrics().get().resultSize()
        all_ms = [d for durs in stages.values() for d in durs]
        heavy = max(stages.values(), key=sum, default=[])
        return OpSpark(execs.size() - mark, sql, all_ms, heavy, result_bytes)


def cached_bytes(spark) -> float:
    """Memory plus disk bytes of every cached RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos))
