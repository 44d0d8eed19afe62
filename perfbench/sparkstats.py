"""Read what Spark recorded about the benchmark's own jobs: the SQL
metrics of the extraction plan's MapInPandas and Exchange nodes (from the
SQL status store, which is kept with the UI disabled) and the peak
resident memory of the Python workers (from /proc).

The status store keeps each metric as Spark's display string, e.g.
``total (min, med, max (stageId: taskId))\\n1.4 m (215 ms, 371 ms, 3.2 s
(stage 2.0: task 4))``; values are parsed back from it, so they carry the
display precision (README.md, "Metric semantics").
"""

from __future__ import annotations

import re

from procs import descendants

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_QTY = r"(-?[\d.,]+(?:E-?\d+)?) ?([A-Za-z]*)"
_DIST = re.compile(rf"{_QTY} \({_QTY}, {_QTY}, {_QTY} \(stage")

PY_METRICS = {
    "start": "time to start Python workers",
    "init": "time to initialize Python workers",
    "run": "time to run Python workers",
    "sent": "data sent to Python workers",
    "returned": "data returned from Python workers",
}
EXCHANGE_METRICS = {
    "partitions": "number of partitions",
    "shuffle_write": "shuffle bytes written",
    "data_size": "data size",
    "part_read": "local bytes read",
}


def _quantity(num: str, unit: str) -> float:
    v = float(num.replace(",", ""))
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME_S:
        return v * _TIME_S[unit]
    if unit == "":
        return v
    raise ValueError(f"unknown unit {unit!r} in a Spark metric")


def parse_metric(text: str) -> dict:
    """-> {"total", "min", "med", "max"} in bytes, seconds or counts. A
    metric updated by one task only has no distribution; its total is
    then also its min, median and max."""
    body = text.split("\n")[-1].strip()
    m = _DIST.match(body)
    if m:
        g = m.groups()
        vals = [_quantity(g[i], g[i + 1]) for i in range(0, 8, 2)]
        return dict(zip(("total", "min", "med", "max"), vals))
    m = re.fullmatch(_QTY, body)
    if not m:
        raise ValueError(f"cannot parse Spark metric {text!r}")
    v = _quantity(*m.groups())
    return {"total": v, "min": v, "med": v, "max": v}


class StatusStore:
    """The SQL executions one benchmark step ran, read back by id."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids(self) -> list[int]:
        it = self._store.executionsList().iterator()
        ids = []
        while it.hasNext():
            ids.append(it.next().executionId())
        return ids

    def extraction_metrics(self, execution_id: int) -> dict | None:
        """Parsed metrics of the execution's MapInPandas node and of the
        Exchange under it, or None if the execution has no MapInPandas."""
        graph = self._store.planGraph(execution_id)
        values = self._store.executionMetrics(execution_id)
        nodes = {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            n = it.next()
            nodes[n.id()] = n
        child_of = {}
        it = graph.edges().iterator()
        while it.hasNext():
            e = it.next()
            child_of.setdefault(e.toId(), []).append(e.fromId())
        mip = [i for i, n in nodes.items() if n.name() == "MapInPandas"]
        if not mip:
            return None
        exchange = _first_below(mip[0], "Exchange", nodes, child_of)
        out = {"python": _node_metrics(nodes[mip[0]], values, PY_METRICS)}
        out["exchange"] = (_node_metrics(nodes[exchange], values, EXCHANGE_METRICS)
                           if exchange is not None else {})
        return out


def _first_below(start, name, nodes, child_of):
    todo = list(child_of.get(start, []))
    while todo:
        i = todo.pop(0)
        if nodes[i].name() == name:
            return i
        todo += child_of.get(i, [])
    return None


def _node_metrics(node, values, wanted: dict) -> dict:
    key_of = {name: key for key, name in wanted.items()}
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        m = it.next()
        v = values.get(m.accumulatorId())
        if m.name() in key_of and v.isDefined():
            out[key_of[m.name()]] = parse_metric(v.get())
    return out


def combine(per_job: list[dict]) -> dict:
    """Per-layer boundary and exchange metrics over one workload's
    measured extraction jobs: totals are summed, max/median ratios take
    the worst job, the partition count is the largest job's."""
    def tot(group, key):
        return sum(j[group][key]["total"] for j in per_job)

    def worst_ratio(group, key):
        return max(j[group][key]["max"] / j[group][key]["med"] for j in per_job)

    tasks = sum(j["exchange"]["partitions"]["total"] for j in per_job)
    mib = float(1 << 20)
    return {
        "exchange.partitions": max(j["exchange"]["partitions"]["total"]
                                   for j in per_job),
        "exchange.shuffle_write_mb": tot("exchange", "shuffle_write") / mib,
        "exchange.data_mb": tot("exchange", "data_size") / mib,
        "exchange.part_mb_max_over_med": worst_ratio("exchange", "part_read"),
        "python.start_s": tot("python", "start"),
        "python.init_s": tot("python", "init"),
        "python.init_ms_per_task": 1000.0 * tot("python", "init") / tasks,
        "python.run_s": tot("python", "run"),
        "python.run_max_over_med": worst_ratio("python", "run"),
        "python.sent_mb": tot("python", "sent") / mib,
        "python.returned_mb": tot("python", "returned") / mib,
    }


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def python_worker_pids(root_pid: int) -> list[int]:
    """Python processes descended from the Spark JVM (the pyspark daemon
    and the workers it forked)."""
    pids = []
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark" in fh.read():
                    pids.append(pid)
        except OSError:
            continue
    return pids


def worker_peak_rss_mb(root_pid: int) -> float:
    """Largest VmHWM (peak resident set) of any Python worker, in MiB."""
    peak_kb = 0
    for pid in python_worker_pids(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    if peak_kb == 0:
        raise RuntimeError("no Python worker found under the Spark JVM")
    return peak_kb / 1024.0
