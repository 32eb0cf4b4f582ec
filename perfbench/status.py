"""Per-operation Python-boundary and shuffle numbers from Spark's SQL
status store.

Spark 4 records, per SQL execution, every plan metric of every
operator — including the Python-worker metrics of each ``mapInArrow``
node ("time to start / initialize / run Python workers", "data sent
to / returned from Python workers") and the shuffle metrics. The
benchmark has one client, so the executions an operation started are
exactly the ids above a mark taken before it (the execution-id window).
"""

from __future__ import annotations

# status-store metric name -> (benchmark metric, unit the string is parsed to)
METRICS = {
    "time to start Python workers": ("pyworker.start_ms", "ms"),
    "time to initialize Python workers": ("pyworker.init_ms", "ms"),
    "time to run Python workers": ("pyworker.run_ms", "ms"),
    "data sent to Python workers": ("pyworker.bytes_sent", "bytes"),
    "data returned from Python workers": ("pyworker.bytes_returned", "bytes"),
    "shuffle bytes written": ("spark.shuffle_bytes_written", "bytes"),
    "shuffle write time": ("spark.shuffle_write_ms", "ms"),
    "fetch wait time": ("spark.fetch_wait_ms", "ms"),
    "spill size": ("spark.spill_bytes", "bytes"),
}
NAMES = sorted({m for m, _ in METRICS.values()} | {"pyworker.tasks"})

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}


def parse_value(text: str, unit: str) -> float:
    """Total of one formatted SQL metric: either a bare value
    ("7.6 MiB", "0 ms", "400,000") or Spark's per-task summary, whose
    second line starts with the total ("...\\n6.4 s (1.6 s, ...)")."""
    head = text.strip().splitlines()[-1].split("(")[0].split()
    num = float(head[0].replace(",", ""))
    if unit == "bytes":
        return num * _SIZE[head[1]]
    return num * _TIME_MS[head[1]]


class StatusReader:
    """Reads the Spark driver's SQL status store; ``mark()`` before an
    operation, ``since(mark)`` after it."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        # task-end and execution-end events reach the store through the
        # asynchronous listener bus; wait for it so no metric is missed
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._drain()
        ids = [e.executionId() for e in self._iter()]
        return max(ids, default=-1)

    def _iter(self):
        it = self._store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    def since(self, mark: int) -> dict:
        """Summed metrics of every execution with id > ``mark``."""
        self._drain()
        out = dict.fromkeys(NAMES, 0.0)
        out["executions"] = 0
        tracker = self._spark.sparkContext.statusTracker()
        for e in self._iter():
            eid = e.executionId()
            if eid <= mark:
                continue
            out["executions"] += 1
            python_node = False
            names = {}
            mi = e.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                if m.name() in METRICS:
                    names[m.accumulatorId()] = m.name()
            vi = self._store.executionMetrics(eid).iterator()
            while vi.hasNext():
                kv = vi.next()
                name = names.get(kv._1())
                if name is None:
                    continue
                key, unit = METRICS[name]
                out[key] += parse_value(kv._2(), unit)
                python_node |= key.startswith("pyworker.")
            if python_node:
                # SQL metrics do not say which stage ran them, so count
                # the tasks every stage of the execution completed: an
                # upper bound on the Python tasks
                si = e.stages().iterator()
                while si.hasNext():
                    info = tracker.getStageInfo(si.next())
                    out["pyworker.tasks"] += info.numCompletedTasks if info else 0
        return out
