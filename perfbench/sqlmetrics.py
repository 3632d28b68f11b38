"""Spark SQL metrics read off executed plans.

``PlanMetricsReader`` registers a ``QueryExecutionListener`` (a Python object
behind py4j's callback server) so that every action a workload triggers,
including the engine's own writes, counts and checkpoint-feeding counts,
hands back its ``QueryExecution``. After the actions have finished the reader
walks each executed plan: ``AdaptiveSparkPlanExec`` is followed to its final
physical plan, query stages to the plan they wrapped, and every node's
``SQLMetric`` values are summed by metric name.

Reading ``df._jdf.queryExecution()`` of a DataFrame that the engine then
*wrote* would give zeros: the write runs its own ``QueryExecution``. The
listener sees that one, as it sees the ``QueryExecution`` of a ``collect()``.
"""

from __future__ import annotations

# plan nodes that cross the Python UDF boundary
PYTHON_NODES = ("MapInPandasExec", "ArrowEvalPythonExec", "FlatMapGroupsInPandasExec",
                "MapInArrowExec", "BatchEvalPythonExec", "FlatMapCoGroupsInPandasExec")


def _metric_values(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def walk_plan(plan, acc: dict | None = None) -> dict:
    """Sum the metrics of every node under ``plan`` into ``acc``:
    ``acc[(kind, metric)]`` where kind is 'python', 'exchange', 'scan' or
    'write', plus ``acc[('nodes', simple class name)]`` counts and
    ``acc[('udf_rows', scalar UDF name)]`` rows evaluated by each scalar UDF."""
    acc = {} if acc is None else acc
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its bytes were counted where the exchange ran
        acc[("nodes", cls)] = acc.get(("nodes", cls), 0) + 1
        kind = None
        if cls in PYTHON_NODES:
            kind = "python"
        elif cls.endswith("ShuffleExchangeExec"):
            kind = "exchange"
        elif cls in ("FileSourceScanExec", "BatchScanExec"):
            kind = "scan"
        elif cls == "DataWritingCommandExec":
            kind = "write"
        if kind is not None:
            values = _metric_values(node)
            for k, v in values.items():
                acc[(kind, k)] = acc.get((kind, k), 0) + v
            if cls in ("ArrowEvalPythonExec", "BatchEvalPythonExec"):
                # rows through each scalar UDF, by the UDF's name
                udfs = node.udfs()
                name = ",".join(udfs.apply(i).name() for i in range(udfs.size()))
                key = ("udf_rows", name)
                acc[key] = acc.get(key, 0) + values.get("pythonNumRowsReceived", 0)
        ch = node.children()
        for i in range(ch.size()):
            todo.append(ch.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            todo.append(subs.apply(i))
    return acc


class _Listener:
    def __init__(self):
        self.executions = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — JVM interface
        self.executions.append((func_name, qe, duration_ns))

    def onFailure(self, func_name, qe, exc):  # noqa: N802 — JVM interface
        self.executions.append((func_name, qe, -1))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class PlanMetricsReader:
    """Collects the QueryExecution of every action run inside ``with reader:``
    and, on leaving the block, adds their plan metrics to ``acc``."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _Listener()
        self.acc: dict = {}
        self.n_actions = 0

    def _drain(self):
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def __enter__(self):
        self._drain()
        self._listener.executions.clear()
        self.spark._jsparkSession.listenerManager().register(self._listener)
        return self

    def __exit__(self, *exc):
        self._drain()
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
        for _, qe, _ in self._listener.executions:
            walk_plan(qe.executedPlan(), self.acc)
            self.n_actions += 1
        self._listener.executions.clear()
        return False


def layer_totals(acc: dict) -> dict:
    """The udf/exchange/scan/write figures one or more walks add up to."""
    g = acc.get
    return {
        "udf.python_boot_s": g(("python", "pythonBootTime"), 0) / 1e3,
        "udf.python_init_s": g(("python", "pythonInitTime"), 0) / 1e3,
        "udf.python_total_s": g(("python", "pythonTotalTime"), 0) / 1e3,
        "udf.arrow_sent_mb": g(("python", "pythonDataSent"), 0) / 1e6,
        "udf.arrow_recv_mb": g(("python", "pythonDataReceived"), 0) / 1e6,
        "udf.rows_recv": g(("python", "pythonNumRowsReceived"), 0),
        "exchange.shuffle_mb": g(("exchange", "shuffleBytesWritten"), 0) / 1e6,
        "sources.scan_mb": g(("scan", "filesSize"), 0) / 1e6,
        "sources.scan_files": g(("scan", "numFiles"), 0),
        "sources.written_mb": g(("write", "numOutputBytes"), 0) / 1e6,
    }
