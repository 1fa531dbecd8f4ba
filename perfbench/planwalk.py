"""Executed-plan SQL-metric walker.

After an action has run, ``df._jdf.queryExecution().executedPlan()``
holds the SQL metrics Spark collected for it. This walks that tree
through py4j, descending into ``AdaptiveSparkPlanExec.executedPlan()``
and every AQE ``*QueryStageExec.plan()``, and sums the metrics the
benchmark reports: ``MapInArrow`` Python transfer figures, ``Scan``
scan time and ``Exchange`` shuffle figures.
"""

from __future__ import annotations


def nodes(plan):
    """Yield (simple class name, {metric: value}) for every plan node."""
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        yield cls, metrics
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())


def sql_metrics(df) -> dict:
    """Summed scan, Python and shuffle metrics of ``df``'s last run.

    Spark reports ``scanTime`` and Python times in ms, shuffle write
    time in ns and sizes in bytes; the result is in seconds and MB.
    """
    out = {"scan_s": 0.0, "python_total_s": 0.0, "python_boot_s": 0.0,
           "python_init_s": 0.0, "python_data_sent_mb": 0.0,
           "python_data_received_mb": 0.0, "shuffle_write_mb": 0.0,
           "shuffle_read_mb": 0.0, "shuffle_write_time_s": 0.0}
    for cls, m in nodes(df._jdf.queryExecution().executedPlan()):
        if cls.startswith("MapInArrow") or cls.endswith("MapInArrowExec"):
            out["python_total_s"] += m.get("pythonTotalTime", 0) / 1e3
            out["python_boot_s"] += m.get("pythonBootTime", 0) / 1e3
            out["python_init_s"] += m.get("pythonInitTime", 0) / 1e3
            out["python_data_sent_mb"] += m.get("pythonDataSent", 0) / 2**20
            out["python_data_received_mb"] += (
                m.get("pythonDataReceived", 0) / 2**20)
        elif "Scan" in cls:
            out["scan_s"] += m.get("scanTime", 0) / 1e3
        elif cls.endswith("ExchangeExec"):
            out["shuffle_write_mb"] += m.get("shuffleBytesWritten", 0) / 2**20
            out["shuffle_read_mb"] += (m.get("localBytesRead", 0)
                                       + m.get("remoteBytesRead", 0)) / 2**20
            out["shuffle_write_time_s"] += m.get("shuffleWriteTime", 0) / 1e9
    return out
