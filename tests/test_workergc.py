"""The Python workers' between-task GC freeze (gdal2mbtiles_spark._workergc).

A reused worker runs a full gc.collect() after every task.  The hook
freezes the objects alive at the first such collection, so later ones
skip them; it registers only inside a Spark task.
"""

import gc

from gdal2mbtiles_spark import _workergc


def _task_reports(spark, tasks):
    """One row per task: whether its worker ran one of these tasks
    before, that worker's freeze count, and whether the reference
    cycle the previous such task left behind is still alive."""

    def report(batches):
        import gc
        import os
        import sys
        import weakref

        import pandas as pd

        import gdal2mbtiles_spark  # noqa: F401  (as every engine UDF)

        class Node:
            pass

        prev = getattr(sys, "_workergc_test_cycle", None)
        node = Node()
        node.self = node
        sys._workergc_test_cycle = weakref.ref(node)
        del node
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()], "reused": [prev is not None],
            "frozen": [gc.get_freeze_count()],
            "cycle_alive": [prev is not None and prev() is not None]})

    return (spark.range(2 * tasks, numPartitions=tasks)
            .mapInPandas(report, schema="pid long, reused boolean, "
                                        "frozen long, cycle_alive boolean")
            .collect())


def test_reused_workers_frozen_and_cycles_collected(spark):
    rows = _task_reports(spark, 32)
    assert len(rows) == 32
    reused = [r for r in rows if r.reused]
    # 32 tasks on a 4-core session: workers are reused
    assert reused and len({r.pid for r in rows}) < len(rows)
    # every worker that finished a task froze before its next one
    assert all(r.frozen > 0 for r in reused), rows
    # a cycle made in a task after the freeze is still collected
    assert not any(r.cycle_alive for r in reused), rows


def test_driver_never_frozen(spark):
    _task_reports(spark, 4)
    gc.collect()
    assert gc.get_freeze_count() == 0
    assert _workergc._freeze_between_tasks not in gc.callbacks
    assert _workergc.install() is False
