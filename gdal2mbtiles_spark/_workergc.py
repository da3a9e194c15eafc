"""Keep a reused Python worker's per-task full GC off module objects.

After every task on a reused worker PySpark's daemon runs a full
``gc.collect()`` (``pyspark/daemon.py``).  With numpy, pandas and
pyarrow imported that collection walks some 73k long-lived objects,
about 20 ms standalone and more in a worker, for every task.

``install`` registers a ``gc.callbacks`` hook in a process that is
running a Spark task.  At the end of the first generation-2 collection
that runs while no task is active (the daemon's collection after a
task), it calls ``gc.freeze()`` once and removes itself: every object
alive then moves to the permanent generation, which later collections
skip.  Freezing only between tasks keeps a task's frames and batches
out of it, and objects that later tasks create are collected as
before.  A process that never runs a task (the driver) is not frozen.
"""

from __future__ import annotations

import gc

from ._zipcache import _in_task


def _freeze_between_tasks(phase: str, info: dict) -> None:
    if phase == "stop" and info["generation"] == 2 and not _in_task():
        gc.freeze()
        gc.callbacks.remove(_freeze_between_tasks)


def install() -> bool:
    """Register the freeze hook inside a running Spark task, once;
    return whether it is registered."""
    if _in_task() and _freeze_between_tasks not in gc.callbacks:
        gc.callbacks.append(_freeze_between_tasks)
    return _freeze_between_tasks in gc.callbacks
