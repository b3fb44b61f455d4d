"""Thread pool for Spark jobs that one driver runs concurrently.

Spark schedules jobs submitted from several driver threads at once; the
tenant pipeline uses that to load tables, and the model runner to run
ready models, side by side. Two rules hold for every such pool:

- width: one thread per task ready at once, at most
  ``session.default_parallelism()`` (``ThreadPoolExecutor`` starts a
  thread only when no idle one can take the task);
- every task runs under the submitting thread's Spark local properties
  (job group, description, scheduler pool), captured at submit time
  through ``pyspark.inheritable_thread_target``, so its jobs are
  attributed and scheduled as the caller's.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

from .session import default_parallelism


class JobPool(ThreadPoolExecutor):
    def __init__(self, spark: SparkSession, tasks: int):
        super().__init__(max_workers=max(1, min(tasks, default_parallelism())))
        self._spark = spark

    def submit(self, fn, /, *args, **kwargs) -> Future:
        return super().submit(inheritable_thread_target(self._spark)(fn), *args, **kwargs)
