"""Stage counts that arrive with an action the job already runs.

A ``df.count()`` per stage is one more Spark action: its own planning,
AQE re-optimisation and code generation, over a subtree the job is about
to execute anyway.  ``Observed`` attaches the aggregates to the frame as
``DataFrame.observe`` metrics instead.  They are reported by the first
action that executes the frame: a write, an eager ``localCheckpoint``, or
the action that fills a persisted subtree the frame sits under.

Two rules keep an observed value equal to a ``count()`` of the frame:

- The action that first runs the frame must read it on ONE branch.  Two
  executors filling the same cached partition for two branches would
  each add its rows to the metric.
- The metrics can go missing.  AQE drops every metric below a join it
  replaces with an empty relation at runtime, even on a branch that ran
  and had rows; ``Observation.get`` then raises ``AssertionError`` in
  ``PythonSQLUtils.toPyRow``.  A branch the optimizer removes at
  planning time may never report, and ``Observation.get`` blocks
  forever.  ``Observed`` waits only until Spark's listener bus has
  delivered every event of the actions that ran and, when the metrics
  are still missing, computes the same aggregates directly over the
  frame (over the cache when the caller persisted it).
"""

from __future__ import annotations

from functools import cached_property

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class Observed:
    """Integer aggregates over ``df``, named by the keyword arguments.

    Run an action over ``self.df`` (or a frame built from it), then read
    ``values``.  A NULL aggregate (a sum over no rows) reads 0."""

    def __init__(self, df: DataFrame, **metrics: Column) -> None:
        self._obs = Observation()
        self._metrics = [c.alias(name) for name, c in metrics.items()]
        self.df = df.observe(self._obs, *self._metrics)

    @classmethod
    def rows(cls, df: DataFrame, name: str) -> "Observed":
        """The row count of ``df`` as metric ``name``."""
        return cls(df, **{name: F.count(F.lit(1))})

    @cached_property
    def values(self) -> dict[str, int]:
        values = self._reported() or self.df.agg(*self._metrics).first().asDict()
        return {k: int(v or 0) for k, v in values.items()}

    def _reported(self) -> dict | None:
        jo = self._obs._jo
        if not jo.future().isCompleted():
            # the metrics are set by a listener on Spark's asynchronous
            # event bus; once the bus is drained, an observation still
            # open was never reported by the actions that ran.  A slow bus
            # is waited out, never taken for missing metrics: the fallback
            # re-runs the frame, a whole UDF plan when it feeds a write.
            bus = SparkContext._active_spark_context._jsc.sc().listenerBus()
            while True:
                try:
                    bus.waitUntilEmpty()  # raises after 10 s still busy
                    break
                except Py4JJavaError as exc:
                    name = exc.java_exception.getClass().getName()
                    if name != "java.util.concurrent.TimeoutException":
                        raise
            if not jo.future().isCompleted():
                return None
        if jo.getRow().length() == 0:  # metrics dropped by an AQE prune
            return None
        return self._obs.get
