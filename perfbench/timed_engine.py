"""Span-recording stand-ins for the engine objects the warehouse workload
hands to ``Runner``: a ``Warehouse`` subclass timing each materialization,
a ``Runner`` subclass timing each ``run`` (and letting the harness wrap
the per-chunk runs ``run_backfill`` makes), and a session proxy timing
SQL-to-DataFrame construction. With tracing off the spans are no-ops.
"""

from __future__ import annotations

from dbtwiz_spark.materialize import Warehouse
from dbtwiz_spark.runner import Runner

from tracer import Tracer

_OFF = Tracer(False)


def _timed(layer: str, method):
    def wrapper(self, *args, **kwargs):
        with self.tracer.span(layer):
            return method(self, *args, **kwargs)

    wrapper.__name__ = method.__name__
    wrapper.__doc__ = method.__doc__
    return wrapper


class TimedWarehouse(Warehouse):
    tracer: Tracer = _OFF

    write_table = _timed("materialize.write_table", Warehouse.write_table)
    insert_overwrite = _timed("materialize.insert_overwrite", Warehouse.insert_overwrite)
    merge = _timed("materialize.merge", Warehouse.merge)
    scd2_apply = _timed("materialize.scd2", Warehouse.scd2_apply)
    create_view = _timed("materialize.create_view", Warehouse.create_view)
    read = _timed("materialize.read", Warehouse.read)


class TimedRunner(Runner):
    tracer: Tracer = _OFF
    hook = None  # callable(thunk) -> result: the harness's operation wrapper

    def run(self, *args, **kwargs):
        def call():
            with self.tracer.span("runner.run"):
                return Runner.run(self, *args, **kwargs)

        return self.hook(call) if self.hook is not None else call()


class SparkSqlProxy:
    """Forwards everything to the session; times ``sql`` (the model SQL
    to DataFrame step) as the ``ops.build`` layer."""

    def __init__(self, spark, tracer: Tracer):
        self._spark = spark
        self._tracer = tracer

    def sql(self, *args, **kwargs):
        with self._tracer.span("ops.build"):
            return self._spark.sql(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._spark, name)
