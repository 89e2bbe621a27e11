"""stream_sessionize: the registry query ``stream_sessionize_stateful``,
one replay per op, over generated session-shaped events.

The replay goes through ``streaming``: a file source staged as three
micro-batch files, ``applyInPandasWithState`` with event-time timeouts,
the state store and a memory sink, then a batch aggregate over the sink.
The seed sets the user count and the gaps within sessions.  Each op's
per-user session figures must equal the query's registry oracle, run in
DuckDB on the same directory.

When tracing, a ``StreamingQueryListener`` collects each replay's
micro-batch progress (batches, ``addBatch`` and trigger time, state rows
and state memory).
"""

from __future__ import annotations

import json
import time

from .. import gen
from . import Workload

QUERY = "stream_sessionize_stateful"
EVENTS = 5000


class _Progress:
    """A streaming query listener that keeps each replay's micro-batch
    progress, keyed by the op that started it.  The start event reaches
    listeners before ``start()`` returns; progress and termination
    events follow in order on the listener bus.

    It takes the JVM's events as they are: PySpark's own listener
    wrapper fails to convert a start event whose query carries job tags,
    and the tracer's spans set them."""

    def __init__(self, spark, tracer):
        from pyspark.java_gateway import ensure_callback_server_started

        self.tracer = tracer
        self.op_of: dict[str, int | None] = {}
        self.batches: list[dict] = []
        self.done: set[str] = set()
        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        spark._jsparkSession.streams().addListener(
            sc._jvm.org.apache.spark.sql.streaming.PythonStreamingQueryListenerWrapper(self))

    def onQueryStarted(self, event):
        self.op_of[event.runId().toString()] = self.tracer.op

    def onQueryProgress(self, event):
        self.batches.append(json.loads(event.progress().json()))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.done.add(event.runId().toString())

    class Java:
        implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until every replay's termination event has arrived."""
        deadline = time.monotonic() + timeout
        while set(self.op_of) - self.done and time.monotonic() < deadline:
            time.sleep(0.05)


class StreamSessionize(Workload):
    name = "stream_sessionize"
    cycle = ("stream_sessionize",)

    def __init__(self, h):
        super().__init__(h)
        from datastore_mapper_spark.registry import all_queries

        self.spec = all_queries()[QUERY]
        self.progress = None

    def generate(self, d: str) -> list[str]:
        from datastore_mapper_spark.testing import canon_rows, duckdb_oracle_connection

        self.events = gen.session_events(self.h.seed, EVENTS)
        self.dir = gen.write_sf_dir(d, self.h.seed, 0.001, events=self.events)
        cur = duckdb_oracle_connection(self.dir).execute(self.spec.oracle)
        cols = [c[0] for c in cur.description]
        self.oracle = (sorted(cols), canon_rows(cols, cur.fetchall()))
        # the replay reads events.parquet itself, not through the catalog
        return [self.dir]

    def stage(self, i: int) -> None:
        if self.tracer.enabled and self.progress is None:
            self.progress = _Progress(self.spark, self.tracer)

    def op(self, i: int):
        self.last_kind = self.cycle[0]
        with self.tracer.span("streaming.replay", query=QUERY):
            df = self.spec.fn(self.spark, self.dir)
        return self.last_kind, (df.columns, self.collect(df))

    def check(self, kind: str, result) -> str | None:
        from datastore_mapper_spark.testing import canon_rows

        cols, rows = result
        ocols, orows = self.oracle
        if sorted(cols) != ocols:
            return f"{QUERY}: columns {sorted(cols)} != oracle {ocols}"
        if canon_rows(cols, [tuple(r) for r in rows]) != orows:
            return f"{QUERY}: {len(rows)} rows differ from the oracle's {len(orows)}"
        return None

    def rows(self, kind: str, result) -> int:
        return self.events.num_rows

    def layer_metrics(self, ops) -> dict:
        ids = {o.i for o in ops}
        n = max(1, len(ops))
        if self.progress is None:
            return {}
        self.progress.settle()
        mine = [b for b in self.progress.batches if self.progress.op_of.get(b["runId"]) in ids]
        state = [[s[k] for s in b.get("stateOperators", [])]
                 for b in mine for k in ("numRowsTotal", "memoryUsedBytes")]
        return {
            "streaming.replay_s": sum(s.dur for s in self.tracer.spans
                                      if s.name == "streaming.replay" and s.op in ids) / n,
            "streaming.batches": len(mine) / n,
            "streaming.add_batch_s": sum(b["durationMs"].get("addBatch", 0)
                                         for b in mine) / 1e3 / n,
            "streaming.trigger_s": sum(b["durationMs"].get("triggerExecution", 0)
                                       for b in mine) / 1e3 / n,
            # the largest state held after any micro-batch of the window
            "streaming.state_rows_total": max(map(sum, state[0::2]), default=0),
            "streaming.state_memory_bytes": max(map(sum, state[1::2]), default=0),
        }
