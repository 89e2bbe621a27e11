"""The benchmark's workloads.  Each stresses different layers of
``datastore_mapper_spark``; see ``perfbench/README.md`` for why each was
chosen and which end-to-end metric each layer should move."""

from __future__ import annotations


class Workload:
    """One op at a time: ``op(i)`` returns ``(kind, result)`` and is the
    only timed call; ``stage`` runs before it and ``check`` and ``rows``
    after it, off the clock.  Op ``i`` is of kind ``cycle[i % len(cycle)]``.
    Ops ``0 .. warmup_ops - 1`` are the set-up's warm-up; the timed window
    then runs a whole cycle's worth of ops at a time, so every kind runs
    once per cycle."""

    name = ""
    #: the kinds of op in one cycle of the workload, in order
    cycle: tuple[str, ...] = ()
    #: untimed ops in the set-up; None is one whole cycle
    warmup_ops: int | None = None

    def __init__(self, h):
        self.h = h
        self.tracer = h.tracer
        self.catalog_dirs: list[str] = []
        self.last_kind = "?"

    @property
    def spark(self):
        return self.h.spark

    def generate(self, d: str) -> list[str]:
        raise NotImplementedError

    def load(self, spark) -> None:
        from datastore_mapper_spark.catalog import load_tables

        for d in self.catalog_dirs:
            self.h.timed_layer("catalog.load_tables_cold", load_tables, spark, d)

    def stage(self, i: int) -> None:
        """Untimed preparation of op ``i``'s input, just before it runs."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, kind: str, result) -> str | None:
        return None

    def rows(self, kind: str, result) -> int:
        return 0

    def metrics(self, ops) -> dict:
        """Workload-specific end-to-end figures for the report."""
        return {}

    def layer_metrics(self, ops) -> dict:
        """Workload-specific per-layer figures of the traced window."""
        return {}

    def final_check(self) -> list[str]:
        return []

    # -- helpers shared by the workloads --------------------------------
    def collect(self, df):
        """Collect ``df``; when tracing, force the physical plan first so
        planning and execution land in separate spans."""
        if self.tracer.enabled:
            with self.tracer.span("spark.plan.prepare"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("spark.exec.collect") as s:
            rows = df.collect()
            if s is not None:
                s.attrs["rows"] = len(rows)
        return rows


class Interleaved(Workload):
    """The cycles of several workloads run as one cycle: ``order`` lists
    a part per slot, and each slot runs that part's next op.  Each part
    sees its own op numbers (``0, 1, ...`` over its own cycles), so it
    stages, seeds and checks exactly as it would alone."""

    def __init__(self, h, name: str, parts: list[Workload], order: list[Workload]):
        super().__init__(h)
        self.name, self.parts = name, parts
        #: cycle position -> (part, position in the part's cycle)
        self.slots = [(p, order[:n].count(p)) for n, p in enumerate(order)]
        self.cycle = tuple(p.cycle[k] for p, k in self.slots)
        self.owner = {k: p for p in parts for k in p.cycle}

    def _route(self, i: int):
        c, k = divmod(i, len(self.slots))
        part, pos = self.slots[k]
        return part, c * len(part.cycle) + pos

    def generate(self, d: str) -> list[str]:
        paths = [q for p in self.parts for q in p.generate(f"{d}/{p.name}")]
        self.catalog_dirs = [c for p in self.parts for c in p.catalog_dirs]
        return paths

    def load(self, spark) -> None:
        for p in self.parts:
            p.load(spark)

    def stage(self, i: int) -> None:
        part, j = self._route(i)
        part.stage(j)

    def op(self, i: int):
        part, j = self._route(i)
        try:
            return part.op(j)
        finally:
            self.last_kind = part.last_kind

    def check(self, kind: str, result):
        return self.owner[kind].check(kind, result)

    def rows(self, kind: str, result) -> int:
        return self.owner[kind].rows(kind, result)

    def metrics(self, ops) -> dict:
        return {k: v for p in self.parts
                for k, v in p.metrics([o for o in ops if self.owner.get(o.kind) is p]).items()}

    def layer_metrics(self, ops) -> dict:
        return {k: v for p in self.parts
                for k, v in p.layer_metrics([o for o in ops if self.owner.get(o.kind) is p]).items()}

    def final_check(self) -> list[str]:
        return [e for p in self.parts for e in p.final_check()]


from .etl_ingest import EtlIngest  # noqa: E402
from .llm_dedup import LlmDedup  # noqa: E402
from .olap_mix import OlapMix  # noqa: E402
from .stream_sessionize import StreamSessionize  # noqa: E402


def olap_etl_stream(h) -> Interleaved:
    """One stream replay, then one pass of the 33 queries with an ETL
    step after every fifth query and the remaining ETL steps after the
    pass.

    The set-up's warm-up is the replay alone, which stages the stream's
    input and starts its Python workers.  An untimed pass of the queries
    and ETL steps as well would add a cold pass, about 40 s on a 4-core
    host, to every run; the timed window therefore holds each query's and
    ETL step's first run."""
    olap, etl, stream = OlapMix(h), EtlIngest(h), StreamSessionize(h)
    order: list[Workload] = [stream]
    for q in range(len(olap.cycle)):
        order.append(olap)
        if q % 5 == 4:
            order.append(etl)
    order += [etl] * (len(etl.cycle) - order.count(etl))
    wl = Interleaved(h, "olap_etl_stream", [olap, etl, stream], order)
    wl.warmup_ops = 1
    return wl


WORKLOADS = {"olap_etl_stream": olap_etl_stream, "llm_dedup": LlmDedup}
