"""etl_ingest: the reference's own job (scan -> map -> sink) on a fresh
``acid_lite`` table, the only workload that writes.

One op is one ETL step, in a fixed cycle:

* ``ingest``: a ``mapper.Job`` (filter, project, map, counters) over a
  seeded event batch, written with ``rolled_write`` into a staging
  directory, then ``acid_lite.append``-ed;
* ``merge``: a CDC batch through ``merge_upsert`` (half of its keys
  already live, a tenth of them delete-flagged);
* ``delete``: a range ``delete_where`` on the key;
* ``optimize``: ``optimize_binpack`` (once per cycle);
* ``read``: a snapshot ``read`` aggregated per event type;
* ``cdf``: ``change_data_feed`` over the last three versions.

Write cost, read cost and stored bytes sit side by side, so a commit
speed-up that leaves more small files shows in the reads or in the
stored bytes.  Every step is replayed on a DuckDB model of the table;
reads, change feeds, mapper counters and the final table must match it.
"""

from __future__ import annotations

import os

import numpy as np

from .. import gen
from . import Workload

CYCLE = ("ingest", "read", "merge", "ingest", "cdf", "delete", "optimize")
BATCH = 2000           # events per ingest batch
CDC = 400              # rows per merge batch
OVERLAP = 0.5          # share of merge keys already live
DELETE_FLAGGED = 0.1   # share of merge rows that delete their key
DELETE_SPAN = 200      # keys per range delete
ROLL = 500             # max records per staged file
USERS = 150
CDF_BACK = 3
COLS = ("event_id", "user_id", "event_type", "value", "cents", "ts_us")
#: the mapper's filter, projection and map, as DuckDB SQL over one batch
MODEL_MAP = """
    SELECT event_id, user_id, event_type, value,
           CAST(floor(value * 100) AS BIGINT) AS cents,
           epoch_us(ts) AS ts_us
    FROM read_parquet('{path}') WHERE event_type != 'error'
"""


def _job():
    from pyspark.sql import functions as F

    from datastore_mapper_spark.mapper import Filter, Job, JobConfig

    def to_rows(df):
        return df.select(
            "event_id", "user_id", "event_type", "value",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))

    return Job(JobConfig(
        kind="events",
        filters=[Filter("event_type", "!=", "error")],
        projection=["event_id", "ts", "user_id", "event_type", "value"],
        mapper=to_rows,
        counters={"rows": F.count(F.lit(1)), "cents": F.sum("cents")},
    ))


class EtlIngest(Workload):
    name = "etl_ingest"
    cycle = CYCLE

    def __init__(self, h):
        super().__init__(h)
        import datastore_mapper_spark.mapper as mapper_mod

        # the mapper calls the writer internally; a pass-through wrapper
        # gives that call its own span when tracing
        real = mapper_mod.rolled_write
        tracer = self.tracer

        def rolled_write(*a, **kw):
            with tracer.span("sources.writer.rolled_write"):
                return real(*a, **kw)

        mapper_mod.rolled_write = rolled_write
        # keyed by the harness's op id (tracer.op), which the spans carry
        self.reads: list[tuple[int, int]] = []            # (op, version read)
        self.writes: list[tuple[int, int, int, int]] = []  # (op, rows, files, bytes)

    def load(self, spark) -> None:
        super().load(spark)
        # building the job's columns needs an active session
        self.job = _job()

    # -- inputs ------------------------------------------------------
    def generate(self, d: str) -> list[str]:
        import duckdb

        self.dir = d
        self.table = os.path.join(d, "table")
        self.next_id = 0
        self.version = 0
        self.user_bytes = 0
        self.model = duckdb.connect()
        self.staged: dict[int, tuple] = {}
        self.stage(0)  # the first ingest's batch, loaded by the set-up
        self.catalog_dirs = [self.staged[0][0]]
        return self.catalog_dirs

    def _batch_dir(self, i: int) -> tuple[str, int]:
        """An sf-shaped directory whose ``events`` table is the batch of
        step ``i`` (the mapper resolves its kind through the catalog),
        and the batch's Arrow bytes."""
        p = os.path.join(self.dir, f"batch{i}")
        ev = gen.events_table(self.h.seed, BATCH, USERS, stream=f"etl-batch{i}",
                              first_id=self.next_id)
        gen.write_sf_dir(p, self.h.seed, 0.001, events=ev)
        return p, ev.nbytes

    def stage(self, i: int) -> None:
        """Generate the step's input before its clock starts."""
        if i in self.staged:
            return
        kind = self.kind_at(i)
        if kind == "ingest":
            self.staged[i] = self._batch_dir(i)
        elif kind == "merge":
            self.staged[i] = (self._cdc_batch(i),)
        elif kind == "delete":
            live = self._live_keys()
            r = np.random.default_rng([self.h.seed, i + 1000, 3])
            lo = int(live[r.integers(0, len(live))])
            self.staged[i] = (lo, lo + DELETE_SPAN)

    def kind_at(self, i: int) -> str:
        return CYCLE[i % len(CYCLE)]

    def _live_keys(self) -> np.ndarray:
        return np.array([r[0] for r in self.model.execute(
            f"SELECT event_id FROM v{self.version} ORDER BY 1").fetchall()], np.int64)

    def _cdc_batch(self, i: int):
        import pyarrow as pa

        r = np.random.default_rng([self.h.seed, i + 1000, 2])
        live = self._live_keys()
        n_old = int(CDC * OVERLAP)
        old = r.choice(live, n_old, replace=False)
        new = np.arange(self.next_id, self.next_id + CDC - n_old)
        keys = np.concatenate([old, new])
        value = np.round(r.uniform(0.01, 490.0, CDC), 2)
        return pa.table({
            "event_id": pa.array(keys, pa.int64()),
            "user_id": pa.array(r.integers(0, USERS, CDC), pa.int64()),
            "event_type": pa.array(np.array(gen.EVENT_TYPES)[r.integers(0, 5, CDC)]),
            "value": pa.array(value),
            "cents": pa.array(np.floor(value * 100).astype(np.int64)),
            "ts_us": pa.array(gen.EPOCH_2024_US + r.integers(0, 30 * gen.DAY_US, CDC), pa.int64()),
            "_del": pa.array(r.random(CDC) < DELETE_FLAGGED),
        })

    # -- the op --------------------------------------------------------
    def op(self, i: int):
        from datastore_mapper_spark.catalog import load_tables
        from datastore_mapper_spark.sources import acid_lite

        kind = self.last_kind = self.kind_at(i)
        span, spark = self.tracer.span, self.spark
        arg = self.staged.pop(i, ())
        if kind == "ingest":
            src, nbytes = arg
            out = os.path.join(self.dir, "stage", os.path.basename(src))
            if self.tracer.enabled:
                with span("catalog.load_tables"):
                    load_tables(spark, src)
            with span("mapper.job_run"):
                res = self.job.run(spark, src, output_path=out, max_records_per_file=ROLL)
            with span("sources.acid_lite.append"):
                v = acid_lite.append(spark, self.table, spark.read.parquet(out))
            return kind, {"i": self.tracer.op, "version": v, "src": src, "out": out,
                          "counters": res.counters, "nbytes": nbytes}
        if kind == "merge":
            batch = arg[0]
            with span("sources.acid_lite.merge_upsert"):
                v = acid_lite.merge_upsert(spark, self.table, spark.createDataFrame(batch.to_pandas()),
                                           "event_id", delete_col="_del")
            return kind, {"version": v, "batch": batch}
        if kind == "delete":
            lo, hi = arg
            with span("sources.acid_lite.delete_where"):
                v = acid_lite.delete_where(spark, self.table, "event_id", lo, hi)
            return kind, {"version": v, "range": (lo, hi)}
        if kind == "optimize":
            with span("sources.acid_lite.optimize_binpack"):
                v = acid_lite.optimize_binpack(spark, self.table)
            return kind, {"version": v}
        from pyspark.sql import functions as F

        if kind == "read":
            self.reads.append((self.tracer.op, self.version))
            with span("sources.acid_lite.read"):
                df = acid_lite.read(spark, self.table)
            agg = df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"),
                F.sum("event_id").alias("ids"))
            return kind, {"rows": self.collect(agg)}
        frm = max(1, self.version - CDF_BACK)
        with span("sources.acid_lite.change_data_feed"):
            df = acid_lite.change_data_feed(spark, self.table, "event_id", frm)
        return kind, {"from": frm, "rows": self.collect(df)}

    # -- the model -------------------------------------------------------
    def _commit_model(self, v: int, sql: str) -> str | None:
        if v != self.version + 1:
            return f"committed version {v}, model expects {self.version + 1}"
        self.model.execute(f"CREATE TABLE v{v} AS {sql}")
        self.version = v
        return None

    def check(self, kind: str, res) -> str | None:
        m, prev = self.model, f"v{self.version}"
        if kind == "ingest":
            path = os.path.join(res["src"], "events.parquet")
            self.user_bytes += res["nbytes"]
            c = res["counters"]
            parts = [os.path.join(res["out"], f) for f in os.listdir(res["out"])
                     if f.endswith(".parquet")]
            self.writes.append((res["i"], c["rows"], len(parts),
                                sum(os.path.getsize(f) for f in parts)))
            mapped = MODEL_MAP.format(path=path)
            n, cents = m.execute(f"SELECT count(*), sum(cents) FROM ({mapped})").fetchone()
            if (c.get("rows"), c.get("cents")) != (n, cents):
                return f"mapper counters {c} != model ({n}, {cents})"
            self.next_id += BATCH
            base = f"SELECT * FROM {prev} UNION ALL " if self.version else ""
            return self._commit_model(res["version"], base + mapped)
        if kind == "merge":
            b = res["batch"]
            self.user_bytes += b.nbytes
            m.register("cdc", b)
            err = self._commit_model(res["version"], f"""
                SELECT * FROM {prev} WHERE event_id NOT IN (SELECT event_id FROM cdc)
                UNION ALL SELECT {', '.join(COLS)} FROM cdc WHERE NOT _del""")
            m.unregister("cdc")
            self.next_id += CDC - int(CDC * OVERLAP)
            return err
        if kind == "delete":
            lo, hi = res["range"]
            return self._commit_model(
                res["version"], f"SELECT * FROM {prev} WHERE event_id NOT BETWEEN {lo} AND {hi}")
        if kind == "optimize":
            return self._commit_model(res["version"], f"SELECT * FROM {prev}")
        if kind == "read":
            want = m.execute(f"""SELECT event_type, count(*), sum(cents), sum(event_id)
                                 FROM {prev} GROUP BY 1 ORDER BY 1""").fetchall()
            got = sorted(tuple(r) for r in res["rows"])
            return None if got == [tuple(w) for w in want] else f"read {got} != model {want}"
        return self._check_cdf(res["from"], res["rows"])

    def _check_cdf(self, frm: int, rows) -> str | None:
        """Inserted, deleted and updated keys between two model versions
        must match the change feed's."""
        m, a, b = self.model, f"v{frm}", f"v{self.version}"
        cols = ", ".join(COLS)
        want = set(m.execute(f"""
            SELECT event_id, 'insert' FROM {b} WHERE event_id NOT IN (SELECT event_id FROM {a})
            UNION ALL
            SELECT event_id, 'delete' FROM {a} WHERE event_id NOT IN (SELECT event_id FROM {b})
            UNION ALL
            SELECT event_id, 'update_postimage' FROM
              (SELECT {cols} FROM {b} EXCEPT SELECT {cols} FROM {a})
              WHERE event_id IN (SELECT event_id FROM {a})
            UNION ALL
            SELECT event_id, 'update_preimage' FROM
              (SELECT {cols} FROM {a} EXCEPT SELECT {cols} FROM {b})
              WHERE event_id IN (SELECT event_id FROM {b})""").fetchall())
        got = [(r["event_id"], r["_change_type"]) for r in rows]
        if len(got) != len(set(got)) or set(got) != want:
            return f"change feed from v{frm}: {len(got)} changes, model {len(want)}"
        return None

    def rows(self, kind: str, res) -> int:
        if kind == "ingest":
            return res["counters"].get("rows", 0)
        if kind == "merge":
            return res["batch"].num_rows
        return 0

    def final_check(self) -> list[str]:
        """The whole final snapshot against the model."""
        from datastore_mapper_spark.sources import acid_lite
        from datastore_mapper_spark.testing import canon_rows

        got = acid_lite.read(self.spark, self.table).select(*COLS).collect()
        cur = self.model.execute(f"SELECT {', '.join(COLS)} FROM v{self.version}")
        want = cur.fetchall()
        if canon_rows(list(COLS), [tuple(r) for r in got]) != canon_rows(list(COLS), want):
            return [f"final snapshot: {len(got)} rows differ from the model's {len(want)}"]
        return []

    def metrics(self, ops) -> dict:
        import statistics

        writes = [o.dur for o in ops if o.error is None and o.kind in
                  ("ingest", "merge", "delete", "optimize")]
        reads = [o.dur for o in ops if o.error is None and o.kind in ("read", "cdf")]
        return {
            "commit_p50_s": statistics.median(writes) if writes else None,
            "read_p50_s": statistics.median(reads) if reads else None,
            "bytes_stored_per_user_byte": gen.file_bytes(self.table) / self.user_bytes,
        }

    def layer_metrics(self, ops) -> dict:
        from datastore_mapper_spark.sources import acid_lite

        ids = {o.i for o in ops}
        spans = [s for s in self.tracer.spans if s.op in ids]
        n = max(1, len(ops))
        m = {}
        for name in ("mapper.job_run", "sources.writer.rolled_write",
                     "sources.acid_lite.append", "sources.acid_lite.merge_upsert",
                     "sources.acid_lite.delete_where", "sources.acid_lite.optimize_binpack",
                     "sources.acid_lite.read", "sources.acid_lite.change_data_feed"):
            durs = [s.dur for s in spans if s.name == name]
            m[f"{name}_s"] = sum(durs) / n
            m[f"{name}_p50_s"] = float(np.median(durs)) if durs else None
        hist = acid_lite.describe_history(self.table)
        files_at = {h["version"]: h["n_files"] for h in hist}
        reads = [files_at[v] for i, v in self.reads if i in ids]
        writes = [w for w in self.writes if w[0] in ids]
        m["mapper.rows_out"] = sum(w[1] for w in writes) / n
        m["sources.writer.files_written"] = sum(w[2] for w in writes) / n
        m["sources.writer.bytes_written"] = sum(w[3] for w in writes) / n
        m["sources.acid_lite.files_per_read"] = float(np.mean(reads)) if reads else None
        m["sources.acid_lite.files_live"] = hist[0]["n_files"]
        data_files = sum(f.endswith(".parquet") for _r, _d, fs in os.walk(self.table) for f in fs)
        m["sources.acid_lite.files_added"] = data_files / len(hist)
        m["sources.acid_lite.versions"] = len(hist)
        m["sources.acid_lite.bytes_written_per_user_byte"] = (
            gen.file_bytes(self.table) / self.user_bytes)
        return m
