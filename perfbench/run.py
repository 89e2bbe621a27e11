"""Seeded benchmark of the datastore_mapper_spark engine.

    python3 perfbench/run.py --workload olap_etl_stream --seed 1 --seconds 5 --trace 0

Run from the repository root.  One process drives ``local[nproc]`` as a
closed loop with one client: the next op starts when the previous one
has returned and been checked.  The last stdout line is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before
it (``PERFBENCH_REPORT``) holds every other figure of the run, which is
also written with the spans under ``.perfbench_work/results/``.

``--trace 0`` measures the end-to-end metrics.  ``--trace 1`` measures the
same untraced window, a second untraced window and then a traced one of
the same length in the same process, and reports the per-layer metrics
of the traced window plus the tracing overhead (traced minus second
untraced window) of each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import envinfo  # noqa: E402
from perfbench.trace import StageCollector, Tracer, attribute_stages, self_times  # noqa: E402

#: cache-hit catalog calls timed per run
WARM_CATALOG_CALLS = 5


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Op:
    __slots__ = ("i", "kind", "dur", "rows", "error")

    def __init__(self, i, kind, dur, rows=0, error=None):
        self.i, self.kind, self.dur, self.rows, self.error = i, kind, dur, rows, error


class Harness:
    """What every workload shares: the session, the tracer, the set-up
    protocol, the closed op loop and the metrics."""

    def __init__(self, workload: str, seed: int, trace: bool, root: str):
        self.seed, self.trace = seed, trace
        self.cpus = os.cpu_count() or 1
        tag = f"{workload}-s{seed}-{os.getpid()}"
        self.work = os.path.join(root, ".perfbench_work", tag)
        self.out = os.path.join(root, ".perfbench_work", "results", f"{tag}-t{int(trace)}")
        self.tracer = Tracer(trace, f"pb{os.getpid()}")
        self.spark = None
        self.setup_s = 0.0
        self.layer_setup: dict[str, list[float]] = {}
        self.notes: dict = {}
        self.t_start = time.perf_counter() - _process_age_s()
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Seconds since process start at the end of ``phase``."""
        self.phases[phase] = time.perf_counter() - self.t_start

    # -- environment -------------------------------------------------
    def configure_env(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.makedirs(self.out, exist_ok=True)
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(self.cpus),
            # the status REST API feeds the stage collector
            "SPARK_GRAFT_UI": "true" if self.trace else "false",
            # the JVM keeps its temporary files in the work directory and
            # writes no hsperfdata file to the system's temporary directory
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })

    def timed_layer(self, name: str, fn, *args, **kw):
        """Call ``fn`` in a span and keep its wall time under ``name``."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn(*args, **kw)
        self.layer_setup.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    # -- set-up ------------------------------------------------------
    def setup(self, wl) -> list[Op]:
        """From process start: build the session, generate and load the
        inputs, and run the workload's warm-up ops untimed, so that their
        cache fills and first-use costs (Python workers, staged inputs,
        generated code) land in set-up.  Returns those ops."""
        from datastore_mapper_spark.catalog import load_tables
        from datastore_mapper_spark.session import get_session

        self.spark = self.timed_layer(
            "session.get_session", get_session, "perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        paths = wl.generate(os.path.join(self.work, "inputs"))
        t_pre = time.perf_counter()
        self.notes["preread_bytes"] = envinfo.preread(paths)
        paused = time.perf_counter() - t_pre
        wl.load(self.spark)
        loaded = time.perf_counter() - self.t_start - paused
        warm = self.run_ops(wl, 0, n=wl.warmup_ops or len(wl.cycle))
        # checks between the warm-up ops are the benchmark's, not set-up
        self.setup_s = loaded + sum(o.dur for o in warm)
        # the catalog re-points its views when the directory changes, so
        # one untimed call per directory comes before its timed cache hits
        for d in wl.catalog_dirs:
            load_tables(self.spark, d)
            for _ in range(WARM_CATALOG_CALLS):
                self.timed_layer("catalog.load_tables_warm", load_tables, self.spark, d)
        return warm

    # -- measurement -------------------------------------------------
    def run_ops(self, wl, first: int, n: int | None = None, seconds: float = 0.0) -> list[Op]:
        """Closed loop from op ``first``: ``n`` ops, or else a whole
        cycle's worth of ops at a time (every kind once) until the ops
        have taken ``seconds`` of wall time.  Inputs are staged and
        results checked between ops, off the clock."""
        ops: list[Op] = []
        busy, i = 0.0, first
        while (len(ops) < n if n is not None
               else busy < seconds or len(ops) % len(wl.cycle)):
            wl.stage(i)
            self.tracer.op = i
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    kind, result = wl.op(i)
                dur = time.perf_counter() - t0
                err = wl.check(kind, result)
                rows = wl.rows(kind, result)
            except Exception as exc:  # a failed op is counted, the loop goes on
                dur = time.perf_counter() - t0
                kind, err, rows = wl.last_kind, f"{type(exc).__name__}: {exc}", 0
            self.tracer.op = None
            ops.append(Op(i, kind, dur, rows, err))
            busy += dur
            i += 1
        return ops

    def teardown(self) -> None:
        """Stop the session and the JVM and wait for every process this
        run started."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 60
        while len(envinfo.descendants(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in envinfo.descendants(os.getpid())[1:]:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def percentile_tail(lat: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples); no value with fewer than 11 samples."""
    s = sorted(lat)
    n = len(s)
    if n < 11:
        return (None, None, n)
    k = n - 11
    return (s[k], 100.0 * (k + 1) / n, n)


def e2e(ops: list[Op]) -> dict:
    """End-to-end figures of a window of whole cycles' worth of ops."""
    ok = [o for o in ops if o.error is None]
    lat = [o.dur for o in ok]
    busy = sum(o.dur for o in ops)
    tail, pct, n = percentile_tail(lat)
    by_kind: dict[str, list[float]] = {}
    for o in ok:
        by_kind.setdefault(o.kind, []).append(o.dur)
    return {
        # 0 when no op succeeded; the run then reports itself incorrect
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "ops_per_s": len(ok) / busy if busy else 0.0,
        "op_tail_s": tail, "op_tail_pct": pct, "op_samples": n,
        "rows_per_s": sum(o.rows for o in ok) / busy if busy else 0.0,
        "failed_ratio": (len(ops) - len(ok)) / len(ops) if ops else 0.0,
        "p50_by_kind_s": {k: statistics.median(v) for k, v in sorted(by_kind.items())},
        "ops_by_kind": {k: len(v) for k, v in sorted(by_kind.items())},
    }


def layer_metrics(h: Harness, ops: list[Op], wall: float) -> tuple[dict, dict]:
    """Per-layer figures of the traced window, per op, plus the span
    table (self time and Spark work per span name)."""
    spans = h.tracer.spans
    selfs = self_times(spans)
    op_ids = {o.i for o in ops}
    n_ops = max(1, len(ops))
    collector = StageCollector(h.spark.sparkContext)
    jobs, stages = collector.settled()
    by_tag = {s.tag: s.id for s in spans if s.tag}

    def owner(job):
        ids = [by_tag[t] for t in job.get("jobTags", []) if t in by_tag]
        return max(ids) if ids else None

    per_span = attribute_stages(jobs, stages, owner)
    table: dict[str, dict] = {}
    window_exec = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0,
                   "executor_cpu_ns": 0, "shuffle_read_bytes": 0,
                   "shuffle_write_bytes": 0, "spill_memory_bytes": 0, "spill_disk_bytes": 0}
    for s in spans:
        row = table.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                        "in_window": 0, **{k: 0 for k in window_exec}})
        row["calls"] += 1
        row["total_s"] += s.dur
        row["self_s"] += selfs[s.id]
        if s.op in op_ids:
            row["in_window"] += 1
            for k, v in per_span.get(s.id, {}).items():
                row[k] += v
                window_exec[k] += v
    op_wall = sum(o.dur for o in ops)
    in_layers = sum(selfs[s.id] for s in spans if s.op in op_ids and s.name != "op")

    def per_op(name: str) -> float:
        return sum(s.dur for s in spans if s.name == name and s.op in op_ids) / n_ops

    m = {
        "session.get_session_s": h.layer_setup["session.get_session"][0],
        "catalog.load_tables_cold_s": sum(h.layer_setup["catalog.load_tables_cold"]),
        "catalog.load_tables_warm_s": statistics.median(h.layer_setup["catalog.load_tables_warm"]),
        "spark.plan.prepare_s": per_op("spark.plan.prepare"),
        "spark.exec.collect_s": per_op("spark.exec.collect"),
        "spark.exec.jobs": window_exec["jobs"] / n_ops,
        "spark.exec.stages": window_exec["stages"] / n_ops,
        "spark.exec.tasks": window_exec["tasks"] / n_ops,
        "spark.exec.result_rows": sum(s.attrs.get("rows", 0) for s in spans
                                      if s.name == "spark.exec.collect" and s.op in op_ids) / n_ops,
        "spark.exec.executor_run_s": window_exec["executor_run_ms"] / 1e3 / n_ops,
        "spark.exec.executor_cpu_s": window_exec["executor_cpu_ns"] / 1e9 / n_ops,
        "spark.exec.idle_slot_share": 1.0 - (window_exec["executor_run_ms"] / 1e3) / (wall * h.cpus),
        "spark.exec.shuffle_write_bytes": window_exec["shuffle_write_bytes"] / n_ops,
        "spark.exec.shuffle_read_bytes": window_exec["shuffle_read_bytes"] / n_ops,
        "spark.exec.spill_bytes": (window_exec["spill_memory_bytes"]
                                   + window_exec["spill_disk_bytes"]) / n_ops,
        "trace.layer_share": in_layers / op_wall if op_wall else 0.0,
    }
    return m, {"spans": table, "exec_by_span": per_span, "jobs_seen": len(jobs)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "datastore_mapper_spark", "__init__.py")):
        print("perfbench: run from the repository root; datastore_mapper_spark/ "
              "is missing here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    h = Harness(args.workload, args.seed, bool(args.trace), root)
    scratch = os.path.join(root, "_scratch")
    scratch_before = set(os.listdir(scratch)) if os.path.isdir(scratch) else set()
    h.configure_env()
    env = envinfo.record(h.cpus)
    ticks = envinfo.cpu_ticks()
    try:
        wl = WORKLOADS[args.workload](h)
        warm = h.setup(wl)
        h.mark("setup")
        h.tracer.enabled = False
        ops = h.run_ops(wl, len(warm), seconds=args.seconds)
        h.mark("window")
        base = e2e(ops)
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "setup_layers_s": h.layer_setup,
                  "warmup_ops_s": sum(o.dur for o in warm), "e2e": base,
                  "workload_metrics": wl.metrics(ops)}
        attempted = len(warm) + len(ops)
        failed = sum(o.error is not None for o in warm + ops)
        if args.trace:
            # the window above holds first runs; a second untraced window,
            # as warm as the traced one after it, is the overhead's base
            uops = h.run_ops(wl, ops[-1].i + 1, seconds=args.seconds)
            h.mark("untraced_window")
            h.tracer.enabled = True
            tops = h.run_ops(wl, uops[-1].i + 1, seconds=args.seconds)
            h.mark("traced_window")
            wall = sum(o.dur for o in tops)
            traced = e2e(tops)
            layers, table = layer_metrics(h, tops, wall)
            layers.update(wl.layer_metrics(tops))
            report["layers"] = layers
            report["span_table"] = table["spans"]
            report["jobs_seen"] = table["jobs_seen"]
            untraced = e2e(uops)
            report["untraced_e2e"] = untraced
            report["traced_e2e"] = traced
            report["trace_overhead"] = {
                k: traced[k] - untraced[k] for k in ("op_p50_s", "ops_per_s", "rows_per_s")}
            h.tracer.write_jsonl(os.path.join(h.out, "spans.jsonl"), table["exec_by_span"])
            attempted += len(uops) + len(tops)
            failed += sum(o.error is not None for o in uops + tops)
            ops = ops + uops + tops
        final_errors = wl.final_check()
        env["loadavg_after"] = list(os.getloadavg())
        env["steal_share"] = envinfo.steal_share(ticks)
        report["env"] = {**env, **h.notes}
        report["errors"] = sorted({o.error for o in warm + ops if o.error}
                                  | set(final_errors))[:20]
        report["peak_rss_mb"] = envinfo.tree_peak_rss_bytes() / 2**20
    finally:
        h.teardown()
        shutil.rmtree(h.work, ignore_errors=True)
        if os.path.isdir(scratch):
            for name in set(os.listdir(scratch)) - scratch_before:
                p = os.path.join(scratch, name)
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)

    h.mark("teardown")
    report["phases_s"] = h.phases
    report["setup_s"] = h.setup_s
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in report["layers"].items()
                   if k in PER_LAYER_CONTRACT}
    else:
        metrics = {
            "setup_s": {"value": h.setup_s, "unit": "s"},
            "op_p50_s": {"value": base["op_p50_s"], "unit": "s"},
            "ops_per_s": {"value": base["ops_per_s"], "unit": "1/s"},
        }
    with open(os.path.join(h.out, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print("PERFBENCH_REPORT " + json.dumps(report, default=str))
    correct = failed == 0 and not final_errors
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


#: per-layer metrics measured on every workload (the contract line)
PER_LAYER_CONTRACT = (
    "session.get_session_s", "catalog.load_tables_cold_s", "catalog.load_tables_warm_s",
    "spark.plan.prepare_s", "spark.exec.collect_s", "spark.exec.jobs", "spark.exec.stages",
    "spark.exec.tasks", "spark.exec.result_rows", "spark.exec.executor_run_s",
    "spark.exec.executor_cpu_s", "spark.exec.idle_slot_share",
    "spark.exec.shuffle_write_bytes", "spark.exec.shuffle_read_bytes",
    "spark.exec.spill_bytes", "trace.layer_share",
)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_ratio")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
