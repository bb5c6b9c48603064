"""Tracing for the per-layer run (``--trace 1``).

Everything here observes the program from outside:

- spans around calls into the program's public functions, installed by
  rebinding every module-level reference to them (many modules import
  ``load_table`` by name, so patching its home module alone misses
  them);
- one Spark job group per operation phase (``p{pass}.{op}.build`` and
  ``.sink``), so the event log attributes jobs, stages and tasks to
  operations;
- the Spark event log, enabled through ``PYSPARK_SUBMIT_ARGS`` by the
  runner, parsed after the session stops;
- a ``StreamingQueryListener`` for micro-batch progress.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

import stats

PKG = "proceso_de_etl_spark"

# the program's layers that own the benchmark's operations
OP_LAYERS = (
    "plans",
    "operators.etl",
    "streaming",
    "operators.text_analysis",
    "operators.dedup",
    "operators.similarity",
    "operators.multimodal",
    "operators.pipeline",
)

# (module, function, layer, span name): public functions wrapped from outside
WRAPPED = (
    (f"{PKG}.session", "get_spark", "session", "get_spark"),
    (f"{PKG}.sources.catalog", "load_table", "sources", "load_table"),
    (f"{PKG}.sources.atomic", "atomic_write_tables", "sources", "write"),
    (f"{PKG}.sources.io", "write_parquet", "sources", "write"),
    (f"{PKG}.cachereg", "memo", "cachereg", "memo"),
)

# per-layer metric -> (end-to-end metric it should move, workload)
MOVES = {
    "session.start_s": ("setup_s", "all"),
    "session.jobs": ("op_p50_s", "bi_queries"),
    "session.stages": ("op_p50_s", "bi_queries"),
    "session.tasks": ("op_p50_s", "bi_queries"),
    "session.sched_wait_s": ("op_p50_s", "bi_queries"),
    "session.busy_share": ("pass_s", "all"),
    "session.task_run_s": ("pass_s", "nightly_load"),
    "session.task_cpu_s": ("pass_s", "nightly_load"),
    "session.shuffle_write_mb": ("pass_s", "nightly_load"),
    "session.shuffle_read_mb": ("pass_s", "nightly_load"),
    "session.spill_mb": ("pass_s", "nightly_load"),
    "session.gc_s": ("first_pass_s", "nightly_load"),
    "session.stage_skew": ("op_p50_s", "nightly_load"),
    "session.failed_tasks": ("ok_share", "all"),
    "session.cached_mb": ("peak_rss_mb", "nightly_load"),
    "sources.load_table_calls": ("op_p50_s", "bi_queries"),
    "sources.load_table_s": ("op_p50_s", "bi_queries"),
    "sources.rows_read_per_result_row": ("op_p50_s", "bi_queries"),
    "sources.input_mb": ("pass_s", "nightly_load"),
    "sources.input_rows": ("pass_s", "nightly_load"),
    "sources.write_s": ("pass_s", "nightly_load"),
    "sources.commit_s": ("pass_s", "nightly_load"),
    "sources.output_mb": ("write_mb", "nightly_load"),
    "sources.files_written": ("write_mb", "nightly_load"),
    "sources.self_s": ("pass_s", "all"),
    "streaming.batches": ("pass_s", "nightly_load"),
    "streaming.batch_p50_s": ("pass_s", "nightly_load"),
    "streaming.input_rows": ("pass_s", "nightly_load"),
    "streaming.state_rows": ("pass_s", "nightly_load"),
    "cachereg.memo_calls": ("pass_s", "all"),
    "cachereg.hit_ratio": ("pass_s", "all"),
    "operators.multimodal.python_mb": ("pass_s", "nightly_load"),
    "trace.pass_s": ("pass_s", "all"),
    "trace.overhead_s": ("pass_s", "all"),
}
for _m in OP_LAYERS:
    _where = "bi_queries" if _m in ("plans", "operators.pipeline") else "nightly_load"
    MOVES[f"{_m}.build_s"] = ("op_p50_s", _where)
    MOVES[f"{_m}.eager_jobs"] = ("op_p50_s", _where)
    MOVES[f"{_m}.exec_s"] = ("pass_s", _where)
    MOVES[f"{_m}.self_s"] = ("pass_s", _where)

UNITS = {"_s": "s", "_mb": "MB", "_share": "ratio", "_ratio": "ratio", "_row": "ratio", "_skew": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def op_layer(fn) -> str:
    """``proceso_de_etl_spark.plans.tpch`` -> ``plans``,
    ``...operators.etl`` -> ``operators.etl``, ``...streaming.jobs`` ->
    ``streaming``."""
    parts = fn.__module__.split(".")[1:]
    return parts[0] if parts[0] in ("plans", "streaming") else ".".join(parts[:2])


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self.active = True
        self.progress: list[dict] = []
        self.cached_bytes: list[int] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "op": self.op,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self.stack.append(rec["id"])
        try:
            yield rec
        finally:
            self.stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _wrap_memo(self, fn):
        from proceso_de_etl_spark import cachereg

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            before = len(cachereg._CACHE)
            with self.span("memo", "cachereg") as rec:
                out = fn(*args, **kwargs)
            rec["hit"] = len(cachereg._CACHE) == before  # a miss adds an entry
            return out

        return traced

    def install(self) -> None:
        """Rebind every module-level reference to the wrapped functions."""
        for modname, attr, layer, name in WRAPPED:
            orig = getattr(importlib.import_module(modname), attr)
            wrapped = self._wrap_memo(orig) if name == "memo" else self._wrap(orig, layer, name)
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "")
                if mname == "__spark_entry__" or mname.startswith(PKG):
                    for key, val in list(vars(mod).items()):
                        if val is orig:
                            setattr(mod, key, wrapped)
        from proceso_de_etl_spark.sources.atomic import AtomicBatchWriter

        AtomicBatchWriter.commit = self._wrap(AtomicBatchWriter.commit, "sources", "commit")

    # -- operation phases --------------------------------------------------

    @contextmanager
    def phase(self, spark, pass_no: int, key: str, layer: str, phase: str):
        if not self.active:
            yield
            return
        self.op = f"p{pass_no}.{key}"
        spark.sparkContext.setJobGroup(f"{self.op}.{phase}", f"{key} {phase}")
        try:
            with self.span(phase, layer):
                yield
        finally:
            spark.sparkContext.setJobGroup("perfbench.idle", "between operations")
            self.op = None

    def end_pass(self, spark) -> None:
        if not self.active:
            return
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.cached_bytes.append(sum(i.memSize() + i.diskSize() for i in infos))

    # -- streaming ---------------------------------------------------------

    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {
                        "id": str(p.id),
                        "ts": p.timestamp,
                        "batch_s": p.batchDuration / 1000.0,
                        "rows": p.numInputRows,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    # -- the untraced reference pass ----------------------------------------

    def pause(self, spark) -> bool:
        """Stop tracing: wrappers pass through, no job groups, and the
        event-log listener leaves the listener bus. True if the event
        log could be detached."""
        self.active = False
        sc = spark.sparkContext._jsc.sc()
        logger = sc.eventLogger()
        if logger.isDefined():
            sc.removeSparkListener(logger.get())
            return True
        return False

    # -- results -----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "streaming": self.progress}, f)


def read_event_log(events_dir: str, app_id: str) -> list[dict]:
    paths = glob.glob(os.path.join(events_dir, f"{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {events_dir}")
    with open(paths[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _accum_names(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _accum_names(child, out)


def layer_metrics(
    events: list[dict],
    tracer: Tracer,
    warm: list[int],
    warm_windows: list[tuple[float, float]],
    op_layers: dict[str, str],
    result_rows: int,
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics of the warm passes: sums are means per warm pass."""
    nw = len(warm)
    warm_prefixes = tuple(f"p{p}." for p in warm)

    def is_warm(tag: str | None) -> bool:
        return bool(tag) and tag.startswith(warm_prefixes)

    def op_of(group: str) -> str:
        return group.split(".")[1]  # p<pass>.<op>.<phase>

    # jobs, stages and SQL executions -> job group
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    job_groups: list[str] = []
    stage_submit: dict[int, int] = {}
    stages_done: list[int] = []
    accum_names: dict[int, str] = {}
    driver_accums: list[tuple[int, int, int]] = []
    tasks: list[dict] = []
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            job_groups.append(group)
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerStageCompleted":
            stages_done.append(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _accum_names(ev.get("sparkPlanInfo", {}), accum_names)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for acc in ev.get("sqlPlanMetrics", ()):
                accum_names[acc["accumulatorId"]] = acc["name"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", ()):
                driver_accums.append((ev["executionId"], acc_id, value))

    tot: dict[str, float] = dict.fromkeys(MOVES, 0.0)
    tot["session.jobs"] = sum(map(is_warm, job_groups))
    tot["session.stages"] = sum(is_warm(stage_group.get(s)) for s in set(stages_done))
    per_stage: dict[int, list[float]] = defaultdict(list)
    for ev in tasks:
        sid = ev["Stage ID"]
        group = stage_group.get(sid)
        if not is_warm(group):
            continue
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        run_s = tm.get("Executor Run Time", 0) / 1e3
        per_stage[sid].append(run_s)
        sr = tm.get("Shuffle Read Metrics", {})
        inp = tm.get("Input Metrics", {})
        tot["session.tasks"] += 1
        tot["session.failed_tasks"] += bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success"
        tot["session.sched_wait_s"] += max(0, info["Launch Time"] - stage_submit.get(sid, info["Launch Time"])) / 1e3
        tot["session.task_run_s"] += run_s
        tot["session.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        tot["session.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        tot["session.spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 1e6
        tot["session.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
        tot["session.shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
        tot["sources.input_mb"] += inp.get("Bytes Read", 0) / 1e6
        tot["sources.input_rows"] += inp.get("Records Read", 0)
        tot["sources.output_mb"] += tm.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6
        if op_layers.get(op_of(group)) == "operators.multimodal":
            for acc in info.get("Accumulables", ()):
                if acc.get("Name") in ("data sent to Python workers", "data returned from Python workers"):
                    tot["operators.multimodal.python_mb"] += float(acc.get("Update", 0)) / 1e6
    for acc_exec, acc_id, value in driver_accums:
        if accum_names.get(acc_id) == "number of written files" and is_warm(exec_group.get(acc_exec)):
            tot["sources.files_written"] += value
    for g in job_groups:
        if is_warm(g) and g.endswith(".build"):
            tot[f"{op_layers[op_of(g)]}.eager_jobs"] += 1

    # spans: build/sink phases per operation layer; sources and cachereg calls
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in tracer.spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    name_of = {s["id"]: s["name"] for s in tracer.spans}
    memo_hits = 0
    for s in tracer.spans:
        if not is_warm(s["op"]):
            continue
        dur = s["end"] - s["start"]
        tot[f"{s['layer']}.self_s"] += stats.self_time(s["start"], s["end"], children[s["id"]])
        name = s["name"]
        if name == "build":
            tot[f"{s['layer']}.build_s"] += dur
        elif name == "sink":
            tot[f"{s['layer']}.exec_s"] += dur
        elif name == "load_table":
            tot["sources.load_table_calls"] += 1
            tot["sources.load_table_s"] += dur
        elif name == "write" and name_of.get(s["parent"]) != "write":
            tot["sources.write_s"] += dur
        elif name == "commit":
            tot["sources.commit_s"] += dur
        elif name == "memo":
            tot["cachereg.memo_calls"] += 1
            memo_hits += s["hit"]

    # streaming progress inside the warm windows (wall-clock epochs)
    batch_s, state_last = [], {}
    for p in tracer.progress:
        t = datetime.fromisoformat(p["ts"].replace("Z", "+00:00")).timestamp()
        if any(a <= t <= b for a, b in warm_windows):
            batch_s.append(p["batch_s"])
            tot["streaming.input_rows"] += p["rows"]
            state_last[p["id"]] = p["state_rows"]
    tot["streaming.batches"] = len(batch_s)
    tot["streaming.state_rows"] = sum(state_last.values())

    m = {k: v / nw for k, v in tot.items()}
    # ratios and maxima, not sums
    skews = [max(xs) / statistics.median(xs) for xs in per_stage.values() if len(xs) > 1 and statistics.median(xs) > 0]
    m["session.stage_skew"] = max(skews, default=1.0)
    m["session.busy_share"] = tot["session.task_run_s"] / (sum(b - a for a, b in warm_windows) * cores)
    m["sources.rows_read_per_result_row"] = tot["sources.input_rows"] / max(1, result_rows)
    m["streaming.batch_p50_s"] = statistics.median(batch_s) if batch_s else 0.0
    m["cachereg.hit_ratio"] = memo_hits / tot["cachereg.memo_calls"] if tot["cachereg.memo_calls"] else 0.0
    m["session.cached_mb"] = max(tracer.cached_bytes, default=0) / 1e6
    return m
