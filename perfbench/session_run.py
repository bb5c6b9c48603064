"""One benchmark session, run in a fresh process by ``run.py``.

Usage: python3 perfbench/session_run.py <plan.json>

Sets up the Spark session (``get_spark()`` and one warm-up query, in
the JVM this process launches), runs the workload's passes for the
plan's seconds, and writes every timing to the plan's result file. The runner checks the
outputs and computes the metrics after this process has exited.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import nullcontext

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import tracing  # noqa: E402
from workloads import WARMUP_OP, WORKLOADS  # noqa: E402


def proc_field(pid: int | str, name: str, field: str) -> int:
    """An integer field of /proc/<pid>/<name> (first number after the key)."""
    with open(f"/proc/{pid}/{name}") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(f"{field} not in /proc/{pid}/{name}")


def main(plan_path: str) -> None:
    with open(plan_path) as f:
        plan = json.load(f)
    sys.path.insert(0, plan["repo"])
    workload = WORKLOADS[plan["workload"]]
    input_dir, out_root = plan["input_dir"], plan["out_dir"]

    from proceso_de_etl_spark import session as session_mod

    import __spark_entry__ as entry

    queries = entry.queries()
    tracer = tracing.Tracer() if plan["trace"] else None
    if tracer:
        tracer.install()

    # set-up: from the spawn of this process (by the runner) to the end
    # of the warm-up query, JVM launch included
    spark = session_mod.get_spark()
    queries[WARMUP_OP](spark, input_dir).toPandas()
    setup_s = time.time() - plan["t_spawn"]
    jvm = spark.sparkContext._gateway.proc.pid
    if tracer:
        tracer.listen(spark)

    layers = {k: tracing.op_layer(queries[k]) for k in workload.ops}
    rng = np.random.default_rng([plan["seed"], 2])
    records: list[dict] = []
    passes: list[dict] = []

    def run_pass(p: int, trace_on: bool) -> None:
        order = [workload.ops[i] for i in rng.permutation(len(workload.ops))] if workload.shuffled else workload.ops
        frames: list[tuple[dict, object]] = []
        wb0 = proc_field(jvm, "io", "write_bytes")
        w0, t0 = time.time(), time.perf_counter()
        phase = tracer.phase if (tracer and trace_on) else (lambda *a: nullcontext())
        for key in order:
            rec = {"pass": p, "op": key}
            ts = time.perf_counter()
            try:
                with phase(spark, p, key, layers[key], "build"):
                    df = queries[key](spark, input_dir)
                tb = time.perf_counter()
                with phase(spark, p, key, layers[key], "sink"):
                    if workload.sink == "collect":
                        pdf = df.toPandas()
                    else:
                        rec["out"] = os.path.join(out_root, f"p{p}-{key}")
                        df.write.parquet(rec["out"])
                te = time.perf_counter()
                rec.update(build_s=tb - ts, sink_s=te - tb, latency_s=te - ts)
                if workload.sink == "collect":
                    rec["rows"] = len(pdf)
                    frames.append((rec, pdf))
            except Exception as e:  # a failing operation is counted, not fatal
                rec.update(latency_s=time.perf_counter() - ts, error=f"{type(e).__name__}: {e}"[:500])
            records.append(rec)
        passes.append(
            {
                "pass": p,
                "wall_s": time.perf_counter() - t0,
                "window": [w0, time.time()],
                "write_bytes": proc_field(jvm, "io", "write_bytes") - wb0,
            }
        )
        if tracer and trace_on:
            tracer.end_pass(spark)
        # untimed: digest the collected results, then let them go
        for rec, pdf in frames:
            rec["digest"] = check.digest(pdf)

    measured = workload.passes(plan["seconds"])
    for p in range(measured):
        run_pass(p, trace_on=True)

    result = {
        "setup_s": setup_s,
        "passes": passes,
        "records": records,
        "peak_rss_kb": proc_field(jvm, "status", "VmHWM") + proc_field("self", "status", "VmHWM"),
        "cores": spark.sparkContext.defaultParallelism,
        "measured": measured,
    }
    if tracer:
        # one more warm pass with tracing off gives the tracing overhead
        result["event_log_detached"] = tracer.pause(spark)
        run_pass(measured, trace_on=False)
        app_id = spark.sparkContext.applicationId
    spark.stop()

    if tracer:
        warm = list(range(1, measured))
        events = tracing.read_event_log(plan["events_dir"], app_id)
        result_rows = sum(r.get("rows", 0) for r in records if r["pass"] in warm)
        if workload.sink == "parquet":
            result_rows = sum(
                len(check.read_output(r["out"])) for r in records if r["pass"] in warm and "out" in r
            )
        metrics = tracing.layer_metrics(
            events,
            tracer,
            warm,
            [tuple(passes[p]["window"]) for p in warm],
            layers,
            result_rows,
            result["cores"],
        )
        start = [s for s in tracer.spans if s["name"] == "get_spark"]
        metrics["session.start_s"] = start[0]["end"] - start[0]["start"]
        traced_pass = float(np.median([passes[p]["wall_s"] for p in warm]))
        metrics["trace.pass_s"] = traced_pass
        metrics["trace.overhead_s"] = traced_pass - passes[measured]["wall_s"]
        result["layers"] = metrics
        tracer.dump(plan["spans_path"])

    with open(plan["result_path"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
