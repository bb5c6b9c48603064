"""BENCHMARK.json agrees with the code that produces the metrics."""

import json
import os
import re

import pandas as pd

import check
import run
import tracing
from conftest import PERFBENCH, REPO
from workloads import WARMUP_OP, WORKLOADS

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def test_every_metric_name_is_well_formed():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.fullmatch(name), name
        assert len(name) <= 64 and name[0].isalnum(), name


def test_metrics_match_the_code():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in BENCH["per_layer"]] == list(tracing.MOVES)
    for m in BENCH["per_layer"]:
        assert m["unit"] == tracing.unit_of(m["name"])
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert BENCH["paths"] == [os.path.basename(PERFBENCH)]


def test_every_operation_has_an_oracle_and_a_layer():
    import __spark_entry__ as entry

    queries, oracle = entry.queries(), entry.oracle_sql()
    for w in WORKLOADS.values():
        for key in w.ops:
            assert key in queries and key in oracle, key
            assert tracing.op_layer(queries[key]) in tracing.OP_LAYERS, key


def test_pass_count_depends_on_seconds_only():
    bi, nightly = WORKLOADS["bi_queries"], WORKLOADS["nightly_load"]
    # one cold pass and at least two warm ones, so pass_s and write_mb are medians
    assert bi.passes(BENCH["run_seconds"]) >= 3 and nightly.passes(BENCH["run_seconds"]) >= 3
    assert bi.passes(1) == nightly.passes(1) == 2
    assert bi.passes(4 * bi.pass_s) == 4


def test_warmup_query_runs_in_no_workload():
    import __spark_entry__ as entry

    assert WARMUP_OP in entry.queries()
    for w in WORKLOADS.values():
        assert WARMUP_OP not in w.ops, w.name


def test_canonical_form_matches_the_oracle_harness():
    from tests.oracle_harness import canonicalize

    pdf = pd.DataFrame(
        {
            "b": [0.1, float("nan"), -0.0],
            "a": ["x", None, "z"],
            "t": pd.to_datetime(["2020-01-01 00:00:00", "1999-12-31 23:59:59.5", None], format="ISO8601"),
            "v": [[1.5, 2.0], [], [None]],
        }
    )
    assert check.canonical_rows(pdf) == canonicalize(pdf)
    zoned = pdf.assign(t=pdf["t"].dt.tz_localize("UTC"))
    assert check.canonical_rows(zoned) == canonicalize(pdf)


def test_every_metric_is_documented():
    with open(os.path.join(PERFBENCH, "METRICS.md")) as f:
        doc = f.read()
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert f"`{m['name']}`" in doc, m["name"]
