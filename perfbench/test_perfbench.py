"""Fast tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
from collections import Counter, namedtuple

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import changelog  # noqa: E402
import eventlog  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402
from tracing import Tracer, self_times  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_sample.jsonl")
QID = "2c935b44-969e-42dc-81aa-8bc226b3ee54"
UP, DOWN = "212eccec", "8f82ff5e"
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# --- event log ---------------------------------------------------------------


def parsed():
    return eventlog.parse(eventlog.read_events(FIXTURE))


def test_parse_fixture_jobs_and_stage_metrics():
    jobs, stages = parsed()
    assert [j["id"] for j in jobs] == [0, 70, 88, 95, 124, 146]
    by_id = {s["id"]: s for s in stages}
    assert by_id[216]["tasks"] == 2 and by_id[216]["run_ms"] == 222
    assert by_id[216]["shuffle_write"] == 1308
    assert by_id[127]["shuffle_read"] == 5593
    assert sum(s["tasks"] for s in stages) == 8


def test_batch_and_phase_attribution():
    jobs, stages = parsed()
    batches = [{"batch": 1, "progress": {"query_id": QID, "batch_id": 0}},
               {"batch": 2, "progress": {"query_id": QID, "batch_id": 1}},
               {"batch": 3}]  # never committed: no progress record
    att = eventlog.attribute_batches(jobs, stages, batches, {UP: "up", DOWN: "down"})
    per_batch, by_phase = att["per_batch"], att["by_phase"]
    assert {b: r["jobs"] for b, r in per_batch.items()} == {1: 4, 2: 1}
    assert att["reconciliation"] == {"jobs_total": 6, "jobs_setup": 1, "jobs_attributed": 5,
                                     "ok": True}
    assert set(by_phase) == {
        (1, "up", "join_fold"), (1, "up", "topk"), (1, "down", "join_fold"),
        (2, "up", "state_write"),  # state_write:nation rolled up
    }
    assert by_phase[(2, "up", "state_write")]["executor_run_s"] == pytest.approx(0.222)
    assert by_phase[(2, "up", "state_write")]["shuffle_write_mb"] == pytest.approx(1308 / eventlog.MB)
    # a batch-tagged job of a micro-batch the listener never reported breaks it
    att = eventlog.attribute_batches(jobs, stages, batches[:1], {})
    assert not att["reconciliation"]["ok"]


def test_phase_of_and_batch_of():
    assert eventlog.phase_of({"spark.jobGroup.id": "ivm_ab12_state_write:orders_7"}) == (
        "ab12", "state_write")
    assert eventlog.phase_of({"spark.jobGroup.id": "ivm_ab12_emit_pre_3"}) == ("ab12", "emit_pre")
    assert eventlog.phase_of({"spark.jobGroup.id": "2c935b44-969e-42dc"}) is None
    assert eventlog.phase_of({}) is None
    assert eventlog.batch_of({"sql.streaming.queryId": "q", "streaming.sql.batchId": "3"}) == ("q", 3)
    assert eventlog.batch_of({"streaming.sql.batchId": "3"}) is None


def test_window_key_assigns_sequential_work():
    jobs, stages = parsed()
    t70 = next(j["submit_ms"] for j in jobs if j["id"] == 70) / 1000.0
    key = eventlog.window_key([(t70 - 1.0, t70 + 0.0005, "a"), (t70 + 0.01, t70 + 100, "b")])
    r = eventlog.rollup(jobs, stages, key)
    assert r["a"]["jobs"] == 1
    assert r["a"]["jobs"] + r["b"]["jobs"] + 1 == len(jobs)  # job 0 ran long before


def test_window_attribution_reconciles_with_json_labels():
    jobs, stages = parsed()
    t0 = jobs[0]["submit_ms"] / 1000.0
    t70 = next(j["submit_ms"] for j in jobs if j["id"] == 70) / 1000.0
    # labels as they come back from result.json: lists, not tuples
    windows = [[t70 - 0.0005, t70 + 0.0005, ["q", 0]], [t70 + 0.01, t70 + 100, ["q", 1]]]
    att = eventlog.attribute_windows(jobs, stages, windows, [[t0 - 1, t0 + 0.0005, "ingest"]])
    assert att["per_exec"][("q", 0)]["jobs"] == 1
    assert att["setup"]["ingest"]["jobs"] == 1
    assert att["reconciliation"]["ok"]
    att = eventlog.attribute_windows(jobs, stages, windows, [])
    assert att["reconciliation"]["jobs_setup"] == 0 and not att["reconciliation"]["ok"]


def test_torn_last_line_is_skipped(tmp_path):
    p = tmp_path / "app"
    with open(FIXTURE) as f:
        text = f.read()
    p.write_text(text + '{"Event": "SparkListenerJobStart", "Job')
    assert eventlog.read_events(str(p)) == eventlog.read_events(FIXTURE)


# --- statistics ----------------------------------------------------------------


def test_median_geomean_failed_frac():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([1.0, 2.0, 3.0, 10.0]) == 2.5
    assert stats.median([]) == 0.0
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert stats.geomean([2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    assert stats.failed_frac(0, 10) == 0.0
    assert stats.failed_frac(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)


def test_tree_cpu_counts_a_child_process():
    import subprocess

    before = procstat.tree_cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    # the reaped child's CPU time is charged to this process
    assert procstat.tree_cpu_s() - before >= 0.3 - 2 / procstat._TICK
    assert procstat.tree_cpu_s(root=2 ** 31) == 0.0  # no such process


def test_jvm_thread_kinds():
    kinds = {"C2 CompilerThre": "jit", "C1 CompilerThre": "jit", "GC Thread#3": "gc",
             "G1 Conc#0": "gc", "G1 Refine#0": "gc", "VM Thread": "gc",
             "Executor task l": "other", "dag-scheduler-e": "other", "Thread-4": "other"}
    assert {c: procstat._jvm_kind(c) for c in kinds} == kinds


# --- spans ---------------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past the parent
        {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.0)


def test_tracer_nesting_and_disabled():
    tr = Tracer(True)
    with tr.span("a", "x") as a:
        with tr.span("b", "y", batch=3) as b:
            pass
        with tr.span("c", "y", parent=None):
            pass
    recs = {s["name"]: s for s in tr.spans}
    assert recs["b"]["parent"] == a and recs["c"]["parent"] == a and recs["a"]["parent"] is None
    assert recs["b"]["batch"] == 3 and b == recs["b"]["id"]
    off = Tracer(False)
    with off.span("a", "x") as sid:
        assert sid is None
    assert off.spans == []


# --- changelog -----------------------------------------------------------------

Gen = namedtuple("Gen", "table key columns dup_mod del_mod")
GENS = (
    Gen("orders", "o_orderkey", ("o_orderkey", "o_custkey", "o_totalprice"), 4, 7),
    Gen("customer", "c_custkey", ("c_custkey", "c_nationkey"), None, 13),
    Gen("nation", "n_nationkey", ("n_nationkey", "n_name"), None, None),
)
DATA = os.path.join(HERE, "data", "sf0.01")


def test_changelog_keeps_the_recipe():
    log = changelog.build_changelog(DATA, GENS)
    net = Counter()
    for rel, k, w in zip(log["rel"].to_pylist(), log["o_orderkey"].to_pylist(),
                         log["weight"].to_pylist()):
        if rel == "orders":
            net[k] += w
    assert len(net) == 15000
    assert all(w == 1 + (k % 4 == 0) - (k % 7 == 0) for k, w in net.items())
    sizes = Counter(log["rel"].to_pylist())
    for g in GENS:
        keys = np.array(pq.read_table(os.path.join(DATA, f"{g.table}.parquet"), columns=[g.key])
                        .column(0).to_pylist())
        extra = sum(int((keys % m == 0).sum()) for m in (g.dup_mod, g.del_mod) if m)
        assert sizes[g.table] == len(keys) + extra
    assert log.num_rows == 22534


def test_churn_pairs_net_to_zero():
    import workloads

    pairs = workloads.churn_pairs(DATA, GENS, 5, 3, workloads.CHURN_FRAC)
    n_orders = 15000 + 15000 // 4  # base rows plus duplicates (dup_mod=4) at sf0.01
    for plus, minus in pairs:
        assert plus.num_rows == pytest.approx(workloads.CHURN_FRAC * n_orders, rel=0.2)
        assert set(plus["weight"].to_pylist()) == {1} and set(minus["weight"].to_pylist()) == {-1}
        assert sorted(plus["o_orderkey"].to_pylist()) == sorted(minus["o_orderkey"].to_pylist())


def test_key_slots_are_seeded_and_uniform():
    keys = np.arange(100_000)
    a = changelog.key_slots(keys, 1, 0)
    assert (a == changelog.key_slots(keys, 1, 0)).all()
    assert (a != changelog.key_slots(keys, 2, 0)).mean() > 0.99
    assert (a < 0.1).mean() == pytest.approx(0.1, abs=0.005)
    assert 0.0 <= a.min() and a.max() < 1.0


# --- the benchmark's contract ----------------------------------------------------


def test_benchmark_json_shape_and_names():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + [w["name"] for w in s["workloads"]]
    assert len(names) == len(set(names))
    for m in s["end_to_end"] + s["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in s["end_to_end"])
    assert 2 <= len(s["workloads"]) <= 8 and len(s["per_layer"]) <= 128


def test_workloads_and_metric_names_match_the_code():
    import run
    import workloads

    s = spec()
    assert [w["name"] for w in s["workloads"]] == list(workloads.WORKLOADS)
    assert set(run.NOT_EXERCISED) == set(workloads.WORKLOADS)
    layer = {m["name"] for m in s["per_layer"]}
    assert {f"phase.{p}.{k}" for p in workloads.PHASES for k in ("s", "jobs")} <= layer
    assert {f"query.{q}.{k}" for q in workloads.ADHOC_QUERIES for k in ("s", "jobs")} <= layer


@pytest.mark.parametrize("workload", ["leaderboard_trickle", "adhoc_batch"])
def test_every_metric_is_emitted_by_a_run(workload):
    """The committed rollup keeps the metric lines a real run printed."""
    with open(os.path.join(HERE, "rollups", f"{workload}.json")) as f:
        committed = json.load(f)
    s = spec()
    for key, group in (("line_untraced", "end_to_end"), ("line_traced", "per_layer")):
        line = committed[key]
        assert line["correct"] and line["failed"] == 0
        assert [m["name"] for m in s[group]] == list(line["metrics"])
        for m in s[group]:
            v = line["metrics"][m["name"]]
            assert v["unit"] == m["unit"] and math.isfinite(v["value"])
    assert all(v["value"] > 0 for v in committed["line_untraced"]["metrics"].values())
    assert committed["reconciliation"]["ok"]


def test_select_metrics_rejects_a_missing_value():
    import run

    s = spec()
    values = {m["name"]: 1.0 for m in s["end_to_end"]}
    assert set(run.select_metrics(s, "adhoc_batch", False, values)) == set(values)
    values.pop("work_cpu_s")
    with pytest.raises(KeyError):
        run.select_metrics(s, "adhoc_batch", False, values)
    # a layer the workload does not run reports 0; others must be present
    layer = run.select_metrics(s, "adhoc_batch", True, {
        m["name"]: 1.0 for m in s["per_layer"] if not m["name"].startswith("phase.")})
    assert layer["phase.topk.jobs"]["value"] == 0.0
    with pytest.raises(KeyError):
        run.select_metrics(s, "leaderboard_trickle", True, {})
