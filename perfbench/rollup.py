"""Offline rollup of one traced run: spans plus the Spark event log turned
into a per-layer table, per micro-batch / query and per engine phase.

    python3 perfbench/rollup.py perfbench/out/<traced run id> \
        [--untraced perfbench/out/<untraced run id> ...] [--out rollup.json]

Layers come from the spans the benchmark records around its calls into
each module (self time = span time not covered by child spans). Jobs,
stages, tasks, shuffle bytes, spill and executor time come from the event
log. With ``--untraced``, the tracing overhead (traced minus the median of
the untraced runs) is reported for every end-to-end metric. The metric
lines the traced run and the first untraced run printed are kept alongside.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from tracing import self_times  # noqa: E402


def e2e_names() -> list[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["end_to_end"]]


def _round(d: dict) -> dict:
    return {k: round(v, 4) if isinstance(v, float) else v for k, v in d.items()}


def layer_table(spans: list[dict]) -> dict:
    """layer -> {spans, total_s, self_s}; span name -> the same."""
    selfs = self_times(spans)
    layers: dict = {}
    names: dict = {}
    for s in spans:
        for table, k in ((layers, s["layer"]), (names, s["name"])):
            r = table.setdefault(k, {"spans": 0, "total_s": 0.0, "self_s": 0.0})
            r["spans"] += 1
            r["total_s"] += s["end"] - s["start"]
            r["self_s"] += selfs[s["id"]]
    return {"layers": {k: _round(v) for k, v in sorted(layers.items())},
            "spans": {k: _round(v) for k, v in sorted(names.items())}}


def rollup_run(run_dir: str) -> dict:
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(run_dir, "spans.json")) as f:
        spans = json.load(f)
    jobs, stages = eventlog.parse(eventlog.read_events(
        eventlog.find_log(os.path.join(run_dir, "eventlog"))))
    out = {
        "run_id": result["run_id"],
        "workload": result["workload"],
        "seed": result["seed"],
        "cores": result["cores"],
        **layer_table(spans),
        "jobs_total": len(jobs),
    }
    if "batches" in result:
        att = eventlog.attribute_batches(jobs, stages, result["batches"], result["engine_tags"])
        rows = []
        for b in result["batches"]:
            if "progress" not in b:
                continue
            ms = b["progress"]["ms"]
            phases: dict = {}
            for (i, eng, ph), r in sorted(att["by_phase"].items()):
                if i == b["batch"]:
                    sec = sum(v["sec"] for k, v in b["profile"].get(eng, {}).items()
                              if k.split(":", 1)[0] == ph)
                    phases[f"{eng}.{ph}"] = _round({**r, "sec": sec})
            rows.append({
                "batch": b["batch"], "kind": b["kind"], "rows": b["rows"],
                "trigger_s": ms["triggerExecution"] / 1000.0,
                "add_batch_s": ms.get("addBatch", 0) / 1000.0,
                "spark": _round(att["per_batch"].get(
                    b["batch"], dict.fromkeys(eventlog.ROLLUP_KEYS, 0))),
                "phases": phases,
            })
        out["batches"] = rows
    else:
        att = eventlog.attribute_windows(jobs, stages, result["windows"], result["setup_windows"])
        out["setup"] = {k: _round(v) for k, v in att["setup"].items()}
        out["queries"] = [
            {"query": q, "exec": k, "wall_s": round(b - a, 4),
             "spark": _round(att["per_exec"].get((q, k), dict.fromkeys(eventlog.ROLLUP_KEYS, 0)))}
            for a, b, (q, k) in result["windows"]
        ]
    out["reconciliation"] = att["reconciliation"]
    return out


def overhead(traced: dict, untraced: list[dict]) -> dict:
    """Per end-to-end metric: traced value, median of the untraced runs,
    difference and its share."""
    out = {}
    for m in e2e_names():
        t = traced["values"].get(m)
        us = [u["values"][m] for u in untraced if m in u["values"]]
        if t is None or not us:
            continue
        u = statistics.median(us)
        out[m] = {"traced": round(t, 4), "untraced_median": round(u, 4), "untraced_runs": len(us),
                  "diff": round(t - u, 4), "share": round((t - u) / u, 4)}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("run_dir")
    ap.add_argument("--untraced", nargs="+", default=[])
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    table = rollup_run(args.run_dir)
    with open(os.path.join(args.run_dir, "result.json")) as f:
        traced = json.load(f)
    table["line_traced"] = traced["line"]
    if args.untraced:
        untraced = []
        for d in args.untraced:
            with open(os.path.join(d, "result.json")) as f:
                untraced.append(json.load(f))
        table["untraced_run_ids"] = [u["run_id"] for u in untraced]
        table["tracing_overhead"] = overhead(traced, untraced)
        table["line_untraced"] = untraced[0]["line"]
    text = json.dumps(table, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
