"""Spark event log reader: jobs, stages and task metrics, attributed to
micro-batches, engine phases and queries.

Attribution never uses the driver's thread-local job groups as seen from
the benchmark's own thread (the engine submits jobs from worker threads).
It reads what the event log records on every job and stage instead: the
``Properties`` of ``SparkListenerJobStart`` / ``SparkListenerStageSubmitted``
carry ``sql.streaming.queryId`` and ``streaming.sql.batchId`` for all jobs
of a micro-batch, and, when the engine's ``instrument`` flag is on,
``spark.jobGroup.id = ivm_<engine tag>_<phase>_<n>``.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

MB = 1024 * 1024

ROLLUP_KEYS = ("jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
               "executor_run_s")

_PHASE_GROUP = re.compile(r"^ivm_([0-9a-f]+)_(.+)_(\d+)$")


def find_log(log_dir: str) -> str:
    """The single application log in ``log_dir`` (finished or in progress)."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(paths) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, found {paths}")
    return paths[0]


def read_events(path: str) -> list[dict]:
    """JSON-lines events; a torn last line (log of a crashed app) is skipped."""
    out = []
    with open(path) as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                continue
    return out


def parse(events: list[dict]) -> tuple[list[dict], list[dict]]:
    """(jobs, stages). A job: id, submit_ms, props. A stage (one submitted
    attempt): id, attempt, submit_ms, props, tasks, run_ms, shuffle_write,
    shuffle_read, spill (bytes)."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "id": e["Job ID"],
                "submit_ms": e.get("Submission Time", 0),
                "props": e.get("Properties") or {},
            }
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                "id": info["Stage ID"],
                "attempt": info["Stage Attempt ID"],
                "submit_ms": info.get("Submission Time", 0),
                "props": e.get("Properties") or {},
                "tasks": 0,
                "run_ms": 0,
                "shuffle_write": 0,
                "shuffle_read": 0,
                "spill": 0,
            }
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            if st is None:
                continue
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j["id"]), sorted(
        stages.values(), key=lambda s: (s["id"], s["attempt"])
    )


def batch_of(props: dict) -> tuple[str, int] | None:
    """(streaming query id, stream-local batch id) of a job or stage."""
    bid = props.get("streaming.sql.batchId")
    qid = props.get("sql.streaming.queryId")
    if bid is None or qid is None:
        return None
    return qid, int(bid)


def phase_of(props: dict) -> tuple[str, str] | None:
    """(engine tag, phase) from an instrumented engine's job group; the
    parallel per-relation ``state_write:<rel>`` groups roll up into
    ``state_write`` (pooled writes inherit whichever group spawned them)."""
    m = _PHASE_GROUP.match(props.get("spark.jobGroup.id") or "")
    if m is None:
        return None
    return m.group(1), m.group(2).split(":", 1)[0]


def rollup(jobs: list[dict], stages: list[dict], key: Callable[[dict, int], object]) -> dict:
    """Per key (``key(props, submit_ms)``; None drops the record): jobs,
    stages, tasks, shuffle MB written and read, spill MB, executor run s."""
    out: dict = {}

    def slot(k):
        return out.setdefault(k, dict.fromkeys(ROLLUP_KEYS, 0))

    for j in jobs:
        k = key(j["props"], j["submit_ms"])
        if k is not None:
            slot(k)["jobs"] += 1
    for s in stages:
        k = key(s["props"], s["submit_ms"])
        if k is None:
            continue
        r = slot(k)
        r["stages"] += 1
        r["tasks"] += s["tasks"]
        r["shuffle_write_mb"] += s["shuffle_write"] / MB
        r["shuffle_read_mb"] += s["shuffle_read"] / MB
        r["spill_mb"] += s["spill"] / MB
        r["executor_run_s"] += s["run_ms"] / 1000.0
    return out


def batch_index(batches: list[dict]) -> dict[tuple[str, int], int]:
    """(stream query id, stream-local batch id) -> the benchmark's global
    batch index, from the micro-batch records' listener progress."""
    return {
        (b["progress"]["query_id"], b["progress"]["batch_id"]): b["batch"]
        for b in batches
        if "progress" in b
    }


def batch_key(index: dict) -> Callable[[dict, int], object]:
    """Key function: global batch index of a job or stage, else None."""
    return lambda props, _t: index.get(batch_of(props))


def engine_phase_key(index: dict, tags: dict[str, str]) -> Callable[[dict, int], object]:
    """Key function: (global batch, engine name, phase) of an instrumented
    engine's job or stage; ``tags`` maps engine tag -> engine name."""

    def key(props: dict, _t: int):
        b = index.get(batch_of(props))
        ph = phase_of(props)
        if b is None or ph is None or ph[0] not in tags:
            return None
        return b, tags[ph[0]], ph[1]

    return key


def window_key(windows: list[tuple[float, float, object]]) -> Callable[[dict, int], object]:
    """Key function for sequential work: the label of the (start, end,
    label) window, in epoch seconds, that contains the submit time; work
    outside every window gets None. Windows must not overlap."""
    ws = sorted(windows, key=lambda w: w[0])

    def key(_props: dict, submit_ms: int):
        t = submit_ms / 1000.0
        for a, b, label in ws:
            # event-log times are whole milliseconds
            if a - 0.001 <= t <= b + 0.001:
                return label
        return None

    return key


def reconciliation(total: int, setup: int, attributed: int) -> dict:
    """Every job is either set-up work or attributed to measured work."""
    return {"jobs_total": total, "jobs_setup": setup, "jobs_attributed": attributed,
            "ok": attributed + setup == total}


def attribute_batches(jobs: list[dict], stages: list[dict], batches: list[dict],
                      tags: dict[str, str]) -> dict:
    """Streaming work: rollups per global micro-batch (``per_batch``) and per
    (batch, engine, phase) (``by_phase``), and the reconciliation, where the
    set-up jobs are those outside every micro-batch."""
    index = batch_index(batches)
    per_batch = rollup(jobs, stages, batch_key(index))
    return {
        "per_batch": per_batch,
        "by_phase": rollup(jobs, stages, engine_phase_key(index, tags)),
        "reconciliation": reconciliation(
            len(jobs), sum(1 for j in jobs if batch_of(j["props"]) is None),
            sum(r["jobs"] for r in per_batch.values())),
    }


def _label(x):
    # window labels come back from JSON as lists
    return tuple(x) if isinstance(x, list) else x


def attribute_windows(jobs: list[dict], stages: list[dict], windows: list, setup_windows: list) -> dict:
    """Sequential work: rollups per measured window (``per_exec``) and per
    set-up window (``setup``), each window ``(start, end, label)``, and the
    reconciliation."""
    per_exec = rollup(jobs, stages, window_key([(a, b, _label(k)) for a, b, k in windows]))
    setup = rollup(jobs, stages, window_key([(a, b, _label(k)) for a, b, k in setup_windows]))
    return {
        "per_exec": per_exec,
        "setup": setup,
        "reconciliation": reconciliation(
            len(jobs), sum(r["jobs"] for r in setup.values()),
            sum(r["jobs"] for r in per_exec.values())),
    }
