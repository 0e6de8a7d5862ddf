"""The benchmark's workloads. Each drives the engine through its public API
from one process and one client (closed loop: the next micro-batch or query
starts when the previous one has finished) and returns an ``Outcome``.

Operations counted in ``attempted`` / ``failed``: every micro-batch, every
query execution and every oracle comparison. Raising and mismatching both
count as failures; a failure is reported, never excluded.
"""

from __future__ import annotations

import os
import re
import threading
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import changelog
import eventlog
from procstat import cpu_now, cpu_since
from stats import geomean, median
from tracing import Tracer

PHASES = (
    "watermark", "term_build", "join_fold", "touched", "state_write",
    "agg_write", "emit_pre", "emitted_write", "emit_post", "topk",
)

# Headline queries (bench.HEADLINE) that fit the per-run budget. A run pays
# a cold pass, which also checks every result against its oracle, before
# its warm passes; all 23 take ~54 s cold and ~22 s per warm pass on 4
# cores, more than a whole run may last. The subset keeps the paper's query
# in batch and changelog form and one query per other operator family
# (multi-way join, scan-aggregate, semi-join aggregate, as-of join, session
# windows, similarity top-k).
ADHOC_QUERIES = (
    "q10_flagship",
    "changelog_q10",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q18_large_volume",
    "join_asof",
    "window_session",
    "sim_brute_topk",
)
# measured executions per query, at least
MEASURED_MIN = 3


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    run_dir: str
    sf_dir: str
    cores: int
    jvm_pid: int


@dataclass
class Outcome:
    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    # (jobs, stages) from the event log -> per-layer metrics; set by traced runs
    attribute: Callable | None = None
    side: dict = field(default_factory=dict)

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        self.errors.append(what + ("" if exc is None else ": " + "".join(
            traceback.format_exception_only(type(exc), exc)).strip()))


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / eventlog.MB


def _check(ctx: Ctx, out: Outcome, name: str, df, oracle_sql: str) -> None:
    """One oracle comparison (outside every timed region)."""
    from tests.oracle import assert_matches_oracle

    out.attempted += 1
    with ctx.tracer.span("oracle.check", "oracle", query=name):
        try:
            assert_matches_oracle(df, oracle_sql, ctx.sf_dir, name)
        except AssertionError as e:
            out.fail(f"oracle mismatch {name}", e)
        except Exception as e:  # the result could not be read
            out.fail(f"oracle check {name}", e)


# --- leaderboard_trickle -------------------------------------------------------


class _Progress:
    """StreamingQueryListener sink: progress records of every micro-batch
    (``run_delta_stream`` does not return the query handle)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.records: list[dict] = []
        lock = threading.Lock()
        records = self.records

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    records.append({
                        "query_id": str(p.id),
                        "batch_id": p.batchId,
                        "input_rows": p.numInputRows,
                        "ms": {k: int(v) for k, v in p.durationMs.items()},
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def wait(self, n: int, timeout: float = 30.0) -> list[dict]:
        """The first ``n`` records, once the listener bus has delivered them."""
        deadline = time.monotonic() + timeout
        while len(self.records) < n:
            if time.monotonic() > deadline:
                raise TimeoutError(f"{len(self.records)} of {n} progress events arrived")
            time.sleep(0.01)
        return self.records[:n]


def _down_spec():
    """Second stage of the depth-4 chain (``incremental_topk_chain_depth4_
    stream``): per-nation membership and leaderboard revenue of the grouped
    top-3 changelog, with a global top-5 on it."""
    from pyspark.sql import functions as F

    from flink_and_acyclic_schema_spark.streaming.acyclic import (
        AcyclicQuerySpec, RelSpec, TopKSpec)

    return AcyclicQuerySpec(
        relations=(RelSpec("top3"),),
        group_by=("n_name",),
        measures={"members": lambda: F.lit(1), "top_revenue": lambda: F.col("revenue")},
        finalize=lambda df: df.select(
            "n_name",
            F.col("members").cast("bigint").alias("members"),
            F.col("top_revenue").cast("double").alias("top_revenue"),
        ),
        top_k=TopKSpec(k=5, order_by="top_revenue", key=("n_name",), slack=5),
    )


# Share of the orders changelog each churn batch re-inserts / retracts. At
# 3% the number of grouped top-k refills per batch depended on which rows
# the seed picked (19 vs 33 top-k jobs); at 10% nearly every nation's
# leaderboard is touched, so the work per batch no longer varies by seed.
CHURN_FRAC = 0.10


def churn_pairs(sf_dir: str, gens, seed: int, n_pairs: int, frac: float):
    """Trickle input: per pair, a seeded ``frac`` sample of the orders
    changelog rows inserted once more (+1) and retracted again (-1) in the
    next micro-batch. Each pair nets to zero, so after any number of whole
    pairs the maintained result equals the oracle's."""
    import numpy as np
    import pyarrow as pa

    (orders,) = [g for g in gens if g.table == "orders"]
    base = changelog.build_changelog(sf_dir, [orders])
    base = base.filter(pa.compute.equal(base["weight"], 1))
    keys = base.column("o_orderkey").to_numpy()
    pairs = []
    for j in range(n_pairs):
        pick = changelog.key_slots(keys, seed, 1000 + j) < frac
        rows = base.filter(pa.array(pick))
        neg = rows.set_column(1, "weight", pa.array(np.full(len(rows), -1, np.int32)))
        pairs.append((rows, neg))
    return pairs


# A churn pair (insert + retract) takes ~20 s on 4 cores; a run measures
# as many whole pairs as fit in ``seconds``, and at least one.
PAIR_S = 20.0
# Reads of the maintained top-5 after the stream (the query a client runs
# against the continuous result). Read times fall for the first four reads
# (planning, code generation, JIT) and are level after; those four are a
# warm-up and not counted.
RESULT_WARMUP, RESULT_READS = 4, 7


def leaderboard_trickle(ctx: Ctx) -> Outcome:
    """Depth-4 chain (engine -> grouped top-3 per nation -> engine -> global
    top-5) in one closed-loop stream: a bootstrap micro-batch carries the
    whole changelog into empty state (set-up), then churn batches fold into
    the full-size state. The maintained top-5 is read after the stream."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from flink_and_acyclic_schema_spark.plans.ivm_topk_ext import (
        _nation_leaderboard_gens, _nation_leaderboard_spec)
    from flink_and_acyclic_schema_spark.registry import ORACLES
    from flink_and_acyclic_schema_spark.streaming.acyclic import IncrementalAcyclicQuery
    from flink_and_acyclic_schema_spark.streaming.delta_transport import (
        run_delta_stream, split_deltas)

    out, tr, spark = Outcome(), ctx.tracer, ctx.spark
    traced = tr.enabled
    gens = _nation_leaderboard_gens()
    rel_columns = {g.table: g.columns for g in gens}

    # inputs, before anything is timed: chunk 0 is the bootstrap, then the
    # churn pairs' insert and retract batches
    n_pairs = max(1, int(ctx.seconds // PAIR_S))
    with tr.span("input.generate", "input"):
        src = os.path.join(ctx.run_dir, "input")
        chunks = [changelog.build_changelog(ctx.sf_dir, gens)]
        for pair in churn_pairs(ctx.sf_dir, gens, ctx.seed, n_pairs, CHURN_FRAC):
            chunks.extend(pair)
        rows = changelog.write_chunks(chunks, src)
    # the stream's schema straight from the chunk file, without a Spark job
    schema = from_arrow_schema(pq.read_schema(os.path.join(src, "chunk0000.parquet")))
    progress = _Progress(spark)

    state = os.path.join(ctx.run_dir, "state")
    t0 = time.perf_counter()
    with tr.span("engine.construct", "streaming.acyclic"):
        up = IncrementalAcyclicQuery(spark, os.path.join(state, "up"), _nation_leaderboard_spec())
        down = IncrementalAcyclicQuery(spark, os.path.join(state, "down"), _down_spec())
    up.instrument = down.instrument = traced
    tags = {up._phase_tag: "up", down._phase_tag: "down"}

    batches: list[dict] = []  # one per handled micro-batch, in order
    churn_start: list[float] = []  # when the first churn batch reached the handler

    def handle(batch, batch_id: int) -> None:
        if batch_id == 1:
            churn_start.append(time.perf_counter())
        rec = {"batch": batch_id, "kind": "bootstrap" if batch_id == 0 else "trickle",
               "rows": rows[batch_id], "profile": {}}
        cpu0 = cpu_now(ctx.jvm_pid)
        with tr.span("stream.handler", "streaming.delta_transport", parent=call_sid, batch=batch_id):
            deltas = split_deltas(batch, rel_columns)
            with tr.span("engine.up.process_batch", "streaming.acyclic", batch=batch_id):
                up.process_batch(deltas, batch_id)
            with tr.span("topk.handoff", "streaming.topk", batch=batch_id):
                handoff = up.topk_delta()
            with tr.span("engine.down.process_batch", "streaming.acyclic", batch=batch_id):
                down.process_batch({"top3": handoff}, batch_id)
        if traced:
            rec["profile"] = {"up": up.last_profile, "down": down.last_profile}
        rec["cpu_s"] = cpu_since(cpu0, ctx.jvm_pid)
        batches.append(rec)

    out.attempted += len(rows)
    with tr.span("stream.call", "streaming.delta_transport") as call_sid:
        try:
            run_delta_stream(spark, src, schema, os.path.join(ctx.run_dir, "ckpt"), handle)
        except Exception as e:  # every micro-batch the handler did not finish failed
            out.fail("micro-batch stream", e)
            out.failed += max(0, len(rows) - len(batches) - 1)
    out.side = {"batches": batches, "engine_tags": tags}
    if not churn_start:  # the bootstrap did not commit: nothing to measure
        return out
    out.setup_s = churn_start[0] - t0
    for rec, p in zip(batches, progress.wait(len(batches))):
        if p["batch_id"] != rec["batch"]:
            raise RuntimeError(f"progress of batch {p['batch_id']} arrived for {rec['batch']}")
        rec["progress"] = p

    reads = []
    for _ in range(RESULT_READS):
        out.attempted += 1
        t = time.perf_counter()
        try:
            with tr.span("topk.result", "streaming.topk"):
                down.topk_result().toPandas()
        except Exception as e:
            out.fail("top-k result read", e)
        else:
            reads.append(time.perf_counter() - t)
    _check(ctx, out, "incremental_topk_chain_depth4_stream", down.topk_result(),
           ORACLES["incremental_topk_chain_depth4_stream"])

    out.side["result_reads"] = reads
    done = [b for b in batches if "progress" in b]
    trickle = [b for b in done if b["kind"] == "trickle"]
    trig = [b["progress"]["ms"]["triggerExecution"] / 1000.0 for b in trickle]
    if not trig or len(reads) <= RESULT_WARMUP or done[0]["batch"] != 0:
        return out
    cpu = lambda kind: median([b["cpu_s"][kind] for b in trickle])  # noqa: E731
    out.e2e = {"work_cpu_s": cpu("work")}
    # wall times: reported, not bounded (see README, "Steadiness")
    out.layer = {
        "stream.batch_p50_s": median(trig),
        "stream.rows_per_s": sum(b["rows"] for b in trickle) / sum(trig),
        "stream.bootstrap_s": done[0]["progress"]["ms"]["triggerExecution"] / 1000.0,
        "topk.result_s": median(reads[RESULT_WARMUP:]),
        "jvm.jit_cpu_s": cpu("jit"),
        "jvm.gc_cpu_s": cpu("gc"),
    }
    if not traced:
        return out

    spans = tr.spans

    def span_p50(name: str) -> float:
        ids = {b["batch"] for b in trickle}
        return median([s["end"] - s["start"] for s in spans
                       if s["name"] == name and s.get("batch") in ids])

    def phase_sec(p: str) -> float:
        per_batch = []
        for b in trickle:
            per_batch.append(sum(v["sec"] for prof in b["profile"].values()
                                 for k, v in prof.items() if k.split(":", 1)[0] == p))
        return median(per_batch)

    ms = lambda key: median([b["progress"]["ms"].get(key, 0) / 1000.0 for b in trickle])  # noqa: E731
    out.layer.update({
        "stream.trigger_overhead_s": median([
            (b["progress"]["ms"]["triggerExecution"] - b["progress"]["ms"].get("addBatch", 0)) / 1000.0
            for b in trickle]),
        "stream.wal_commit_s": ms("walCommit"),
        "stream.commit_offsets_s": ms("commitOffsets"),
        "stream.input_rows_per_batch": median([b["progress"]["input_rows"] for b in trickle]),
        "engine.up.batch_p50_s": span_p50("engine.up.process_batch"),
        "engine.down.batch_p50_s": span_p50("engine.down.process_batch"),
        "engine.state_mb": _dir_mb(state),
        "topk.handoff_s": span_p50("topk.handoff"),
        **{f"phase.{p}.s": phase_sec(p) for p in PHASES},
    })

    def attribute(jobs: list[dict], stages: list[dict]) -> dict:
        att = eventlog.attribute_batches(jobs, stages, batches, tags)
        per_batch, by_phase, rec = att["per_batch"], att["by_phase"], att["reconciliation"]
        ids = [b["batch"] for b in trickle]

        def jobs_of(pred) -> list[int]:
            return [sum(r["jobs"] for (b, e, p), r in by_phase.items() if b == i and pred(e, p))
                    for i in ids]

        tot = {k: sum(per_batch.get(i, {}).get(k, 0) for i in ids) for k in eventlog.ROLLUP_KEYS}
        return {
            "spark.jobs_total": rec["jobs_total"],
            # jobs outside every micro-batch (result reads, oracle check)
            "spark.jobs_setup": rec["jobs_setup"],
            "spark.jobs_attributed": rec["jobs_attributed"],
            # every batch-tagged job belongs to a micro-batch the listener saw
            "spark.reconciled": float(rec["ok"]),
            "spark.jobs_per_batch": median([per_batch.get(i, {}).get("jobs", 0) for i in ids]),
            **{f"spark.{k}": v for k, v in tot.items()},
            "spark.busy_frac": tot["executor_run_s"] / (sum(trig) * ctx.cores),
            "engine.up.jobs_per_batch": median(jobs_of(lambda e, p: e == "up")),
            "engine.down.jobs_per_batch": median(jobs_of(lambda e, p: e == "down")),
            **{f"phase.{p}.jobs": median(jobs_of(lambda e, q, p=p: q == p)) for p in PHASES},
        }

    out.attribute = attribute
    return out


# --- adhoc_batch ---------------------------------------------------------------

_LOCATION = re.compile(r"Location: [^\[\n]*\[([^\]\n]*)\]")
_TABLE = re.compile(r"/(\w+)\.parquet")


def scan_rows(plan: str, table_rows: dict[str, int]) -> int:
    """Rows the plan's file scans read: each scanned table's row count, once
    per scan node and path."""
    return sum(table_rows.get(t, 0)
               for loc in _LOCATION.findall(plan) for t in _TABLE.findall(loc))


def adhoc_batch(ctx: Ctx) -> Outcome:
    """Headline batch queries after ``optimize_layout``: one cold pass that
    also checks every query against its oracle, then per query one warm-up
    execution and measured executions with the noop sink, back to back."""
    import pyarrow.parquet as pq

    from flink_and_acyclic_schema_spark.caching import release_persisted
    from flink_and_acyclic_schema_spark.planstats import plan_metrics, plan_string
    from flink_and_acyclic_schema_spark.registry import ORACLES, QUERIES
    from flink_and_acyclic_schema_spark.sources.layout import optimize_layout

    out, tr, spark = Outcome(), ctx.tracer, ctx.spark
    table_rows = {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(ctx.sf_dir, f)).metadata.num_rows
        for f in os.listdir(ctx.sf_dir) if f.endswith(".parquet")
    }
    # (start, end, label) in epoch seconds of the work outside the measured
    # queries, for the event-log reconciliation
    setup_windows = []
    a, t = time.time(), time.perf_counter()
    with tr.span("layout.ingest", "sources.layout"):
        layout = optimize_layout(spark, ctx.sf_dir, os.path.join(ctx.run_dir, "layout"))
    out.setup_s = time.perf_counter() - t
    setup_windows.append((a, time.time(), "layout.ingest"))

    rows: dict[str, int] = {}
    plans = {"shuffle_exchanges": 0, "broadcast_joins": 0}
    for name in ADHOC_QUERIES:
        a = time.time()
        with tr.span("query.cold", "plans", query=name):
            try:
                df = QUERIES[name](spark, layout)
                rows[name] = scan_rows(plan_string(df), table_rows)
                pm = plan_metrics(df)
            except Exception as e:
                out.attempted += 1
                out.fail(f"query {name}", e)
            else:
                for k in plans:
                    plans[k] += pm.get(k, 0)
                _check(ctx, out, name, df, ORACLES[name])
            release_persisted()
        setup_windows.append((a, time.time(), f"cold:{name}"))

    def execute(name: str, span: str):
        """One execution with the noop sink: start and end (epoch s), wall
        time and CPU seconds by kind (``procstat.cpu_since``), both None if it
        failed."""
        out.attempted += 1
        a, t, c = time.time(), time.perf_counter(), cpu_now(ctx.jvm_pid)
        dt = used = None
        try:
            with tr.span(span, "plans", query=name):
                QUERIES[name](spark, layout).write.format("noop").mode("overwrite").save()
            dt, used = time.perf_counter() - t, cpu_since(c, ctx.jvm_pid)
        except Exception as e:
            out.fail(f"query {name}", e)
        b = time.time()
        release_persisted()
        return a, b, dt, used

    times: dict[str, list[float]] = {n: [] for n in ADHOC_QUERIES}
    cpus: dict[str, list[dict]] = {n: [] for n in ADHOC_QUERIES}
    windows = []
    # each query runs once more unmeasured, then back to back while its
    # share of ``seconds`` lasts, at least MEASURED_MIN times: a query's
    # time keeps falling over its first warm executions (see README)
    share = ctx.seconds / len(ADHOC_QUERIES)
    for name in ADHOC_QUERIES:
        a, b, _dt, _cpu = execute(name, "query.warmup")
        setup_windows.append((a, b, f"warmup:{name}"))
        spent = 0.0
        while len(times[name]) < MEASURED_MIN or spent + times[name][-1] <= share:
            a, b, dt, used = execute(name, "query")
            if dt is None:  # failed, and counted as failed
                break
            times[name].append(dt)
            cpus[name].append(used)
            spent += dt
            windows.append((a, b, (name, len(times[name]) - 1)))

    per_query = {n: median(v) for n, v in times.items() if v}
    out.side = {"scan_rows": rows, "times": times, "cpu": cpus, "windows": windows,
                "setup_windows": setup_windows}
    if len(per_query) < len(ADHOC_QUERIES):
        return out
    # one pass over the queries, each at its median
    cpu = lambda kind: sum(median([c[kind] for c in v]) for v in cpus.values())  # noqa: E731
    out.e2e = {"work_cpu_s": cpu("work")}
    # wall times: reported, not bounded (see README, "Steadiness")
    out.layer = {
        "plans.suite_s": sum(per_query.values()),
        "plans.query_geomean_s": geomean(list(per_query.values())),
        "plans.rows_per_s": sum(rows.get(n, 0) for n in per_query) / sum(per_query.values()),
        "jvm.jit_cpu_s": cpu("jit"),
        "jvm.gc_cpu_s": cpu("gc"),
    }
    if not tr.enabled:
        return out

    out.layer.update({
        "layout.ingest_s": out.setup_s,
        "plans.shuffle_exchanges": plans["shuffle_exchanges"],
        "plans.broadcast_joins": plans["broadcast_joins"],
        **{f"query.{n}.s": v for n, v in per_query.items()},
    })

    def attribute(jobs: list[dict], stages: list[dict]) -> dict:
        att = eventlog.attribute_windows(jobs, stages, windows, setup_windows)
        per_exec, rec = att["per_exec"], att["reconciliation"]
        tot = {k: sum(r[k] for r in per_exec.values()) for k in eventlog.ROLLUP_KEYS}
        return {
            "spark.jobs_total": rec["jobs_total"],
            "spark.jobs_setup": rec["jobs_setup"],
            "spark.jobs_attributed": rec["jobs_attributed"],
            # every job ran inside a set-up window or a measured query
            "spark.reconciled": float(rec["ok"]),
            "spark.jobs_per_batch": median([r["jobs"] for r in per_exec.values()]),
            **{f"spark.{k}": v for k, v in tot.items()},
            "spark.busy_frac": tot["executor_run_s"] / (sum(w[1] - w[0] for w in windows) * ctx.cores),
            **{f"query.{n}.jobs": median([r["jobs"] for (q, _k), r in per_exec.items() if q == n])
               for n in ADHOC_QUERIES},
        }

    out.attribute = attribute
    return out


WORKLOADS = {"leaderboard_trickle": leaderboard_trickle, "adhoc_batch": adhoc_batch}
