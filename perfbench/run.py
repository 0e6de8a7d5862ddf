"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints every metric named in BENCHMARK.json
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``) as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Side files (spans, Spark event log, per-batch records, the result) go to
``perfbench/out/<run id>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")

# per-layer metric prefixes a workload does not exercise; they report 0
NOT_EXERCISED = {
    "leaderboard_trickle": ("layout.", "plans.", "query."),
    "adhoc_batch": ("stream.", "engine.", "phase.", "topk."),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def select_metrics(spec: dict, workload: str, trace: bool, values: dict) -> dict:
    """The metrics line: every end-to-end (untraced) or per-layer (traced)
    metric of BENCHMARK.json, with its unit. A per-layer metric of a layer
    the workload does not exercise is 0; any other missing value raises."""
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if name in values:
            v = float(values[name])
        elif trace and name.startswith(NOT_EXERCISED[workload]):
            v = 0.0
        else:
            raise KeyError(f"{workload} produced no value for {name}")
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_jvm() -> None:
    """Close the session's gateway JVM and wait until it has exited (it
    exits when its standard input closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        spec = load_spec()
        import pyspark  # noqa: F401

        import flink_and_acyclic_schema_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except (ImportError, OSError) as e:
        log(f"cannot run: {e}")
        return 2
    if not os.path.isdir(DATA):
        log(f"cannot run: no input tables at {DATA}")
        return 2

    import eventlog
    import workloads
    from stats import failed_frac
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
        return 2
    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(HERE, "out", run_id)
    log_dir = os.path.join(run_dir, "eventlog")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # scratch state of the plans (changelog / incremental queries) and every
    # temporary file stay in this run's directory, so two runs never share a
    # file and nothing is written outside the checkout; the JVM options
    # reach every JVM the session starts, the launcher's too
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        # compiler threads live as long as the JVM, so their CPU time stays countable
        "-XX:-UseDynamicNumberOfCompilerThreads"]))
    cores = len(os.sched_getaffinity(0))

    conf = {
        "spark.driver.memory": "4g",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.ui.showConsoleProgress": "false",
        # plan strings name every scanned file in full (scan rows per query)
        "spark.sql.maxMetadataStringLength": "10000",
    }
    if trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    tracer = Tracer(trace)
    from flink_and_acyclic_schema_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.start", "session"):
        spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
                          extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    log(f"run {run_id}: session {session_s:.2f}s")

    ctx = workloads.Ctx(spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
                        run_dir=run_dir, sf_dir=DATA, cores=cores, jvm_pid=jvm_pid(spark))
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
    except Exception as e:
        traceback.print_exc()
        out = workloads.Outcome(attempted=1)
        out.fail("workload raised", e)
    peak_rss = 0.0
    try:
        peak_rss = jvm_peak_rss_mb(ctx.jvm_pid)
    except Exception as e:  # noqa: BLE001 — a missing /proc entry only loses this metric
        log(f"peak RSS unavailable: {e}")
    for stop in (spark.stop, stop_jvm):
        try:
            stop()
        except Exception:  # noqa: BLE001 — the result line must still be printed
            traceback.print_exc()
            out.errors.append(f"{stop.__name__} raised")

    values = dict(out.e2e)
    values["setup_s"] = session_s + out.setup_s
    values.update(out.layer)
    values["session.start_s"] = session_s
    values["jvm.peak_rss_mb"] = peak_rss
    values["ops_failed_frac"] = failed_frac(out.failed, max(out.attempted, 1))
    if trace and out.attribute is not None:
        try:
            jobs, stages = eventlog.parse(eventlog.read_events(eventlog.find_log(log_dir)))
            values.update(out.attribute(jobs, stages))
        except Exception:  # noqa: BLE001 — its metrics stay missing, the line says so
            traceback.print_exc()
    tracer.write(os.path.join(run_dir, "spans.json"))

    complete = True
    try:
        metrics = select_metrics(load_spec(), args.workload, trace, values)
    except KeyError as e:
        log(str(e))
        complete = False
        metrics = {k: {"value": float(v), "unit": ""} for k, v in values.items()}
    line = {"correct": out.failed == 0 and complete, "attempted": max(out.attempted, 1),
            "failed": out.failed if out.attempted else 1, "metrics": metrics}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"run_id": run_id, "workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "trace": args.trace, "cores": cores,
                   "errors": out.errors, "values": values, "line": line, **out.side},
                  f, indent=1, default=str)
    for err in out.errors:
        log(f"failure: {err}")
    print(json.dumps(line))
    return 0 if complete else 1


if __name__ == "__main__":
    sys.exit(main())
