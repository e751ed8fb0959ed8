"""IAM property-graph benchmark: one seeded workload per run.

    python3 iambench/run.py --workload iam_read --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run builds its inputs from
scratch inside ``.iambench/`` (fixture tables, Spark warehouse, local
and temp dirs, snapshot store), so every run starts from the same
state, and removes them on exit.

A run has three phases:

1. set-up (``setup_s``): import the package, start the Spark session,
   build the graph, write the store (bucketed tables for ``iam_read``,
   the base commit for ``iam_ingest``) and run the workload's warm-up
   ops, calls of every op type that pay JIT and code generation;
2. the timed phase: a closed loop with one client that runs a fixed
   number of seeded cycles of the workload's ops, each cycle holding
   every op type, and times each op from outside. ``--seconds`` sets
   that number: ``ceil(seconds / cycle_s)``, where ``cycle_s`` is the
   workload's cycle time measured on a 4-vCPU 2.0 GHz Xeon VM. So the
   same ``--seconds`` gives the same ops on every commit, and a faster
   or slower program changes the time the phase takes, not the ops it
   times;
3. verification: every result, warm-ups included, is checked against
   an independent reference (``oracle.py``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` every Spark call is attributed to
its layer through the status store (``probe.py``) and the metrics are
the per-layer ones. The exit code is nonzero when any op failed or
disagreed with the reference.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "gsuites_gcp_graphdb_spark"

# Session sizing. The package defaults to a 32g heap for a 128 GiB
# box; a 4g heap fits a 4-core, 15 GiB one with room for the Python
# side. The core count follows the CPUs this process may use. The heap
# is committed at start and the young generation fixed, so the peak RSS
# follows what the run retains rather than when G1 chose to grow.
DRIVER_MEM = "4g"
YOUNG_GEN = "1g"

END_TO_END = (
    "setup_s",
    "ops_per_s",
    "peak_rss_mb",
    "op1_p50_s",
    "op2_p50_s",
    "op3_p50_s",
    "op4_p50_s",
)
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MiB"}

# Per-op-type Spark counters: record key -> unit. Each is a per-call
# mean over the timed phase.
OP_COUNTERS = {
    "plan_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "shuffle_bytes": "bytes",
    "busy_share": "ratio",
}
OP_LAYERS = (
    "traversal.who_can_access",
    "traversal.members_of_role",
    "traversal.out_neighbors",
    "traversal.reach",
    "ingest.commit",
    "ingest.replay",
    "traversal.fresh_read",
    "traversal.counts",
)
PER_LAYER = {
    "session.start_s": "s",
    "build.wall_s": "s",
    "build.jobs": "count",
    "export.save_bucketed_s": "s",
    "export.save_bucketed_bytes": "bytes",
    "export.load_bucketed_s": "s",
    "export.load_s": "s",
    "export.bytes_written": "bytes",
    "export.files_written": "count",
    "export.bytes_per_new_edge": "bytes",
    "ingest.base_commit_s": "s",
    "ingest.useful_ratio": "ratio",
    "ingest.compactions": "count",
    **{f"{layer}.{c}": u for layer in OP_LAYERS for c, u in OP_COUNTERS.items()},
    "spark.jobs_total": "count",
    "spark.gc_ms": "ms",
    "spark.spill_bytes": "bytes",
    "spark.storage_blocks_end": "count",
    "spark.storage_bytes_end": "bytes",
    "trace.ops_per_s": "1/s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("iam_read", "iam_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf", type=float, default=None, help="override the workload's scale factor (smoke tests)"
    )
    p.add_argument(
        "--inject-fault",
        choices=("wrong", "raise"),
        help="tests the checks: drop one timed result, or make one op type raise when timed",
    )
    return p.parse_args(argv)


def configure_env(run_dir: str, cores: int) -> None:
    """Private dirs and session sizing, set before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's temp files (and its perf-data file) out of /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}"
        ),
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


_SIGTERM = {"defer": False, "pending": False}


def on_sigterm(*_):
    if _SIGTERM["defer"]:
        _SIGTERM["pending"] = True
    else:
        sys.exit(143)


def release_sigterm():
    _SIGTERM["defer"] = False
    if _SIGTERM["pending"]:
        sys.exit(143)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_op(ctx, w, kind, param, cycle):
    """Run one op; returns (record, seconds). The timed interval covers
    the op alone, not the hooks that observe the store around it.
    Cycle 0 is the warm-up; timed cycles count from 1."""
    pre = w.pre(ctx, kind, param)
    t0 = time.perf_counter()
    value = w.run_op(ctx, kind, param)
    dt = time.perf_counter() - t0
    post = w.post(ctx, kind, param, pre, value)
    rec = {"kind": kind, "param": param, "value": value, "post": post}
    return {**rec, "cycle": cycle, "timed": cycle > 0}, dt


def timed_phase(ctx, w, n_cycles):
    """Run ``n_cycles`` cycles; returns (records, per-op-type latencies,
    failed ops, seconds of the timed phase). The untimed store reset
    before each cycle is not counted. An op that raises is counted as
    failed, and the loop goes on."""
    records, failed, reported = [], 0, set()
    times: dict[str, list[float]] = {k: [] for k in w.slots}
    timed_s = 0.0
    for cycle in range(1, n_cycles + 1):
        w.reset(ctx)
        t0 = time.perf_counter()
        for kind, param in w.cycle():
            try:
                rec, dt = run_op(ctx, w, kind, param, cycle)
            except Exception:
                failed += 1
                if kind not in reported:  # one traceback per op type
                    reported.add(kind)
                    print(f"op {kind}({param!r}) failed:", traceback.format_exc(), file=sys.stderr)
                continue
            records.append(rec)
            times[kind].append(dt)
        timed_s += time.perf_counter() - t0
    return records, times, failed, timed_s


def run(args, run_dir: str) -> tuple[dict, int]:
    from iambench import probe
    from iambench.fixtures import write_fixture
    from iambench.oracle import IamOracle
    from iambench.workloads import WORKLOADS, Ctx

    cores = len(os.sched_getaffinity(0))
    configure_env(run_dir, cores)
    W = WORKLOADS[args.workload]
    fixture_dir = write_fixture(args.sf or W.sf, os.path.join(run_dir, "fixture"))
    oracle = IamOracle(fixture_dir)
    w = W(args.seed, oracle)

    # ---- set-up ----------------------------------------------------------
    t_setup = time.perf_counter()
    from gsuites_gcp_graphdb_spark.session import get_spark

    # a SIGTERM while the JVM starts is held until the session exists
    # and the block that stops it is entered, so the JVM always stops
    _SIGTERM["defer"] = True
    spark = get_spark(f"iambench-{args.workload}")
    session_s = time.perf_counter() - t_setup
    try:
        release_sigterm()
        spark.sparkContext.setLogLevel("ERROR")
        tracer = probe.Tracer(spark) if args.trace else None
        ctx = Ctx(spark, fixture_dir, run_dir, cores, tracer)
        w.setup(ctx)
        warm = [run_op(ctx, w, kind, param, 0)[0] for kind, param in w.warmups()]
        setup_s = time.perf_counter() - t_setup

        if args.inject_fault == "raise":
            real_op, victim = w.run_op, w.slots[-1]

            def run_op_or_raise(ctx, kind, param):
                if kind == victim:
                    raise RuntimeError("injected fault")
                return real_op(ctx, kind, param)

            w.run_op = run_op_or_raise

        # ---- timed phase -----------------------------------------------
        first_timed_row = len(tracer.rows) if tracer else 0
        n_cycles = math.ceil(args.seconds / w.cycle_s)
        records, times, failed, timed_s = timed_phase(ctx, w, n_cycles)
        records = warm + records
        n_timed = sum(len(v) for v in times.values())

        if args.inject_fault == "wrong":
            victim = next(r for r in records if r["timed"] and r["value"] is not None)
            victim["value"] = None
        try:
            problems = w.verify(records)
        except Exception as exc:  # a result too malformed to compare is a wrong answer
            problems = [f"verification raised {exc!r}"]
        # an op type with no successful call has no latency to report
        missing = [k for k, ts in times.items() if not ts]

        # ---- results ---------------------------------------------------
        rss = probe.peak_rss_mb(probe.jvm_pid(spark))
        if tracer:
            layer_rows = tracer.rows[first_timed_row:]
            metrics = per_layer_metrics(ctx, w, tracer, layer_rows, session_s, n_timed / timed_s)
        else:
            metrics = {"setup_s": setup_s, "ops_per_s": n_timed / timed_s, "peak_rss_mb": rss}
            for i, kind in enumerate(w.slots, 1):
                metrics[f"op{i}_p50_s"] = statistics.median(times[kind]) if times[kind] else None
    finally:
        stop_spark(spark)

    for p in problems:
        print(f"WRONG: {p}", file=sys.stderr)
    for k in missing:
        print(f"FAILED: no {k} op succeeded", file=sys.stderr)
    attempted = len(records) + failed
    failed += len(problems)

    # human-readable summary, then the one-line result
    print(
        f"workload {args.workload} seed {args.seed} cores {cores}"
        f" cycles {n_cycles} timed_s {timed_s:.2f}"
    )
    for i, kind in enumerate(w.slots, 1):
        ts = times[kind]
        samples = " ".join(f"{t:.3f}" for t in ts)
        p50 = f"{statistics.median(ts):.4f}" if ts else "-"
        print(f"  op{i} = {kind}: n={len(ts)} p50={p50} s  [{samples}]")
    print(f"  fail_ratio {failed / attempted:.4f} ({failed}/{attempted})")
    units = PER_LAYER if args.trace else {k: UNITS.get(k, "s") for k in END_TO_END}
    out = {
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return out, 0 if out["correct"] else 1


def per_layer_metrics(ctx, w, tracer, rows, session_s, traced_ops_per_s) -> dict:
    from iambench import probe

    # set-up layers are per call over the whole run, op layers per call
    # over the timed phase
    setup = tracer.by_layer()
    timed = tracer.by_layer(rows)

    def mean(layer, key, src=timed):
        a = src.get(layer)
        return a[key] / a["calls"] if a else 0.0

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session_s
    m["build.wall_s"] = mean("build", "wall_s", setup)
    m["build.jobs"] = mean("build", "jobs", setup)
    m["export.save_bucketed_s"] = mean("export.save_bucketed", "wall_s", setup)
    m["export.save_bucketed_bytes"] = float(getattr(w, "store_bytes", 0))
    m["export.load_bucketed_s"] = mean("export.load_bucketed", "wall_s", setup)
    m["export.load_s"] = mean("export.load", "wall_s")
    m["ingest.base_commit_s"] = mean("ingest.base_commit", "wall_s", setup)
    io = getattr(w, "io", None)
    if io:
        m["export.bytes_written"] = float(io["bytes"])
        m["export.files_written"] = float(io["files"])
        m["export.bytes_per_new_edge"] = io["bytes"] / max(1, io["new_edges"])
        m["ingest.useful_ratio"] = io["new_edges"] / max(1, io["bindings"])
        m["ingest.compactions"] = float(io["compactions"])
    for layer in OP_LAYERS:
        a = timed.get(layer)
        if not a:
            continue
        n = a["calls"]
        for c in ("plan_s", "jobs", "stages", "tasks", "executor_run_ms", "shuffle_bytes"):
            m[f"{layer}.{c}"] = a[c] / n
        m[f"{layer}.executor_cpu_ms"] = a["executor_cpu_ns"] / n / 1e6
        m[f"{layer}.busy_share"] = a["executor_run_ms"] / (a["wall_s"] * 1000.0 * ctx.cores)
    spark = ctx.spark
    m["spark.jobs_total"] = float(tracer.mark()[0] + 1)
    m["spark.gc_ms"] = float(probe.jvm_gc_ms(spark))
    m["spark.spill_bytes"] = float(sum(r.get("spill_bytes", 0) for r in tracer.rows))
    blocks, nbytes = probe.storage(spark)
    m["spark.storage_blocks_end"] = float(blocks)
    m["spark.storage_bytes_end"] = float(nbytes)
    m["trace.ops_per_s"] = traced_ops_per_s
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, on_sigterm)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"iambench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".iambench", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out, code = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still be using it
            os.rmdir(os.path.dirname(run_dir))
    print(json.dumps(out))
    return code


if __name__ == "__main__":
    sys.exit(main())
