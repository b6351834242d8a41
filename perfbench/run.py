"""CDC ingest benchmark runner.

    python3 perfbench/run.py --workload replay_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. Stages the
workload's WAL files from ``--seed``, boots one local Spark session
sized to the host, warms up, measures the workload's client loop for
``--seconds``, checks the engine's outputs, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also
writes a Spark event log and in-memory spans, and prints the
per-layer metrics instead (spans land in ``.perfbench_traces/``).
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
E2E = ["setup_s", "peak_rss_mb", "events_per_s", "freshness_p50_s", "lookup_p50_s"]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["replay_batch", "stream_tail"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "toy"], default="full",
                   help="input sizes; 'toy' is for the smoke test")
    return p.parse_args(argv)


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "etl_spark", "lake", "table.py"))


def _terminate(signum, _frame):
    # run the cleanup in main()'s finally: stop the query, the JVM and
    # the helper threads, and remove the scratch directory
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not engine_present():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from common import (Ledger, descendants, jvm_process, start_spark, still_running,
                        stop_spark, vm_hwm_kb)
    from stats import median, tail_percentile
    from tracing import TimingBackend, Tracer
    from workloads import WORKLOADS

    from etl_spark.lake import commitio

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ledger = Ledger()
    tracer = Tracer()
    w = WORKLOADS[args.workload](None, work, args.seed, args.size, args.seconds, tracer, ledger,
                                 traced=bool(args.trace))
    spark = None
    prev_backend = None
    jvm_hwm = 0
    layer = None
    e2e = {}
    staged: list[BaseException] = []

    def stage():
        try:
            w.stage()
        except BaseException as e:  # re-raised on the main thread
            staged.append(e)

    try:
        th = threading.Thread(target=stage, name="perfbench-stage")
        th.start()
        spark = start_spark(work, trace=bool(args.trace))
        t_boot = time.time()
        th.join()
        t_stage = time.time()
        if staged:
            raise staged[0]
        w.spark = spark
        tracer.sc = spark.sparkContext
        backend = TimingBackend(commitio.get_backend())
        prev_backend = commitio.set_backend(backend)
        w.setup()
        setup_s = time.time() - T_START
        print(f"perfbench: driver heap {os.environ['SPARK_DRIVER_MEM']}, "
              f"boot {t_boot - T_START:.1f}s, staged by {t_stage - T_START:.1f}s, "
              f"set up by {setup_s:.1f}s", file=sys.stderr)
        ledger.samples.clear()
        commits0 = backend.snapshot()
        tracer.enabled = bool(args.trace)
        t0 = time.time()
        w.measure(args.seconds)
        t1 = time.time()
        commits1 = backend.snapshot()
        if args.trace:
            w.after_window()
        tracer.enabled = False
        w.verify()
        proc = jvm_process()
        jvm_hwm = vm_hwm_kb(proc.pid) if proc is not None else 0
        s = ledger.samples
        e2e = {
            "setup_s": setup_s,
            "peak_rss_mb": (jvm_hwm + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0,
            "events_per_s": median(s["events_per_s"]),
            "freshness_p50_s": median(s["freshness"]),
            "lookup_p50_s": median(s["lookup"]),
        }
        for name in ("freshness", "lookup", "scan", "sync"):
            xs = s.get(name) or []
            if xs:
                tp = tail_percentile(xs)
                tail = f", p{tp[0]:g} {tp[1]:.4f}s" if tp else ""
                print(f"perfbench: {args.workload} {name}: n={len(xs)} "
                      f"p50 {median(xs):.4f}s{tail}")
    finally:
        # each step runs even if an earlier one fails, so neither the
        # JVM nor the scratch directory outlives the run
        def step(name, fn, *a):
            try:
                fn(*a)
            except Exception as e:
                ledger.check(f"cleanup:{name}", False, repr(e))

        step("workload", w.close)
        if prev_backend is not None:
            step("backend", commitio.set_backend, prev_backend)
        # the JVM's own children (pyspark worker daemons) are re-parented
        # when it exits, so remember them before stopping it
        children = descendants(os.getpid())
        if spark is not None:
            step("spark", stop_spark, spark)
        # kill what outlived its stop (or, on SIGTERM mid-boot, a JVM the
        # session never wrapped) here, so an exception leaking out of
        # this block cannot skip it
        leaked = still_running(children + descendants(os.getpid()))
        for pid in leaked:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        still_running(leaked)
        try:
            if args.trace and e2e:
                commits = {part: {k: commits1[part][k] - commits0[part][k]
                                  for k in commits1[part]} for part in ("counts", "seconds")}
                layer = traced_metrics(args, w, tracer, work, (t0, t1), commits, e2e,
                                       ledger.samples)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    ledger.check("no_leaked_process", not leaked, f"live children {leaked}")
    missing = [k for k, v in e2e.items() if v is None]
    ledger.check("metrics_measured", not missing, f"no samples for {missing}")
    if args.trace:
        from layers import unit

        metrics = {k: {"value": float(v), "unit": unit(k)} for k, v in layer.items()}
    else:
        from layers import E2E_UNITS

        metrics = {k: {"value": float(e2e[k] or 0.0), "unit": E2E_UNITS[k]} for k in E2E}
    print(json.dumps({"correct": ledger.failed == 0, "attempted": ledger.attempted,
                      "failed": ledger.failed, "metrics": metrics}))
    return 0


def traced_metrics(args, w, tracer, work, window, commits, e2e, samples) -> dict:
    from layers import per_layer
    from tracing import find_event_log, parse_event_log

    log = find_event_log(os.path.join(work, "eventlog"))
    jobs, stages = parse_event_log(log) if log else ({}, {})
    out_dir = os.path.join(os.getcwd(), ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{tracer.run_id}.spans.jsonl"))
    return per_layer(w, tracer.spans, jobs, stages, commits, window, e2e, samples)


if __name__ == "__main__":
    sys.exit(main())
