"""Shared plumbing: host sizing, the Spark session, output checks,
filesystem and process accounting."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

USER_COLS = ["repo", "path", "commit", "lang", "content", "content_sha256"]
KEYS = ["repo", "path"]


def host_cores() -> int:
    try:
        return max(len(os.sched_getaffinity(0)), 1)
    except AttributeError:
        return os.cpu_count() or 1


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of MemAvailable, rounded down to a 512 MiB step and
    clamped to [1 GiB, 4 GiB]: the benchmark's tables are under 100 MB,
    and the machine may be shared. The step keeps the heap the same from
    run to run while MemAvailable drifts a little."""
    step = 512
    mb = mem_available_bytes() // 8 // (1 << 20) // step * step
    return int(min(max(mb, 1024), 4096))


def start_spark(work: str, trace: bool):
    """One local session sized to the host, through the engine's own
    factory; every scratch file the JVM writes stays under ``work``."""
    from etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file inside the checkout: Python's (the gateway's
    # connection file, worker daemons), Spark's local dirs (an inherited
    # SPARK_LOCAL_DIRS would override spark.local.dir), and the JVMs'
    # perf-data files, which HotSpot puts in /tmp whatever java.io.tmpdir says
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    mem = driver_memory_mb()
    os.environ["SPARK_DRIVER_MEM"] = f"{mem}m"
    # a fixed heap (-Xms = -Xmx): G1 resizing the heap mid-run made the
    # peak RSS vary by ~15% between identical runs
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -Xms{mem}m"
    conf = {
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.abspath(log_dir)
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench", cores=host_cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the JVM may already be gone
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (from /proc)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rfind(")") + 2:].split()
        if fields and fields[0] != "Z":
            parent[int(d)] = int(fields[1])
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        for child, ppid in parent.items():
            if ppid == cur:
                out.append(child)
                todo.append(child)
    return out


def still_running(pids, grace_s: float = 10.0) -> list[int]:
    """The pids that have not exited (or become zombies) within ``grace_s``."""
    deadline = time.time() + grace_s
    alive = sorted(set(pids))
    while alive:
        alive = [p for p in alive if _live(p)]
        if not alive or time.time() > deadline:
            break
        time.sleep(0.1)
    return alive


def _live(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return False
    return st[st.rfind(")") + 2:].split()[0] != "Z"


def dir_bytes(path: str, suffix: str = "") -> int:
    """Bytes of the files under ``path`` whose names end with ``suffix``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.endswith(suffix):
                continue
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except FileNotFoundError:
                pass  # expired while walking
    return total


def live_snapshot_bytes(table, out_dir: str) -> int:
    """Bytes of the table's live snapshot written once as parquet."""
    shutil.rmtree(out_dir, ignore_errors=True)
    table.read().write.parquet(out_dir)
    n = dir_bytes(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    return n


def state_digest(df) -> tuple[int, int]:
    """(row count, xor of xxhash64 over the user columns) — order
    independent, so any partitioning gives the same answer."""
    from pyspark.sql import functions as F

    r = df.select(*USER_COLS).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*USER_COLS)).alias("d")
    ).first()
    return int(r["n"]), int(r["d"] or 0)


def oracle_state(spark, files: list[str]):
    """Latest-wins reduction of WAL files written independently of the
    engine: a row_number window by seq, deletes dropped, checksum of
    the winner's content."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_spark.sources.wal import EVENT_SCHEMA

    ev = spark.read.schema(EVENT_SCHEMA).parquet(*files)
    w = Window.partitionBy(*KEYS).orderBy(F.col("seq").desc())
    win = ev.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return win.filter(F.col("op") != "delete").withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))


class Ledger:
    """Counts operations attempted and failed (raised or failed a
    check) and collects the samples end-to-end metrics come from."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = defaultdict(list)

    def run(self, name: str, fn, *a, **kw):
        """Run one operation; on an exception count it failed and
        return None (the workload goes on with its next operation)."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check {name} failed {detail}", file=sys.stderr)
        return ok


def timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t
