"""The benchmark's workloads, driven through the engine's public API.

Each workload stages its WAL files in Python (``stage``, which needs no
Spark and overlaps the JVM boot), builds and warms its tables
(``setup``), runs its client loop for the measured window
(``measure``), and then checks the engine's outputs (``verify``).
Engine settings, tables and the mirror come from the replay job
(``etl_spark/jobs/replay.py``): its argument parser's defaults, its
``ensure_table`` and its ``build_downstream``.
"""

from __future__ import annotations

import json
import math
import os
import queue
import threading
import time

import gen
from common import dir_bytes, live_snapshot_bytes, oracle_state, state_digest, timed

# Sizes per workload. "full" is what BENCHMARK.json's runs use; "toy"
# is for the smoke test. A replay epoch of ``epoch_events`` hashed events
# over ``keys`` keys holds about ``epoch_events / keys`` events per key,
# and a replay run measures ``round(seconds / epoch_s)`` epochs: a fixed
# count, because a time-bounded loop of multi-second epochs ran 2 or 3 of
# them by how fast the host happened to be, which doubled the spread.
SIZES = {
    "replay_batch": {
        "full": {"keys": 5_000, "epoch_events": 20_000, "epoch_s": 7.0,
                 "files_per_epoch": 4, "lookups_per_epoch": 2, "lookup_keys": 4},
        "toy": {"keys": 250, "epoch_events": 1_000, "epoch_s": 2.0,
                "files_per_epoch": 2, "lookups_per_epoch": 2, "lookup_keys": 2},
    },
    "stream_tail": {
        "full": {"keys": 20_000, "file_events": 250, "files_per_s": 9.0, "publish_share": 0.6,
                 "lookups": 8, "lookup_keys": 2, "drain_timeout_s": 60.0},
        "toy": {"keys": 500, "file_events": 100, "files_per_s": 4.0, "publish_share": 0.6,
                "lookups": 2, "lookup_keys": 1, "drain_timeout_s": 60.0},
    },
}


def job_args(table_root: str, *flags: str):
    """The replay job's settings (``etl_spark/jobs/replay.py``) for a
    table at ``table_root``: its defaults, plus ``flags``."""
    from etl_spark.jobs.replay import build_parser

    return build_parser().parse_args(["--table", table_root, *flags])


def apply_kw(args) -> dict:
    return {"salted": args.salted, "resolve": args.resolve}


def lookup_keys(seed: int, lo: int, hi: int, n_keys: int, lookups: int, keys_each: int):
    """``lookups`` lists of ``keys_each`` keys, taken from events spread
    evenly over seq [lo, hi) so each lookup reads back recent writes."""
    n = lookups * keys_each
    out = []
    for i in range(lookups):
        ids = [gen.key_id_of(seed, lo + (hi - lo) * (2 * (j * lookups + i) + 1) // (2 * n), n_keys)
               for j in range(keys_each)]
        out.append([gen.key_of(seed, k) for k in dict.fromkeys(ids)])
    return out


def trace_table(tracer, tbl) -> None:
    """Spans around the table methods the engine calls on this object."""
    for m in ("merge_cdc", "compact", "expire_versions", "changes_since"):
        tracer.wrap(tbl, m, f"table.{m}")
    tracer.wrap(tbl, "read", "table.read",
                attrs=lambda a, kw: {"buckets": sorted(kw["buckets"])}
                if kw.get("buckets") is not None else {})


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, size: str, seconds: float, tracer, ledger,
                 traced: bool = False):
        self.spark = spark
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.seed = seed
        self.p = SIZES[self.name][size]
        self.tracer = tracer
        self.ledger = ledger
        self.history = gen.History()
        # per-layer inputs the runner's own code observed
        self.applies: list[dict] = []   # one per COW apply: events, changed keys, reread bytes
        self.lookups: list[dict] = []   # one per read_keys: rows returned, files scanned
        self.scans: list[dict] = []
        self.syncs: list[dict] = []
        self.space_amp: float | None = None
        self.flips: list[dict] = []     # stream: observed CURRENT flips
        self.published: list[dict] = []
        self.progress: list[dict] = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def stage_file(self, path: str, lo: int, hi: int, sampled: set) -> set:
        """Write the events of seq [lo, hi) as one WAL file, recording the
        history of the ``sampled`` keys; returns the keys the file touches."""
        evs = gen.log_events(self.seed, lo, hi, self.n_keys)
        keys = set()
        for ev in evs:
            key = (ev["repo"], ev["path"])
            keys.add(key)
            if key in sampled:
                self.history.add(ev)
        gen.write_wal_file(path, evs)
        return keys

    # --- shared operations ---------------------------------------------

    def apply(self, tbl, batch, epoch, events: int, changed_keys: int) -> dict | None:
        """One ``apply_batch`` through the replay job's defaults; with
        tracing on, also the bytes of the dirty buckets it re-read."""
        from etl_spark.cdc import replay as R

        prev = tbl.manifest()["buckets"] if self.tracer.enabled else None
        out = self.tracer.call("replay.apply_batch", R.apply_batch, tbl, batch,
                               epoch=epoch, _attrs={"events": events}, **apply_kw(self.args))
        if prev is not None and out is not None:
            dirty = out.get("dirty_buckets", [])
            self.applies.append({
                "events": events, "changed_keys": changed_keys,
                "rows_written": out.get("rows_written", 0), "dirty": len(dirty),
                "reread_bytes": sum(dir_bytes(prev[str(b)]["path"], ".parquet")
                                    for b in dirty if str(b) in prev),
            })
        return out

    def lookup(self, tbl, keys, seq_lo: int, seq_hi_fn) -> None:
        """Read-your-writes lookup: ``read_keys`` must return, for each
        key, a state the snapshot could legally show given the max seq
        visible before the call (``seq_lo``) and after it."""
        rows, dt = timed(self.tracer.call, "table.read_keys",
                         lambda: tbl.read_keys(keys).collect())
        seq_hi = seq_hi_fn()
        self.ledger.samples["lookup"].append(dt)
        got = {}
        for r in rows:
            got.setdefault((r["repo"], r["path"]), []).append(r.asDict())
        bad = [k for k in keys
               if len(got.get(k, [])) > 1
               or not any(gen.History.matches(ev, (got.get(k) or [None])[0])
                          for ev in self.history.valid_states(k, seq_lo, seq_hi))]
        self.ledger.check("read_keys", not bad, f"keys {bad[:3]} at seq {seq_lo}..{seq_hi}")
        if self.tracer.enabled:
            spans = list(self.tracer.spans)
            call = next(s for s in reversed(spans) if s["name"] == "table.read_keys")
            read = next((s for s in spans if s["parent"] == call["id"]
                         and s["attrs"].get("buckets")), None)
            files = (tbl.scan_stats(buckets=set(read["attrs"]["buckets"]))["files_kept"]
                     if read else 0)
            self.lookups.append({"rows": len(rows), "keys": len(keys), "files": files})

    def scan(self, tbl) -> None:
        def run():
            return tbl.read().write.format("noop").mode("overwrite").save()

        _, dt = timed(self.tracer.call, "table.scan", run)
        self.ledger.samples["scan"].append(dt)
        if self.tracer.enabled:
            self.scans.append({"files": tbl.scan_stats()["files_kept"]})

    def check_state(self, tbl, files: list[str], label: str = "final_state") -> None:
        want = state_digest(oracle_state(self.spark, files))
        got = state_digest(tbl.read())
        self.ledger.check(label, got == want, f"table {got} != oracle {want}")

    def close(self) -> None:
        pass


class ReplayBatch(Workload):
    """Closed-loop backlog replay: a pre-staged WAL replayed as
    seq-range epochs into one COW table, one epoch at a time."""

    name = "replay_batch"

    def stage(self) -> None:
        p = self.p
        nk = self.n_keys = p["keys"]
        ee, fpe = p["epoch_events"], p["files_per_epoch"]
        self.wal = self.path("wal")
        os.makedirs(self.wal)
        # epoch 0, the set-up's warm-up, inserts every key once and then
        # runs one epoch's worth of hashed events; the measured epochs
        # after it hit hashed keys, about epoch_events / keys per key
        n_epochs = max(1, round(self.seconds / p["epoch_s"]))
        self.epochs = [(0, nk + ee)] + [(nk + e * ee, nk + (e + 1) * ee)
                                        for e in range(1, n_epochs + 1)]
        self.epoch_keys = [[]] + [lookup_keys(self.seed, lo, hi, nk, p["lookups_per_epoch"],
                                              p["lookup_keys"]) for lo, hi in self.epochs[1:]]
        sampled = {k for looks in self.epoch_keys for keys in looks for k in keys}
        self.files = []
        self.epoch_changed = []
        for e, (lo, hi) in enumerate(self.epochs):
            changed = set()
            for i in range(fpe):
                f = os.path.join(self.wal, f"part-{e:03d}-{i:03d}.parquet")
                changed |= self.stage_file(f, lo + (hi - lo) * i // fpe,
                                           lo + (hi - lo) * (i + 1) // fpe, sampled)
                self.files.append(f)
            self.epoch_changed.append(len(changed))

    def batch(self, e: int):
        from pyspark.sql import functions as F

        from etl_spark.sources.wal import read_event_log

        lo, hi = self.epochs[e]
        return read_event_log(self.spark, self.wal).filter(
            (F.col("seq") >= lo) & (F.col("seq") < hi))

    def setup(self) -> None:
        from etl_spark.cdc import replay as R
        from etl_spark.jobs.replay import ensure_table

        self.args = job_args(self.path("table"))  # COW
        self.table = ensure_table(self.spark, self.args)
        R.apply_batch(self.table, self.batch(0), epoch=0, **apply_kw(self.args))
        self.table.read_keys([gen.key_of(self.seed, 0)]).collect()
        self.applied = 1
        if self.traced:
            self.mirror = create_mirror(self.spark, self.table, self.path("mirror"),
                                        self.path("pipeline.json"))

    def measure(self, seconds: float) -> None:
        # closed loop over the staged epochs, about ``seconds`` in all
        tbl = self.table
        trace_table(self.tracer, tbl)
        ev_total = t_total = 0.0
        for e in range(1, len(self.epochs)):
            lo, hi = self.epochs[e]
            out, dt = timed(self.ledger.run, "apply_batch", self.apply, tbl, self.batch(e), e,
                            hi - lo, self.epoch_changed[e])
            if out is None:
                break
            self.applied = e + 1
            ev_total += hi - lo
            t_total += dt
            self.ledger.samples["freshness"].append(dt)
            for keys in self.epoch_keys[e]:
                self.ledger.run("read_keys", self.lookup, tbl, keys, hi - 1, lambda hi=hi: hi - 1)
        if t_total:
            self.ledger.samples["events_per_s"].append(ev_total / t_total)

    def after_window(self) -> None:
        """Traced runs only: the layers the closed replay loop leaves
        idle — a changelog pull into a mirror, a snapshot scan, and
        version expiry — each once against the replayed table."""
        from etl_spark.lake.incremental import sync

        tbl = self.table
        self.tracer.wrap(self.mirror, "merge_cdc", "mirror.merge_cdc")
        v0 = int(self.mirror.properties.get("sync_from_version", 0))
        self.ledger.run("sync", self.tracer.call, "incremental.sync", sync, tbl, self.mirror)
        self.syncs.append({"rows": self.ledger.run(
            "changes", lambda: tbl.changes_since(v0).count()) or 0})
        self.ledger.run("scan", self.scan, tbl)
        self.ledger.run("expire_versions", tbl.expire_versions,
                        keep_last=self.args.keep_versions)
        live = self.ledger.run("space_amp", live_snapshot_bytes, tbl, self.path("live"))
        if live:
            self.space_amp = dir_bytes(tbl.root) / live
        got, want = state_digest(self.mirror.read()), state_digest(tbl.read())
        self.ledger.check("mirror", got == want, f"mirror {got} != source {want}")

    def verify(self) -> None:
        n_files = self.p["files_per_epoch"] * self.applied
        self.check_state(self.table, self.files[:n_files])


def create_mirror(spark, src, root: str, pipeline: str):
    """A row-level mirror of ``src``, created by the replay job's
    ``--pipeline`` path and bootstrapped with ``lake.incremental.sync``."""
    from etl_spark.jobs.replay import build_downstream
    from etl_spark.lake.incremental import sync

    with open(pipeline, "w") as f:
        json.dump({"downstream": [{"kind": "mirror", "table": root}]}, f)
    _hooks, (mirror,) = build_downstream(spark, src, pipeline)
    sync(src, mirror)
    return mirror


class StreamTail(Workload):
    """Open-loop stream tail: a publisher renames pre-generated WAL files
    into the tailed directory at a constant rate while a MOR table tails
    them with inline maintenance."""

    name = "stream_tail"

    def stage(self) -> None:
        p = self.p
        self.n_keys = nk = p["keys"]
        self.watched = self.path("wal")
        self.staged = self.path("staged")
        os.makedirs(self.watched)
        os.makedirs(self.staged)
        # the publisher runs for the first ``publish_share`` of the window;
        # the rest is for the tail to drain the last files
        n_tail = int(math.ceil(p["files_per_s"] * self.seconds * p["publish_share"])) + 1
        fe = p["file_events"]
        tail = [(nk + i * fe, nk + (i + 1) * fe) for i in range(n_tail)]
        self.file_keys = [lookup_keys(self.seed, lo, hi, nk, 1, p["lookup_keys"])[0]
                          for lo, hi in tail]
        sampled = {k for keys in self.file_keys for k in keys}
        # the base inserts every key once; it drains as the set-up's
        # warm-up epoch
        self.base_files = [os.path.join(self.watched, "a00000.parquet")]
        self.stage_file(self.base_files[0], 0, nk, sampled)
        self.base_max_seq = nk - 1
        self.tail_files = []
        for i, (lo, hi) in enumerate(tail):
            name = f"f{i:05d}.parquet"
            self.stage_file(os.path.join(self.staged, name), lo, hi, sampled)
            self.tail_files.append({"name": name, "max_seq": hi - 1, "events": hi - lo})

    def setup(self) -> None:
        from etl_spark.jobs.replay import ensure_table
        from etl_spark.streaming.driver import CdcStream

        # the job's stream mode, with inline maintenance every 4th epoch
        # (its default is none)
        a = self.args = job_args(self.path("table"), "--write-mode", "mor",
                                 "--maintain-every", "4")
        self.table = ensure_table(self.spark, a)
        self.stream = CdcStream(self.table, self.path("checkpoint"), **apply_kw(a),
                                lineage_ranges=a.lineage_ranges,
                                maintain_every=a.maintain_every,
                                keep_versions=a.keep_versions,
                                compact_deltas_over=a.compact_deltas_over)
        self.stream.run_to_completion(self.spark, self.watched)
        self.table.read_keys([self.file_keys[0][0]]).collect()

    def _observe(self, stop: threading.Event, flips: queue.Queue) -> None:
        tbl = self.table
        last = tbl.current_version()
        while not stop.is_set():
            try:
                v = tbl.current_version()
                if v != last:
                    m = tbl.manifest(v)
                    flip = {"t": time.time(), "version": v, "max_seq": m.get("max_seq", -1),
                            "deltas": len(m.get("deltas", []))}
                    last = v
                    self.flips.append(flip)
                    flips.put(flip)
            except (FileNotFoundError, ValueError):
                pass  # manifest expired or CURRENT mid-replace: next poll
            stop.wait(0.005)

    def _publish(self, t0: float, stop: threading.Event) -> None:
        rate = self.p["files_per_s"]
        for i, f in enumerate(self.tail_files):
            due = t0 + i / rate
            if stop.wait(max(due - time.time(), 0)):
                return
            os.rename(os.path.join(self.staged, f["name"]), os.path.join(self.watched, f["name"]))
            self.published.append({**f, "due": due, "at": time.time(), "index": i})

    def visible_seq(self) -> int:
        return self.flips[-1]["max_seq"] if self.flips else self.base_max_seq

    def measure(self, seconds: float) -> None:
        self.tracer.wrap(self.stream, "process_batch", "driver.process_batch",
                         attrs=lambda a, kw: {"epoch": str(a[1])})
        trace_table(self.tracer, self.table)
        stop = threading.Event()
        flips: queue.Queue = queue.Queue()
        self.threads = [threading.Thread(target=self._observe, args=(stop, flips), daemon=True)]
        self._stop = stop
        self.threads[0].start()
        self.query = self.stream.start(self.spark, self.watched, available_now=False)
        t0 = time.time()
        pub = threading.Thread(target=self._publish, args=(t0, stop), daemon=True)
        self.threads.append(pub)
        pub.start()
        space = self.ledger.samples["space_bytes"]
        last_seq = self.tail_files[-1]["max_seq"]
        deadline = t0 + seconds + self.p["drain_timeout_s"]
        while time.time() < deadline:
            try:
                flips.get(timeout=0.05)
                if self.traced:
                    space.append(dir_bytes(self.table.root))
            except queue.Empty:
                if not pub.is_alive() and self.visible_seq() >= last_seq:
                    break
        pub.join(timeout=5)
        self.ledger.check("drained", self.visible_seq() >= last_seq,
                          f"visible seq {self.visible_seq()} < published {last_seq}")
        self.progress = [p for p in self.query.recentProgress if p.numInputRows > 0]
        self.close()
        # read back keys of files spread over the tail, on the drained table
        # (a reader racing the tail would slow the epochs it measures)
        n, seen = len(self.published), self.visible_seq()
        for i in range(self.p["lookups"]):
            f = self.published[(2 * i + 1) * n // (2 * self.p["lookups"])]
            self.ledger.run("read_keys", self.lookup, self.table, self.file_keys[f["index"]],
                            seen, lambda: seen)
        for f in self.published:
            seen = next((fl["t"] for fl in self.flips if fl["max_seq"] >= f["max_seq"]), None)
            if seen is not None:
                self.ledger.samples["freshness"].append(seen - f["due"])
            self.ledger.samples["late"].append(f["at"] - f["due"])
        # sustained rate: every published event, from the first file's due
        # time to the flip that made the last one visible. The open loop
        # caps it at the offered rate, so it falls as the last file's lag
        # grows and cannot show drain capacity beyond that rate
        done = next((fl["t"] for fl in self.flips if fl["max_seq"] >= last_seq), None)
        if done is not None and self.published:
            events = sum(f["events"] for f in self.published)
            self.ledger.samples["events_per_s"].append(events / (done - self.published[0]["due"]))

    def after_window(self) -> None:
        """Traced runs only: space amplification of the tailed table, then
        one compaction of its delta chain (the replay job's policy would
        fold it only every 12th epoch, past the window)."""
        from stats import median

        space = self.ledger.samples["space_bytes"]
        live = self.ledger.run("space_amp", live_snapshot_bytes, self.table, self.path("live"))
        if live and space:
            self.space_amp = median(space) / live
        self.ledger.run("compact", self.table.compact)
        self.check_state(self.table, self.files_visible(), "state_after_compact")

    def close(self) -> None:
        stop = getattr(self, "_stop", None)
        if stop is not None:
            stop.set()
        for t in getattr(self, "threads", []):
            t.join(timeout=10)
        q, self.query = getattr(self, "query", None), None
        if q is not None:
            q.stop()

    def files_visible(self) -> list[str]:
        return self.base_files + [os.path.join(self.watched, f["name"]) for f in self.published]

    def verify(self) -> None:
        self.check_state(self.table, self.files_visible())


WORKLOADS = {w.name: w for w in (ReplayBatch, StreamTail)}
