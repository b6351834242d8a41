"""Structured Streaming CDC driver: WAL tail -> exactly-once MERGE.

Protocol per micro-batch (epoch = streaming batch_id):

1. fence check — epoch already in the table manifest? no-op (the
   reference's fetch_db_checksum fence, etl/grapher_import.py:309-340);
2. compute per-partition lineage rows over the RAW batch (seq ranges by
   range-partitioning, so ranges are disjoint; digests are commutative
   sums of row hashes → partition order can't matter, SURVEY.md hard
   part #3) and overwrite them under _lineage/epoch=<id> (idempotent on
   retry: same epoch -> same bytes, dynamic overwrite of that epoch
   dir only);
3. stage (canonicalize -> latest-wins dedup -> sha256) and MERGE with
   the epoch and the batch digest in ``extra_manifest`` — digest +
   epoch land in the SAME atomic manifest commit as the data (the
   reference's write-checksum-after-data commit point,
   etl/steps/__init__.py:793-794, collapsed into one atomic rename).

Crash matrix:
- crash before merge commit: CURRENT unchanged; streaming replays the
  batch under the same batch_id; lineage overwrite is idempotent.
- crash after merge commit, before checkpoint: replay hits the fence,
  no second apply — exactly-once effect from at-least-once delivery.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.cdc import replay as R
from etl_spark.lake.table import LakeTable
from etl_spark.sources.wal import EVENT_SCHEMA_EVOLVED, stream_event_log

_log = logging.getLogger(__name__)

LINEAGE_SCHEMA = "epoch long, partition_id int, seq_min long, seq_max long, row_count long, sha256_digest string"


def lineage_stats(batch: DataFrame, epoch: int, n_ranges: int | None = None):
    """Fused per-batch bookkeeping in TWO tiny jobs over a (cached)
    batch: per-range lineage rows AND the whole-batch digest from the
    SAME aggregation — the per-range bit_xor values xor together into
    the batch digest (xor is associative/commutative), so the drain
    loop never scans the batch a second time just to checksum it.

    Returns (rows, batch_digest_hex): rows in LINEAGE_SCHEMA order,
    the per-range sha256 computed from the range's raw xor exactly as
    the distributed form does (sha256 of the signed-decimal string).
    Deterministic across retries and partitionings: range ids are
    arithmetic from (min, max, n_ranges), never sampled boundaries
    (SURVEY.md hard part #3)."""
    import hashlib

    bounds = batch.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).first()
    if bounds["lo"] is None:
        return [], format(0, "016x")
    lo, hi = bounds["lo"], bounds["hi"]
    nr = n_ranges or 1
    chunk = max((hi - lo + 1 + nr - 1) // nr, 1)
    row_hash = F.xxhash64(*[F.col(c) for c in batch.columns])
    agg_rows = (
        batch.withColumn(
            "partition_id", ((F.col("seq") - F.lit(lo)) / F.lit(chunk)).cast("int")
        )
        .groupBy("partition_id")
        .agg(
            F.min("seq").alias("seq_min"),
            F.max("seq").alias("seq_max"),
            F.count(F.lit(1)).alias("row_count"),
            F.bit_xor(row_hash).alias("xor"),
        )
        .collect()
    )
    total = 0
    rows = []
    for r in sorted(agg_rows, key=lambda x: x["partition_id"]):
        total ^= r["xor"] & 0xFFFFFFFFFFFFFFFF
        rows.append((
            int(epoch), int(r["partition_id"]), int(r["seq_min"]), int(r["seq_max"]),
            int(r["row_count"]), hashlib.sha256(str(r["xor"]).encode()).hexdigest(),
        ))
    return rows, format(total, "016x")


def lineage_rows(batch: DataFrame, epoch: int, n_ranges: int | None = None) -> DataFrame:
    """Per-partition lineage over the raw batch: disjoint seq ranges,
    row counts, and an order-independent digest.

    Range ids are computed ARITHMETICALLY from (min, max, n_ranges) —
    not via repartitionByRange, whose sampled boundaries depend on the
    input partitioning and would make lineage non-deterministic across
    retries (SURVEY.md hard part #3: digests must not depend on
    partition assignment)."""
    bounds = batch.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).first()
    if bounds["lo"] is None:
        return batch.sparkSession.createDataFrame([], LINEAGE_SCHEMA)
    lo, hi = bounds["lo"], bounds["hi"]
    chunk = max((hi - lo + 1 + (n_ranges or 1) - 1) // (n_ranges or 1), 1)
    row_hash = F.xxhash64(*[F.col(c) for c in batch.columns])
    return (
        batch.withColumn(
            "partition_id", ((F.col("seq") - F.lit(lo)) / F.lit(chunk)).cast("int")
        )
        .groupBy("partition_id")
        .agg(
            F.min("seq").alias("seq_min"),
            F.max("seq").alias("seq_max"),
            F.count(F.lit(1)).alias("row_count"),
            # bit_xor: commutative + overflow-free (ANSI mode forbids
            # overflowing sum); rows are unique (seq), so xor-cancel
            # of identical pairs cannot occur
            F.sha2(F.bit_xor(row_hash).cast("string").cast("binary"), 256).alias("sha256_digest"),
        )
        .select(
            F.lit(epoch).cast("long").alias("epoch"),
            F.col("partition_id").cast("int"),
            "seq_min",
            "seq_max",
            "row_count",
            "sha256_digest",
        )
    )


class CdcStream:
    """Owns the foreachBatch loop for one WAL -> one LakeTable."""

    def __init__(
        self,
        table: LakeTable,
        checkpoint_dir: str,
        salted: bool | str = False,
        resolve: str = "fused",
        lineage_ranges: int = 8,
        maintain_every: int | None = None,
        keep_versions: int = 4,
        compact_deltas_over: int = 8,
        downstream=None,
        merge_retries: int = 2,
    ):
        """``maintain_every``: every N applied epochs run maintenance —
        expire data dirs of versions older than ``keep_versions`` and,
        on merge-on-read tables, compact once the delta chain exceeds
        ``compact_deltas_over``. Without it a long-running stream
        accumulates version dirs (COW) or read-time deltas (MOR)
        unboundedly. Maintenance commits are ordinary atomic versions,
        so a crash mid-maintenance is as safe as a crash mid-merge.

        ``downstream``: callables ``hook(table)`` run after every
        APPLIED epoch — the place to keep derived tables current, e.g.
        ``lambda t: sync(t, dst)`` or ``lambda t: sync_agg(t, agg,
        ["lang"])`` (etl_spark.lake.incremental). Each sync carries its
        own atomic watermark, so a crash between the merge and a hook
        only defers that hook's work to the next epoch — the pipeline
        stays exactly-once end to end. Hooks run in order, so a hook
        may chain further hops (src -> derived -> aggregate).

        ``merge_retries``: optimistic-concurrency retries when the
        merge loses a version race to an out-of-band writer (an
        operator's maintain_all compact, a catalog txn) — the retry
        rebases on the new CURRENT; the epoch fence keeps it
        exactly-once. The stream's own maintenance runs in-loop and
        never races itself.

        On an append-only table every event is a fact row, so the
        stream never dedups: ``salted`` and ``resolve`` are inert
        there, and ``salted=True`` or ``resolve="keys_first"`` raise
        (the same guard as ``replay.apply_batch``)."""
        self.append_only, salted, resolve = R.append_guard(table, salted, resolve)
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        self.salted = salted
        self.resolve = resolve
        self.lineage_ranges = lineage_ranges
        self.maintain_every = maintain_every
        self.keep_versions = keep_versions
        self.compact_deltas_over = compact_deltas_over
        self.downstream = list(downstream or [])
        self.merge_retries = merge_retries
        self._applied_since_maintain = 0

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.table.root, "_lineage")

    def _write_lineage(self, rows: list[tuple], epoch: int) -> None:
        """Write this epoch's ≤n_ranges lineage rows straight from the
        driver with pyarrow — measured ~6s per micro-batch as a Spark
        job (tiny-DF createDataFrame + single-task write round-trip),
        ~ms as a direct file write. Idempotent overwrite: fresh dir,
        tmp file, rename — a retry of the same epoch produces the same
        bytes at the same path."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        d = os.path.join(self.lineage_dir, f"e{epoch}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        schema = pa.schema([
            ("epoch", pa.int64()), ("partition_id", pa.int32()),
            ("seq_min", pa.int64()), ("seq_max", pa.int64()),
            ("row_count", pa.int64()), ("sha256_digest", pa.string()),
        ])
        cols = list(zip(*rows)) if rows else [[]] * 6
        tbl = pa.table(
            {f.name: list(c) for f, c in zip(schema, cols)}, schema=schema
        )
        tmp = os.path.join(d, ".part-00000.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(d, "part-00000.parquet"))

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        if not os.path.isdir(self.lineage_dir):
            return spark.createDataFrame([], LINEAGE_SCHEMA)
        dirs = [
            os.path.join(self.lineage_dir, d)
            for d in os.listdir(self.lineage_dir)
            if d.startswith("e")
        ]
        if not dirs:
            return spark.createDataFrame([], LINEAGE_SCHEMA)
        return spark.read.schema(LINEAGE_SCHEMA).parquet(*dirs)

    def read_manifest(self, spark: SparkSession) -> DataFrame:
        """The manifest table, derived from the atomic version chain:
        one row per committed epoch (epoch, batch_digest, committed_at)."""
        rows = []
        seen = set()
        t = self.table
        v = t.current_version()
        while v is not None:
            try:
                m = t.manifest(v)
            except FileNotFoundError:
                break  # retention horizon: older manifests expired
            e = m.get("epoch_committed")
            if e is not None and e not in seen:
                seen.add(e)
                rows.append((int(e), m.get("batch_digest"), float(m["committed_at"])))
            v = m.get("parent")
        return spark.createDataFrame(
            rows or [], "epoch long, batch_digest string, committed_at double"
        ).withColumn("committed_at", F.timestamp_seconds(F.col("committed_at")))

    def _maybe_maintain(self) -> None:
        if not self.maintain_every:
            return
        self._applied_since_maintain += 1
        if self._applied_since_maintain < self.maintain_every:
            return
        self._applied_since_maintain = 0
        m = self.table.manifest()
        if len(m.get("deltas", [])) > self.compact_deltas_over:
            self.table.compact()
        self.table.expire_versions(keep_last=self.keep_versions)

    def process_batch(self, batch: DataFrame, epoch: int) -> dict:
        """Per-batch bookkeeping is FUSED: lineage ranges and the
        batch digest come out of one aggregation (lineage_stats — the
        per-range xors combine into the whole-batch digest), and the
        ≤n_ranges lineage rows are written from the driver — a
        previous revision ran a separate full-payload digest scan plus
        a distributed lineage write per micro-batch. The batch is NOT
        cached: measured on the drain bench, materializing the wide
        content strings into the block store costs more than the
        column-pruned tmpfs/NVMe parquet re-reads it would save (the
        bounds and dirty-bucket probes prune to seq/keys at the scan;
        a cache materializes every column up front)."""
        if self.table.has_epoch(epoch):
            return {"epoch": epoch, "skipped": True}
        # under spark.scheduler.mode=FAIR, keep ingest in its own pool
        # (no-op on FIFO sessions); pairs with MaintenanceSidecar's pool
        self.table.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "ingest")
        can = R.canonicalize(batch)
        if "ts" in can.columns:
            can = can.drop("ts")
        # lineage first (idempotent overwrite of this epoch's dir);
        # a crash before the merge commit leaves it orphaned-but-correct
        rows, digest = lineage_stats(can, epoch, self.lineage_ranges)
        self._write_lineage(rows, epoch)
        salted = self.salted
        if salted == "auto":
            # per-batch hot-key probe (keys-only sample aggregation);
            # opt-in — costs one extra tiny job per micro-batch
            salted = R.decide_salt(can)["salted"]
        if self.append_only:
            # no dedup of any kind: every live event is a fact row
            src = can if self.table.derived_columns else R.with_content_sha256(can)
        elif salted:
            src = R.with_content_sha256(R.dedup_latest_salted(can))
        else:
            # wide-row escape hatch (resolve="keys_first"/"auto"): decide
            # winners on a keys-only shuffle so losing events' payloads
            # never cross an exchange — the multimodal-blob regime
            keys_first = self.resolve == "keys_first" or (
                self.resolve == "auto"
                and R.decide_payload_resolve(can)["keys_first"]
            )
            if self.table.derived_columns:
                # fused path: one max_by resolves dedup + target union
                src = R.dedup_latest_keys_first(can) if keys_first else can
            else:
                dd = R.dedup_latest_keys_first(can) if keys_first else R.dedup_latest(can)
                src = R.with_content_sha256(dd)
        from etl_spark.lake.table import with_conflict_retry

        out = with_conflict_retry(
            lambda: self.table.merge_cdc(
                src,
                epoch=epoch,
                extra_manifest={"epoch_committed": int(epoch), "batch_digest": digest},
            ),
            self.merge_retries,
        )
        self._maybe_maintain()
        self._run_downstream()
        return out

    def _run_downstream(self) -> None:
        for hook in self.downstream:
            hook(self.table)

    def start(
        self,
        spark: SparkSession,
        wal_dir: str,
        schema=None,
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
    ):
        """Start the streaming query. With available_now=True this
        drains the current backlog in rate-limited batches and stops
        (replay mode); otherwise it tails forever."""
        src = stream_event_log(
            spark, wal_dir, schema=schema or EVENT_SCHEMA_EVOLVED,
            max_files_per_trigger=max_files_per_trigger,
        )
        writer = (
            src.writeStream.foreachBatch(lambda df, bid: self.process_batch(df, bid))
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(
        self,
        spark: SparkSession,
        wal_dir: str,
        schema=None,
        max_files_per_trigger: int | None = None,
        timeout_s: float | None = None,
    ) -> None:
        q = self.start(
            spark, wal_dir, schema=schema,
            max_files_per_trigger=max_files_per_trigger, available_now=True,
        )
        try:
            q.awaitTermination(timeout_s) if timeout_s else q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()


class MaintenanceSidecar:
    """Out-of-band table maintenance — the RECOMMENDED mode for
    streaming tables (round-5 default; ``CdcStream(maintain_every=)``
    remains for single-threaded jobs).

    Inline maintenance charges the full compact to whichever epoch
    trips it (~25s stall measured in the round-4 10M drain); a sidecar
    runs it concurrently, and ``LakeTable.compact``'s rebase-commit
    makes losing a version race to the hot committer cost one manifest
    re-read, never a refold — so the stream's per-epoch latency never
    sees maintenance (bench.py ``stream_drain_10m`` records the
    per-epoch series to prove it). Pair with
    ``CdcStream(merge_retries=8)`` so the stream rebases its own lost
    races. In production the same loop runs as a separate process:
    ``spark-submit jobs/replay.py --mode maintain`` on a cron — this
    class is the in-process form.

    Usage::

        side = MaintenanceSidecar(tbl).start()
        try:
            stream.run_to_completion(spark, wal)
        finally:
            side.stop()
    """

    def __init__(
        self,
        table: LakeTable,
        poll_sec: float = 5.0,
        compact_deltas_over: int = 8,
        keep_versions: int = 4,
        compact_retries: int = 4,
    ):
        self.table = table
        self.poll_sec = poll_sec
        self.compact_deltas_over = compact_deltas_over
        self.keep_versions = keep_versions
        self.compact_retries = compact_retries
        self.stats = {"compactions": 0, "lost_races": 0, "expiries": 0,
                      "errors": 0, "last_error": None}
        self._stop = None
        self._thread = None

    def _loop(self) -> None:
        from etl_spark.lake.table import CommitConflictError, with_conflict_retry

        # FAIR-pool isolation: when the session runs with
        # spark.scheduler.mode=FAIR, maintenance jobs land in their own
        # pool so a compact shares cores with the drain instead of
        # serializing ahead of it (local properties are per-thread; a
        # FIFO session ignores the property). On a real cluster, run
        # maintenance as its own application instead (--mode maintain).
        self.table.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "maintenance")
        while not self._stop.is_set():
            try:
                if len(self.table.manifest().get("deltas", [])) > self.compact_deltas_over:
                    with_conflict_retry(self.table.compact, self.compact_retries)
                    self.stats["compactions"] += 1
                    self.table.expire_versions(keep_last=self.keep_versions)
                    self.stats["expiries"] += 1
            except CommitConflictError:
                self.stats["lost_races"] += 1
            except FileNotFoundError:
                pass  # manifest flipped mid-read; next tick re-reads
            except Exception as e:
                # a failed tick (a Spark error in the fold, an OOM) must
                # not kill the thread silently: log it, count it, keep
                # ticking
                _log.exception("maintenance tick failed on %s", self.table.root)
                self.stats["errors"] += 1
                self.stats["last_error"] = repr(e)
            self._stop.wait(self.poll_sec)

    def start(self) -> "MaintenanceSidecar":
        import threading

        if self._thread is not None:
            raise RuntimeError("sidecar already started")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self, final_sweep: bool = False, timeout_s: float = 60.0) -> dict:
        """Stop the loop (optionally one last compact+expire for a
        bounded-depth handoff) and return the maintenance stats.
        ``died_early`` is True when the loop thread had already exited
        before this call, i.e. maintenance stopped without being asked;
        ``errors``/``last_error`` count the ticks that raised."""
        if self._thread is not None:
            self.stats["died_early"] = not self._thread.is_alive()
            self._stop.set()
            self._thread.join(timeout=timeout_s)
            self._thread = None
        if final_sweep:
            from etl_spark.lake.table import with_conflict_retry

            if self.table.manifest().get("deltas"):
                with_conflict_retry(self.table.compact, self.compact_retries)
                self.stats["compactions"] += 1
            self.table.expire_versions(keep_last=self.keep_versions)
            self.stats["expiries"] += 1
        return dict(self.stats)
