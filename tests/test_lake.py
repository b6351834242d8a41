"""LakeTable unit tests: atomic commits, copy-on-write buckets,
schema evolution, time travel, delete, epoch fencing."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake import LakeTable
from etl_spark.lake.schema import SchemaEvolutionError, evolve


def _schema():
    return T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
        ]
    )


def _src(spark, rows, extra_fields=()):
    fields = [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
        *extra_fields,
        T.StructField("op", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
    return spark.createDataFrame(rows, T.StructType(fields))


def test_create_read_empty(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    assert t.read().count() == 0
    assert t.row_count() == 0


def test_merge_insert_update_delete(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1), ("b", 2, "insert", 2)]), epoch=0)
    t.merge_cdc(_src(spark, [("a", 10, "update", 3), ("b", None, "delete", 4)]), epoch=1)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {"a": 10}
    assert t.row_count() == 1


def test_copy_on_write_touches_only_dirty_buckets(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=64)
    rows = [(f"k{i}", i, "insert", i) for i in range(200)]
    t.merge_cdc(_src(spark, rows), epoch=0)
    m0 = t.manifest()
    stats = t.merge_cdc(_src(spark, [("k0", 99, "update", 1000)]), epoch=1)
    assert len(stats["dirty_buckets"]) == 1
    m1 = t.manifest()
    unchanged = [b for b in m0["buckets"] if b not in map(str, stats["dirty_buckets"])]
    for b in unchanged:
        assert m1["buckets"][b]["path"] == m0["buckets"][b]["path"]


def test_time_travel(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    t.merge_cdc(_src(spark, [("a", 2, "update", 2)]), epoch=1)
    assert t.read(version=1).first()["v"] == 1
    assert t.read(version=2).first()["v"] == 2


def test_epoch_fence_skips(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=7)
    out = t.merge_cdc(_src(spark, [("a", 999, "update", 99)]), epoch=7)
    assert out["skipped"] is True
    assert t.read().first()["v"] == 1


def test_schema_add_column(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    extra = (T.StructField("tag", T.StringType(), True),)
    t.merge_cdc(_src(spark, [("b", 2, "x", "insert", 2)], extra), epoch=1)
    got = {r["k"]: (r["v"], r["tag"]) for r in t.read().collect()}
    assert got == {"a": (1, None), "b": (2, "x")}
    assert "tag" in t.schema().names


def test_schema_widen_int_to_long(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    wide = spark.createDataFrame(
        [("b", 2**40, "insert", 2)],
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("v", T.LongType(), True),
                T.StructField("op", T.StringType(), False),
                T.StructField("seq", T.LongType(), False),
            ]
        ),
    )
    t.merge_cdc(wide, epoch=1)
    assert dict(t.read().dtypes)["v"] == "bigint"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 2**40}


def test_schema_narrow_rejected():
    with pytest.raises(SchemaEvolutionError):
        evolve(
            T.StructType([T.StructField("v", T.LongType())]),
            T.StructType([T.StructField("v", T.StringType())]),
        )
    # narrower incoming is fine (table type covers it), no change
    s, changed = evolve(
        T.StructType([T.StructField("v", T.LongType())]),
        T.StructType([T.StructField("v", T.IntegerType())]),
    )
    assert not changed and s.fields[0].dataType == T.LongType()


def test_rename_column(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    t.rename_column("v", "val")
    assert "val" in t.read().columns and "v" not in t.read().columns
    assert t.read().first()["val"] == 1


def test_delete_where(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    rows = [(f"k{i}", i, "insert", i) for i in range(20)]
    t.merge_cdc(_src(spark, rows), epoch=0)
    t.delete_where(F.col("v") >= 10)
    assert t.read().count() == 10


def test_crash_before_commit_invisible(spark, tmp_path):
    """Orphan data files from a crashed commit never surface: CURRENT
    still points at the old manifest (commit-last semantics)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    # simulate a crash: data dir for v2 written, manifest never committed
    os.makedirs(str(tmp_path / "t" / "data" / "v2" / "_b=0"), exist_ok=True)
    assert t.current_version() == 1
    assert t.read().count() == 1


def test_upsert_source_wins(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1), ("b", 2, "insert", 2)]), epoch=0)
    up = spark.createDataFrame([Row(k="a", v=100), Row(k="c", v=3)], _schema())
    t.upsert(up)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {"a": 100, "b": 2, "c": 3}


def test_expire_versions(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=2)
    for i in range(4):
        t.merge_cdc(_src(spark, [("a", i, "update" if i else "insert", i + 1)]), epoch=i)
    t.expire_versions(keep_last=1)
    assert t.read().first()["v"] == 3  # current still readable


def test_expire_orphan_grace_protects_inflight_write(spark, tmp_path):
    """The vacuum race: a concurrent writer's data dir exists on disk
    before its manifest commit. expire_versions must NOT reclaim a
    never-referenced dir younger than the grace window (it may be an
    in-flight write), must reclaim it once aged past the window, and
    must reclaim expired-manifest-referenced dirs immediately
    regardless of mtime (their manifests prove no writer owns them)."""
    import os

    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=2)
    for i in range(3):
        t.merge_cdc(_src(spark, [("a", i, "update" if i else "insert", i + 1)]), epoch=i)
    # simulate an in-flight writer: data dir present, no manifest yet
    inflight = tmp_path / "t" / "data" / "v99-deadbeef"
    inflight.mkdir(parents=True)
    (inflight / "_b=0").mkdir()
    t.expire_versions(keep_last=1)  # default 1h grace
    assert inflight.is_dir(), "fresh unreferenced dir must survive (may be in-flight)"
    # expired versions' dirs are gone even though their mtimes are recent:
    # they are referenced by (now deleted) manifests, so provably abandoned
    assert t.read().first()["v"] == 2
    # age the orphan past the window -> reclaimed
    old = 1_000_000_000
    os.utime(inflight, (old, old))
    t.expire_versions(keep_last=1)
    assert not inflight.exists(), "aged orphan must be reclaimed"


def test_purge_tombstones(spark, tmp_path, repos_schema):
    from pyspark.sql import functions as F

    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "t"), repos_schema, ["repo", "path"], n_buckets=4)
    src = spark.createDataFrame(
        [("r", "a", "c1", None, "x", "insert", 1),
         ("r", "b", "c2", None, "y", "insert", 2),
         ("r", "a", None, None, None, "delete", 3)],
        "repo string, path string, commit string, lang string, content string, op string, seq long",
    )
    t.merge_cdc(src, epoch=0)
    assert t.read().count() == 1
    assert t.read(include_tombstones=True).count() == 2
    # watermark below the tombstone seq: nothing purged
    t.purge_tombstones(2)
    assert t.read(include_tombstones=True).count() == 2
    t.purge_tombstones(3)
    assert t.read(include_tombstones=True).count() == 1
    assert t.read().count() == 1
    # after purge, an out-of-order OLD event for the purged key re-inserts
    # (documented contract: only purge below the reader's watermark)


def test_rebucket(spark, tmp_path, repos_schema):
    from pyspark.sql import functions as F

    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "rb"), repos_schema, ["repo", "path"], n_buckets=2)
    src = spark.createDataFrame(
        [(f"r{i%3}", f"p{i}", f"c{i}", None, f"body{i}", "insert", i) for i in range(50)],
        "repo string, path string, commit string, lang string, content string, op string, seq long",
    )
    t.merge_cdc(src, epoch=0)
    before = {tuple(r) for r in t.read().select("repo", "path", "content").collect()}
    v = t.rebucket(8)
    assert t.n_buckets == 8
    after = {tuple(r) for r in t.read().select("repo", "path", "content").collect()}
    assert before == after
    assert t.row_count() == 50
    # merges keep working against the new layout
    up = spark.createDataFrame(
        [("r0", "p0", "c99", None, "new", "update", 100)],
        "repo string, path string, commit string, lang string, content string, op string, seq long",
    )
    t.merge_cdc(up, epoch=1)
    got = t.read().filter("path = 'p0'").first()
    assert got["content"] == "new"
    # old version still readable (time travel across rebucket)
    assert t.read(version=v - 1).count() == 50


def test_commit_conflict_detected(spark, tmp_path, repos_schema):
    """Optimistic concurrency: a writer racing for an already-claimed
    version number fails loudly instead of clobbering the other commit."""
    import pytest as _pytest

    from etl_spark.lake.table import CommitConflictError, LakeTable

    t = LakeTable.create(spark, str(tmp_path / "cc"), repos_schema, ["repo", "path"], n_buckets=2)
    src = spark.createDataFrame(
        [("r", "p", "c", None, "x", "insert", 1)],
        "repo string, path string, commit string, lang string, content string, op string, seq long",
    )
    t.merge_cdc(src, epoch=0)
    # simulate a second writer that read version 0 and tries to commit v1
    stale = LakeTable(spark, str(tmp_path / "cc"))
    m0 = stale.manifest(0)
    with _pytest.raises(CommitConflictError):
        stale._commit({**m0, "version": 1, "parent": 0})
    # the real v1 is intact
    assert t.current_version() == 1
    assert t.read().count() == 1


def test_properties_and_column_docs(spark, tmp_path, repos_schema):
    import pytest as _pytest

    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "pp"), repos_schema, ["repo", "path"],
                         n_buckets=2, properties={"owner": "ingest"})
    assert t.properties == {"owner": "ingest"}
    v = t.set_properties(sla="hourly")
    assert t.properties == {"owner": "ingest", "sla": "hourly"}
    t.set_column_docs(content="raw file body at last commit", lang="language tag, nullable")
    assert "raw file body" in t.column_docs()["content"]
    with _pytest.raises(ValueError):
        t.set_column_docs(nope="missing column")
    # metadata-only commits are versions too (time travel sees old props)
    assert t.manifest(v - 1).get("properties", {}).get("sla") is None


def test_losing_writer_cannot_clobber_winner_data(spark, tmp_path, repos_schema):
    """Data/delta dirs are unique per attempt: a concurrent writer that
    loses the manifest race leaves orphan files — the winner's
    already-committed data is untouched (previously both wrote
    data/v{N} with mode overwrite, so the loser silently replaced the
    winner's files AFTER the winner's manifest pointed at them)."""
    import pytest as _pytest

    from etl_spark.lake.table import CommitConflictError, LakeTable

    t = LakeTable.create(spark, str(tmp_path / "race"), repos_schema, ["repo", "path"], n_buckets=2)
    t.merge_cdc(
        spark.createDataFrame(
            [("r", "p", "c", None, "winner", "insert", 1)],
            "repo string, path string, commit string, lang string, content string, op string, seq long",
        ),
        epoch=0,
    )
    # a stale writer replays the same version number with DIFFERENT data
    stale = LakeTable(spark, str(tmp_path / "race"))
    stale_m = stale.manifest(0)

    class _Stale(LakeTable):
        def manifest(self, version=None):
            return stale_m if version in (None, 0) else super().manifest(version)

    loser = _Stale(spark, str(tmp_path / "race"))
    with _pytest.raises(CommitConflictError):
        loser.merge_cdc(
            spark.createDataFrame(
                [("r", "p", "c", None, "loser", "insert", 99)],
                "repo string, path string, commit string, lang string, content string, op string, seq long",
            ),
        )
    # the winner's committed bytes are still what its manifest points at
    assert t.read().first()["content"] == "winner"


def test_manifest_tracks_max_seq_and_upsert_is_o1(spark, tmp_path, repos_schema):
    """max_seq is maintained by every merge commit (including deletes,
    whose tombstone may hold the max), so upsert() assigns the next seq
    from the manifest instead of scanning the table."""
    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "ms"), repos_schema, ["repo", "path"], n_buckets=2)
    t.merge_cdc(
        spark.createDataFrame(
            [("r", "a", "c1", None, "x", "insert", 5),
             ("r", "b", "c2", None, "y", "insert", 7)],
            "repo string, path string, commit string, lang string, content string, op string, seq long",
        ),
        epoch=0,
    )
    assert t.manifest()["max_seq"] == 7
    # a delete carries the new max seq — tracked even though the row is a tombstone
    t.merge_cdc(
        spark.createDataFrame(
            [("r", "b", None, None, None, "delete", 11)],
            "repo string, path string, commit string, lang string, content string, op string, seq long",
        ),
        epoch=1,
    )
    assert t.manifest()["max_seq"] == 11
    # upsert must outrank the seq-11 tombstone: re-inserting key b wins
    up = spark.createDataFrame(
        [("r", "b", "c3", None, "z", None)],
        "repo string, path string, commit string, lang string, content string, content_sha256 string",
    ).drop("content_sha256")
    t.upsert(up)
    got = {r["path"]: r["content"] for r in t.read().collect()}
    assert got == {"a": "x", "b": "z"}
    assert t.manifest()["max_seq"] == 12


def test_rename_is_metadata_only(spark, tmp_path):
    """Rename touches no data file: the manifest grows a rename map and
    readers resolve old-named files through it (Iceberg-style O(1)
    rename; a previous revision rewrote the whole table)."""
    import glob

    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1), ("b", 2, "insert", 2)]), epoch=0)
    files_before = sorted(glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True))
    mtimes = {f: os.path.getmtime(f) for f in files_before}
    t.rename_column("v", "val")
    files_after = sorted(glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True))
    assert files_before == files_after
    assert all(os.path.getmtime(f) == mtimes[f] for f in files_after)
    got = {r["k"]: r["val"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 2}
    # old snapshot still reads under the old name (time travel)
    old = t.read(version=1)
    assert "v" in old.columns and "val" not in old.columns


def test_rename_then_merge_and_double_rename(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    t.rename_column("v", "val")
    # merges after the rename use the new name; old files still resolve
    src2 = spark.createDataFrame(
        [Row(k="b", val=9, op="insert", seq=2)], "k string, val long, op string, seq long"
    )
    t.merge_cdc(src2, epoch=1)
    got = {r["k"]: r["val"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 9}
    # second rename composes across generations
    t.rename_column("val", "value")
    got2 = {r["k"]: r["value"] for r in t.read().collect()}
    assert got2 == {"a": 1, "b": 9}
    # key/internal columns are not renamable
    import pytest as _pytest

    from etl_spark.lake.schema import SchemaEvolutionError

    with _pytest.raises(SchemaEvolutionError):
        t.rename_column("k", "key")


def test_rename_updates_derived_spec(spark, tmp_path, repos_schema):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), repos_schema, ["repo", "path"], n_buckets=2,
        derived={"content_sha256": ("sha256", "content")},
    )
    t.merge_cdc(
        spark.createDataFrame(
            [("r", "p", "c", None, "x", "insert", 1)],
            "repo string, path string, commit string, lang string, content string, op string, seq long",
        ),
        epoch=0,
    )
    t.rename_column("content", "body")
    assert t.derived_columns == {"content_sha256": ["sha256", "body"]}
    src = spark.createDataFrame(
        [("r", "q", "c2", None, "y", "insert", 2)],
        "repo string, path string, commit string, lang string, body string, op string, seq long",
    )
    t.merge_cdc(src, epoch=1)
    got = {r["path"]: r["content_sha256"] for r in t.read().collect()}
    import hashlib as _h

    assert got["q"] == _h.sha256(b"y").hexdigest()
    assert got["p"] == _h.sha256(b"x").hexdigest()  # pre-rename checksum intact


def test_catalog_info(spark, tmp_path):
    from etl_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "cat"))
    t1 = cat.create_table("alpha", _schema(), ["k"], n_buckets=2)
    t1.merge_cdc(_src(spark, [("a", 1, "insert", 1), ("b", 2, "insert", 2)]), epoch=0)
    cat.create_table("beta", _schema(), ["k"], n_buckets=4, write_mode="mor")
    info = {r["table"]: r for r in cat.info().collect()}
    assert set(info) == {"alpha", "beta"}
    assert info["alpha"]["rows"] == 2 and info["alpha"]["n_epochs"] == 1
    assert info["beta"]["write_mode"] == "mor" and info["beta"]["rows"] == 0
    # find == filter
    assert cat.info().filter("rows > 0").count() == 1


def test_sort_cols_cluster_within_bucket_files(spark, tmp_path):
    """sort_cols clusters rows within every bucket file on rewrite, so
    parquet row-group min/max stats become selective for range
    predicates on the sort column (hash bucketing alone scatters it
    across the full range in every row group)."""
    import glob

    import pyarrow.parquet as pq

    from etl_spark.lake.table import LakeTable

    sch = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("ts", T.LongType(), True),
        T.StructField("v", T.IntegerType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), sch, ["k"], n_buckets=2,
                         sort_cols=["ts"])
    import random

    rng = random.Random(7)
    rows = [(f"k{i}", rng.randrange(10**6), i, "insert", i + 1) for i in range(4000)]
    src = spark.createDataFrame(
        rows, "k string, ts long, v int, op string, seq long")
    t.merge_cdc(src, epoch=0)
    files = glob.glob(str(tmp_path / "t" / "data" / "v*" / "_b=*" / "*.parquet"))
    assert files
    for f in files:
        ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
        assert ts == sorted(ts), f"rows not clustered by ts in {f}"
    # survives a second merge (full bucket rewrite re-sorts)
    t.merge_cdc(spark.createDataFrame(
        [("k1", 5, 99, "update", 10_000)],
        "k string, ts long, v int, op string, seq long"), epoch=1)
    files = glob.glob(str(tmp_path / "t" / "data" / "v*" / "_b=*" / "*.parquet"))
    for f in files:
        ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
        assert ts == sorted(ts)


def test_onward_pin_retains_version_range(spark, tmp_path):
    """A point pin retains exactly its version; an ONWARD pin retains
    its version and everything after — the intermediate delta files a
    streaming change-feed consumer still has to read (only their own
    manifests reference them, so point pins let expiry reclaim them)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"],
                         n_buckets=2, write_mode="mor")
    for i in range(6):
        t.merge_cdc(_src(spark, [(f"k{i}", i, "insert", i + 1)]), epoch=i)
    assert t.current_version() == 6

    # point pin at v2: expire keeps v2 + last 2, reclaims v3/v4
    t.pin("batch-consumer", 2)
    t.expire_versions(keep_last=2, orphan_grace_sec=0)
    retained = set()
    for v in range(1, 7):
        try:
            t.manifest(v)
            retained.add(v)
        except Exception:
            pass
    assert retained == {2, 5, 6}

    t2 = LakeTable.create(spark, str(tmp_path / "t2"), _schema(), ["k"],
                          n_buckets=2, write_mode="mor")
    for i in range(6):
        t2.merge_cdc(_src(spark, [(f"k{i}", i, "insert", i + 1)]), epoch=i)
    t2.pin("stream-consumer", 2, onward=True)
    t2.expire_versions(keep_last=2, orphan_grace_sec=0)
    for v in range(2, 7):
        m = t2.manifest(v)  # all retained
        for d in m.get("deltas", []):
            for ent in d["buckets"].values():
                assert os.path.exists(ent["path"]), f"v{v} delta reclaimed"
    with pytest.raises(Exception):
        t2.manifest(1)
    # advancing the pin re-enables reclamation behind it
    t2.pin("stream-consumer", 5, onward=True)
    t2.expire_versions(keep_last=2, orphan_grace_sec=0)
    with pytest.raises(Exception):
        t2.manifest(3)
    assert t2.oldest_version() == 5


def test_target_file_rows_bounds_files_per_bucket(spark, tmp_path):
    """target_file_rows splits a bucket rewrite into size-bounded
    files (maxRecordsPerFile) — every read path globs the bucket DIR,
    so multi-file buckets read back identically, and the cap survives
    compaction (the rewrite that would otherwise re-monolith)."""
    import glob

    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=2,
        write_mode="mor", properties={"target_file_rows": 300},
    )
    rows = [(f"k{i}", i, "insert", i + 1) for i in range(4000)]
    t.merge_cdc(spark.createDataFrame(rows, "k string, v int, op string, seq long"),
                epoch=0)
    t.compact()
    by_bucket = {}
    for f in glob.glob(str(tmp_path / "t" / "data" / "v*" / "_b=*" / "*.parquet")):
        by_bucket.setdefault(os.path.dirname(f), []).append(f)
    live = {b: fs for b, fs in by_bucket.items()
            if any(e["path"] == b for e in t.manifest()["buckets"].values())}
    assert live and all(len(fs) > 1 for fs in live.values()), (
        "expected multiple capped files per live bucket dir")
    import pyarrow.parquet as pq

    for fs in live.values():
        assert all(pq.read_metadata(f).num_rows <= 300 for f in fs)
    assert t.read().count() == 4000
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got["k7"] == 7 and len(got) == 4000


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """clone() copies only metadata (no data dirs under the clone
    root), reads identically, then diverges copy-on-write: a merge
    into the clone never touches the source, and the source stays
    protected from expiry by the auto-pin until unpinned."""
    import glob

    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "src"), _schema(), ["k"], n_buckets=2)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1), ("b", 2, "insert", 2)]), epoch=0)
    v_clone = t.current_version()

    c = t.clone(str(tmp_path / "dev"))
    assert {r["k"]: r["v"] for r in c.read().collect()} == {"a": 1, "b": 2}
    assert glob.glob(str(tmp_path / "dev" / "data" / "*")) == []  # zero-copy
    pin_name = c.manifest()["cloned_from"]["pin"]
    assert pin_name.startswith("clone:dev:")  # basename + abspath hash
    assert t.pins() == {pin_name: v_clone}

    # the clone inherits the source's epoch fences: replaying an
    # already-applied epoch skips (the clone HAS that data)
    assert c.merge_cdc(_src(spark, [("z", 0, "insert", 9)]), epoch=0)["skipped"] is True
    # copy-on-write divergence
    c.merge_cdc(_src(spark, [("a", 99, "update", 10)]), epoch=77)
    assert {r["k"]: r["v"] for r in c.read().collect()} == {"a": 99, "b": 2}
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 1, "b": 2}
    assert glob.glob(str(tmp_path / "dev" / "data" / "*"))  # clone's own files now
    # clone's change feed is sound across the clone point
    feed = {r["k"]: r["_change_type"] for r in c.changes_since(v_clone).collect()}
    assert feed == {"a": "upsert"}
    # clone maintenance never touches source storage
    c.expire_versions(keep_last=1, orphan_grace_sec=0.0)
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 1, "b": 2}
    assert {r["k"]: r["v"] for r in c.read().collect()} == {"a": 99, "b": 2}

    # source churns on; the auto-pin holds the cloned version through expiry
    for i in range(3):
        t.merge_cdc(_src(spark, [("a", 10 + i, "update", 20 + i)]), epoch=i + 1)
    t.expire_versions(keep_last=1)
    assert {r["k"]: r["v"] for r in t.read(version=v_clone).collect()} == {"a": 1, "b": 2}
    assert {r["k"]: r["v"] for r in c.read().collect()} == {"a": 99, "b": 2}
    t.unpin(pin_name)
    t.expire_versions(keep_last=1)
    import pytest as _pytest

    with _pytest.raises(Exception):
        # the clone's 'a' bucket at the clone point pointed into source
        # v1 files, now legitimately reclaimed — dropping a clone must
        # unpin, and unpinning while the clone lives breaks it (as
        # documented)
        t.read(version=v_clone).collect()


def test_version_at_timestamp_time_travel(spark, tmp_path):
    """read(as_of_ts=) resolves the newest version committed at or
    before the instant (TIMESTAMP AS OF); before-creation instants
    raise, and expired history is honestly out of reach."""
    import time as _time

    import pytest as _pytest

    from etl_spark.lake.table import ExpiredVersionError, LakeTable

    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=2)
    stamps = []
    for i in range(3):
        t.merge_cdc(_src(spark, [("a", i, "update" if i else "insert", i + 1)]), epoch=i)
        stamps.append(t.manifest()["committed_at"])
        _time.sleep(0.05)
    # an instant between commit 1 and commit 2 resolves to version 2's state
    mid = (stamps[1] + stamps[2]) / 2
    assert t.version_at(mid) == 2
    assert t.read(as_of_ts=mid).first()["v"] == 1
    assert t.read(as_of_ts=_time.time()).first()["v"] == 2
    with _pytest.raises(ExpiredVersionError):
        t.version_at(stamps[0] - 10_000)
    with _pytest.raises(ValueError):
        t.read(version=1, as_of_ts=mid)


def test_clone_catalog(spark, tmp_path):
    from etl_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "prod"))
    for name, rows in [("users", [("u1", 1, "insert", 1)]),
                       ("items", [("i1", 7, "insert", 1)])]:
        t = cat.create_table(name, _schema(), ["k"], n_buckets=2)
        t.merge_cdc(_src(spark, rows), epoch=0)
    dev = cat.clone_catalog(str(tmp_path / "dev"))
    assert dev.list_tables() == ["items", "users"]
    assert dev.table("items").read().first()["v"] == 7
    # divergence: write in dev, prod untouched
    dev.table("users").merge_cdc(_src(spark, [("u1", 99, "update", 5)]), epoch=1)
    assert dev.table("users").read().first()["v"] == 99
    assert cat.table("users").read().first()["v"] == 1


def test_write_audit_publish_via_clone_and_merge_from(spark, tmp_path):
    """The WAP workflow end-to-end: clone prod, merge a candidate
    batch into the clone, audit it, publish with merge_from — prod's
    state becomes exactly the audited state, downstream syncs converge
    through the ordinary change feed, and republishing is a no-op."""
    from etl_spark.lake.incremental import sync
    from etl_spark.lake.table import LakeTable

    prod = LakeTable.create(spark, str(tmp_path / "prod"), _schema(), ["k"], n_buckets=4)
    prod.merge_cdc(_src(spark, [("a", 1, "insert", 1), ("b", 2, "insert", 2),
                                ("c", 3, "insert", 3)]), epoch=0)
    mirror = LakeTable.create(spark, str(tmp_path / "mir"), _schema(), ["k"], n_buckets=4)
    sync(prod, mirror)
    v_pre = prod.current_version()

    stage = prod.clone(str(tmp_path / "stage"))
    # candidate batch: update a, delete b, create d
    stage.merge_cdc(_src(spark, [("a", 10, "update", 4), ("b", 0, "delete", 5),
                                 ("d", 40, "insert", 6)]), epoch=1)
    audited = {r["k"]: r["v"] for r in stage.read().collect()}
    assert audited == {"a": 10, "c": 3, "d": 40}  # the audit

    res = prod.merge_from(stage)
    assert res["skipped"] is False
    assert {r["k"]: r["v"] for r in prod.read().collect()} == audited
    assert prod.manifest()["merged_from"]["version"] == stage.current_version()
    # the publish IS a change batch: feed shows exactly the touched keys
    kinds = {r["k"]: r["_change_type"] for r in prod.changes_since(v_pre).collect()}
    assert kinds == {"a": "upsert", "b": "delete", "d": "upsert"}
    # downstream converges with no special handling
    sync(prod, mirror)
    assert {r["k"]: r["v"] for r in mirror.read().collect()} == audited
    # republishing the same state is a no-op (pointer compare or empty diff)
    res2 = prod.merge_from(stage)
    assert res2["skipped"] is True


def test_merge_from_evolves_schema_from_source(spark, tmp_path):
    """A staged table that added a column publishes it: merge_from
    evolves the target transactionally with the diff batch."""
    from etl_spark.lake.table import LakeTable

    prod = LakeTable.create(spark, str(tmp_path / "p"), _schema(), ["k"], n_buckets=2)
    prod.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    stage = prod.clone(str(tmp_path / "s"))
    stage.merge_cdc(
        _src(spark, [("a", 2, 5, "update", 2)],
             extra_fields=(T.StructField("w", T.IntegerType(), True),)),
        epoch=1,
    )
    prod.merge_from(stage)
    row = prod.read().first()
    assert row["v"] == 2 and row["w"] == 5
    assert "w" in [f.name for f in prod.schema().fields]


def test_restore_compensating_merge(spark, tmp_path):
    """restore(v) rolls user-visible state back to snapshot v as an
    ordinary change batch: changed keys upsert back to old values,
    keys created since are tombstoned — so an incremental mirror that
    already consumed the bad versions CONVERGES to the restored state
    (a pointer-flip restore would be invisible to changes_since)."""
    from etl_spark.lake.incremental import sync
    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1), ("b", 2, "insert", 2)]), epoch=0)
    v_good = t.current_version()
    good = {r["k"]: r["v"] for r in t.read().collect()}
    # bad batches: change a, delete b, create c
    t.merge_cdc(_src(spark, [("a", 99, "update", 3), ("b", 0, "delete", 4)]), epoch=1)
    t.merge_cdc(_src(spark, [("c", 7, "insert", 5)]), epoch=2)

    # a mirror consumes everything, including the bad versions
    mirror = LakeTable.create(spark, str(tmp_path / "m"), _schema(), ["k"], n_buckets=4)
    sync(t, mirror)
    assert {r["k"]: r["v"] for r in mirror.read().collect()} == {"a": 99, "c": 7}

    res = t.restore(v_good)
    assert res["skipped"] is False
    assert {r["k"]: r["v"] for r in t.read().collect()} == good
    assert t.manifest().get("restored_from") == v_good
    # the compensating rows flow through the change feed
    feed = t.changes_since(res["version"] - 1)
    kinds = {r["k"]: r["_change_type"] for r in feed.collect()}
    assert kinds == {"a": "upsert", "b": "upsert", "c": "delete"}
    # and the lagging mirror converges without a rebuild
    sync(t, mirror)
    assert {r["k"]: r["v"] for r in mirror.read().collect()} == good
    # restoring to the already-current state is a no-op
    v_now = t.current_version()
    res2 = t.restore(v_now)
    assert res2["skipped"] is True and t.current_version() == v_now


def test_restore_nulls_columns_added_since(spark, tmp_path):
    """Widen-only evolution is irreversible: restore keeps the evolved
    schema but NULLs columns added after the target snapshot on every
    restored row."""
    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=2)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    v_good = t.current_version()
    t.merge_cdc(
        _src(spark, [("a", 2, 10, "update", 2)],
             extra_fields=(T.StructField("w", T.IntegerType(), True),)),
        epoch=1,
    )
    assert t.read().first()["w"] == 10
    t.restore(v_good)
    row = t.read().first()
    assert row["v"] == 1 and row["w"] is None
    assert "w" in [f.name for f in t.schema().fields]  # schema stays evolved


def test_merge_retry_after_conflict_and_orphan_cleanup(spark, tmp_path, repos_schema):
    """A writer that loses the version race retries against the new
    CURRENT and lands both changes; the loser's orphaned attempt dir
    disappears with expire_versions."""
    import glob

    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "r"), repos_schema, ["repo", "path"], n_buckets=2)
    t.merge_cdc(
        spark.createDataFrame(
            [("r", "a", "c", None, "one", "insert", 1)],
            "repo string, path string, commit string, lang string, content string, op string, seq long",
        ),
        epoch=0,
    )
    # stale handle that thinks CURRENT is v1 while another writer commits v2
    stale_m = t.manifest()

    class _Stale(LakeTable):
        calls = 0

        def manifest(self, version=None):
            # first read returns the stale view; after the conflict the
            # retry re-reads the real CURRENT
            _Stale.calls += 1
            if version is None and _Stale.calls == 1:
                return stale_m
            return super().manifest(version)

    # the other writer wins v2
    t.merge_cdc(
        spark.createDataFrame(
            [("r", "b", "c", None, "two", "insert", 2)],
            "repo string, path string, commit string, lang string, content string, op string, seq long",
        ),
        epoch=1,
    )
    loser = _Stale(spark, str(tmp_path / "r"))
    res = loser.merge_cdc_with_retry(
        spark.createDataFrame(
            [("r", "c", "c", None, "three", "insert", 3)],
            "repo string, path string, commit string, lang string, content string, op string, seq long",
        ),
        epoch=2,
    )
    assert res["skipped"] is False
    got = {r["path"]: r["content"] for r in t.read().collect()}
    assert got == {"a": "one", "b": "two", "c": "three"}
    # the failed attempt left an orphan data dir. Within the grace
    # window it is indistinguishable from an in-flight write, so the
    # default expire keeps it; with the grace waived it is reclaimed.
    n_dirs_before = len(glob.glob(str(tmp_path / "r" / "data" / "v*")))
    t.expire_versions(keep_last=10)  # keep all live versions; fresh orphan survives
    assert len(glob.glob(str(tmp_path / "r" / "data" / "v*"))) == n_dirs_before
    t.expire_versions(keep_last=10, orphan_grace_sec=0.0)
    n_dirs_after = len(glob.glob(str(tmp_path / "r" / "data" / "v*")))
    assert n_dirs_after < n_dirs_before
    assert {r["path"] for r in t.read().collect()} == {"a", "b", "c"}


def test_read_keys_point_lookup(spark, tmp_path, repos_schema):
    """Point lookup reads only the buckets the keys hash to."""
    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "pk"), repos_schema, ["repo", "path"], n_buckets=8)
    rows = [(f"r{i % 4}", f"p{i}", f"c{i}", None, f"body{i}", "insert", i) for i in range(200)]
    t.merge_cdc(
        spark.createDataFrame(
            rows,
            "repo string, path string, commit string, lang string, content string, op string, seq long",
        ),
        epoch=0,
    )
    got = t.read_keys([("r1", "p5"), ("r2", "p6"), ("r9", "nope")])
    out = {(r["repo"], r["path"]): r["content"] for r in got.collect()}
    assert out == {("r1", "p5"): "body5", ("r2", "p6"): "body6"}
    # empty key list
    assert t.read_keys([]).count() == 0


def test_history_chain(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "h"), _schema(), ["k"], n_buckets=2)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    t.set_properties(owner="me")
    h = t.history().orderBy("version").collect()
    assert [r["version"] for r in h] == [0, 1, 2]
    assert h[2]["note"] == "set_properties"
    assert h[1]["rows"] == 1 and h[1]["n_epochs"] == 1


# ---------------------------------------------------------------------------
# metadata-only column drop + tags
# ---------------------------------------------------------------------------


def test_drop_column_metadata_only(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([T.StructField("k", T.StringType(), False),
                      T.StructField("v", T.IntegerType(), True),
                      T.StructField("c", T.StringType(), True)]),
        ["k"], n_buckets=4,
    )
    rows = spark.createDataFrame(
        [("a", 1, "x", "insert", 1), ("b", 2, "y", "insert", 2)],
        "k string, v int, c string, op string, seq long",
    )
    t.merge_cdc(rows)
    m_before = t.manifest()
    t.drop_column("c")
    # no data rewritten: every bucket pointer is unchanged
    assert {b: e["path"] for b, e in t.manifest()["buckets"].items()} == \
           {b: e["path"] for b, e in m_before["buckets"].items()}
    assert "c" not in t.read().columns
    # time travel before the drop still shows the values
    assert {r["c"] for r in t.read(version=m_before["version"]).collect()} == {"x", "y"}


def test_drop_column_no_resurrection(spark, tmp_path):
    """Re-adding a dropped column must bind to fresh NULLs for rows in
    files written before the drop — never to the dropped values (the
    name-based-mapping hazard)."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([T.StructField("k", T.StringType(), False),
                      T.StructField("c", T.StringType(), True)]),
        ["k"], n_buckets=1,
    )
    t.merge_cdc(spark.createDataFrame([("a", "OLD", "insert", 1)],
                                      "k string, c string, op string, seq long"))
    t.drop_column("c")
    # a later batch re-introduces 'c' (legal add evolution) for key b only
    t.merge_cdc(spark.createDataFrame([("b", "NEW", "insert", 2)],
                                      "k string, c string, op string, seq long"))
    got = {r["k"]: r["c"] for r in t.read().collect()}
    assert got == {"a": None, "b": "NEW"}  # 'a' must NOT resurrect "OLD"


def test_drop_column_guards(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([T.StructField("k", T.StringType(), False),
                      T.StructField("content", T.StringType(), True),
                      T.StructField("sha", T.StringType(), True)]),
        ["k"], n_buckets=2, derived={"sha": ("sha256", "content")},
    )
    for bad in ("k", "last_seq", "content", "sha", "nope"):
        with pytest.raises(SchemaEvolutionError):
            t.drop_column(bad)


def test_tags_pin_and_survive_expiry(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=2)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]))
    t.tag("training-run-7")
    v_tagged = t.current_version()
    for i in range(2, 8):
        t.merge_cdc(_src(spark, [("a", i, "update", i)]))
    t.expire_versions(keep_last=1)
    # the tagged snapshot's data survived expiry and reads exactly
    assert t.read(tag="training-run-7").first()["v"] == 1
    assert t.tags() == {"training-run-7": v_tagged}
    t.delete_tag("training-run-7")
    assert t.tags() == {}
    with pytest.raises(KeyError):
        t.resolve_tag("training-run-7")


def test_bloom_cols_written_and_read_keys_pushdown(spark, tmp_path):
    """bloom_cols adds parquet bloom filters (visible as strictly
    larger files for identical data); small read_keys probes compile
    to a literal pushed filter (row-group skippable), large ones fall
    back to the broadcast semi join. Both return exactly the probed
    keys."""
    rows = [(f"k{i}", i, "insert", i) for i in range(500)]

    def mk(name, **kw):
        t = LakeTable.create(spark, str(tmp_path / name), _schema(), ["k"],
                             n_buckets=2, **kw)
        t.merge_cdc(_src(spark, rows), epoch=0)
        return t

    plain, bloom = mk("plain"), mk("bloom", bloom_cols=["k"])

    def data_bytes(t):
        total = 0
        for ent in t.manifest()["buckets"].values():
            d = ent["path"]
            total += sum(os.path.getsize(os.path.join(d, f))
                         for f in os.listdir(d) if f.endswith(".parquet"))
        return total

    assert data_bytes(bloom) > data_bytes(plain)

    probe = [("k3",), ("k77",), ("k499",)]
    got = {r["k"]: r["v"] for r in bloom.read_keys(probe).collect()}
    assert got == {"k3": 3, "k77": 77, "k499": 499}
    plan = bloom.read_keys(probe)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(k," in plan

    big_probe = [(f"k{i}",) for i in range(200)]
    assert bloom.read_keys(big_probe).count() == 200
    plan_big = bloom.read_keys(big_probe)._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan_big  # fallback path


def test_rebucket_preserves_bloom_filters(spark, tmp_path):
    """A layout rewrite must keep bloom_cols: rebucket routes its
    writer through _apply_write_options, so the rebucketed files still
    carry the filters (visible as strictly larger files than the same
    rebucketed data without bloom_cols) and point-lookup pushdown
    still fires."""
    rows = [(f"k{i}", i, "insert", i) for i in range(500)]

    def mk(name, **kw):
        t = LakeTable.create(spark, str(tmp_path / name), _schema(), ["k"],
                             n_buckets=2, **kw)
        t.merge_cdc(_src(spark, rows), epoch=0)
        t.rebucket(4)
        return t

    plain, bloom = mk("plain"), mk("bloom", bloom_cols=["k"])

    def data_bytes(t):
        total = 0
        for ent in t.manifest()["buckets"].values():
            d = ent["path"]
            total += sum(os.path.getsize(os.path.join(d, f))
                         for f in os.listdir(d) if f.endswith(".parquet"))
        return total

    assert data_bytes(bloom) > data_bytes(plain)
    got = {r["k"]: r["v"] for r in bloom.read_keys([("k3",), ("k499",)]).collect()}
    assert got == {"k3": 3, "k499": 499}


def test_advise_surfaces_maintenance_signals(spark, tmp_path):
    """The advisor reads only the manifest: long delta chains ->
    compact; tombstone-heavy tables -> purge; deep version chains ->
    expire; quiet tables -> no advice."""
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"],
                         n_buckets=2, write_mode="mor")
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]))
    assert t.advise() == []
    for i in range(2, 12):
        t.merge_cdc(_src(spark, [("a", i, "update", i)]))
    actions = {a["action"] for a in t.advise(compact_deltas_over=8)}
    assert "compact" in actions
    t.compact()
    # delete most keys -> tombstones dominate
    t.merge_cdc(_src(spark, [("a", None, "delete", 100)]))
    t.compact()
    actions = {a["action"] for a in t.advise(tombstone_frac_over=0.2)}
    assert "purge_tombstones" in actions
    assert "compact" not in actions
    actions = {a["action"] for a in t.advise(expire_versions_over=3)}
    assert "expire_versions" in actions


_WRITER_SCRIPT = r"""
import os, sys, time
sys.path.insert(0, sys.argv[5])
from etl_spark.session import get_spark
from etl_spark.lake.table import LakeTable

root, writer, epochs, go_file = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
spark = get_spark(app_name=f"race_{writer}", cores=2, shuffle_partitions=2)
t = LakeTable(spark, root)
# signal ready, then spin until the parent flips GO so both JVMs merge
# at the same time (startup skew would otherwise serialize them)
open(os.path.join(os.path.dirname(go_file), f"ready_{writer}"), "w").close()
while not os.path.exists(go_file):
    time.sleep(0.05)
for i, ep in enumerate(epochs.split(",")):
    src = spark.createDataFrame(
        [(f"r{writer}", f"p{i}_{j}", f"c{ep}", None, f"body-{writer}-{ep}-{j}",
          "insert", int(ep) * 1000 + j) for j in range(50)],
        "repo string, path string, commit string, lang string, content string, op string, seq long",
    )
    out = t.merge_cdc_with_retry(src, max_retries=20, epoch=int(ep))
    print("WRITER", writer, "epoch", ep, "->", out["version"], flush=True)
spark.stop()
print("WRITER", writer, "DONE", flush=True)
"""


def test_multi_writer_process_race(spark, tmp_path, repos_schema):
    """Two OS processes (separate JVMs) race merge_cdc_with_retry into
    ONE table, synchronized to start together. Every epoch from both
    writers must land exactly once (optimistic retry on the manifest
    CAS), the final state must contain both writers' rows, and after
    expire_versions the loser attempts' orphan data dirs are gone —
    every surviving file is referenced by a live manifest."""
    import subprocess
    import sys
    import time as _time

    from etl_spark.lake.table import LakeTable

    root = str(tmp_path / "race")
    t = LakeTable.create(spark, root, repos_schema, ["repo", "path"], n_buckets=4)
    script = str(tmp_path / "writer.py")
    with open(script, "w") as f:
        f.write(_WRITER_SCRIPT)
    go_file = str(tmp_path / "GO")
    procs = {
        w: subprocess.Popen(
            [sys.executable, script, root, w, eps, go_file,
             os.path.dirname(os.path.dirname(os.path.abspath(__file__)))],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        )
        for w, eps in (("a", "10,11,12"), ("b", "20,21,22"))
    }
    deadline = _time.time() + 120
    while _time.time() < deadline and not all(
        os.path.exists(str(tmp_path / f"ready_{w}")) for w in procs
    ):
        _time.sleep(0.2)
    open(go_file, "w").close()
    outs = {}
    for w, p in procs.items():
        outs[w], _ = p.communicate(timeout=300)
        assert p.returncode == 0, f"writer {w} failed:\n{outs[w]}"
        assert f"WRITER {w} DONE" in outs[w]

    m = t.manifest()
    assert set(m["epochs"]) == {"10", "11", "12", "20", "21", "22"}
    # 6 merges -> versions 1..6, each parent chain intact
    assert t.current_version() == 6
    got = t.read()
    assert got.count() == 300
    assert got.filter("repo = 'ra'").count() == 150
    assert got.filter("repo = 'rb'").count() == 150
    # winner integrity: every row's content names its own writer
    assert got.filter(
        ~F.col("content").startswith(F.concat(F.lit("body-"), F.substring("repo", 2, 1)))
    ).count() == 0
    # loser orphan cleanup: expire everything but the tip, then every
    # surviving parquet dir must be referenced by a live manifest.
    # Both writers have exited, so waiving the in-flight grace window
    # is safe here (that window is what protects a LIVE writer's
    # not-yet-committed dir; see test_expire_orphan_grace_*)
    t.expire_versions(keep_last=1, orphan_grace_sec=0.0)
    live = {e["path"] for e in t.manifest()["buckets"].values()}
    for d in t.manifest().get("deltas", []):
        live |= {e["path"] for e in d["buckets"].values()}
    data_root = os.path.join(root, "data")
    on_disk = set()
    for vdir in os.listdir(data_root):
        for bdir in os.listdir(os.path.join(data_root, vdir)):
            if bdir.startswith("_b="):
                on_disk.add(os.path.join(data_root, vdir, bdir))
    assert on_disk <= live, f"orphans survived expiry: {sorted(on_disk - live)[:5]}"
    assert t.read().count() == 300


def test_clone_pins_distinct_for_shared_basename(spark, tmp_path):
    """ADVICE r3 (medium): two clones whose dst roots share a BASENAME
    (mkdtemp()+'/t' patterns) must hold two independent pins on the
    source — with the old basename-only pin name the second clone
    re-pointed the first's pin and expiry could reclaim files the
    first clone still reads."""
    t = LakeTable.create(spark, str(tmp_path / "src"), _schema(), ["k"], n_buckets=2)
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    v1 = t.current_version()
    c1 = t.clone(str(tmp_path / "x1" / "t"))
    t.merge_cdc(_src(spark, [("a", 2, "update", 2)]), epoch=1)
    v2 = t.current_version()
    c2 = t.clone(str(tmp_path / "x2" / "t"))  # same basename 't', later version
    p1 = c1.manifest()["cloned_from"]["pin"]
    p2 = c2.manifest()["cloned_from"]["pin"]
    assert p1 != p2
    assert t.pins() == {p1: v1, p2: v2}
    # churn + expire: BOTH clones' versions stay readable
    for i in range(3):
        t.merge_cdc(_src(spark, [("a", 10 + i, "update", 10 + i)]), epoch=10 + i)
    t.expire_versions(keep_last=1)
    assert c1.read().first()["v"] == 1
    assert c2.read().first()["v"] == 2


def test_expire_retains_versions_newer_than_current_read(spark, tmp_path):
    """ADVICE r3 (medium): a writer that commits v(cur+1) between
    expire_versions' CURRENT read and its meta-dir listing must not
    have its just-committed manifest deleted / data reclaimed.
    Simulated by pinning expire's view of CURRENT to a stale value."""
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=2)
    for i in range(4):  # versions 1..4
        t.merge_cdc(_src(spark, [("a", i, "update" if i else "insert", i + 1)]), epoch=i)
    real_cur = t.current_version()
    assert real_cur == 4
    # expire believes CURRENT is 2 (versions 3 and 4 committed "after")
    t.current_version = lambda: 2  # type: ignore[method-assign]
    t.expire_versions(keep_last=1, orphan_grace_sec=0.0)
    del t.current_version  # restore the real method
    # v3/v4 manifests and data survive; v1 expired as usual
    assert t.manifest(4)["version"] == 4
    assert t.manifest(3)["version"] == 3
    assert t.read(version=4).first()["v"] == 3
    with pytest.raises(FileNotFoundError):
        t.manifest(1)


def test_catalog_sql_surface(spark, tmp_path):
    """cat.sql: latest-wins table state queryable as plain Spark SQL;
    create_view gives time-travel views."""
    from etl_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "cat"))
    a = cat.create_table("ta", _schema(), ["k"], n_buckets=2)
    b = cat.create_table("tb", _schema(), ["k"], n_buckets=2)
    a.merge_cdc(_src(spark, [("a", 1, "insert", 1), ("b", 2, "insert", 2)]), epoch=0)
    a.merge_cdc(_src(spark, [("a", 10, "update", 3)]), epoch=1)
    b.merge_cdc(_src(spark, [("a", 100, "insert", 1), ("c", 5, "insert", 2)]), epoch=0)

    got = {
        (r["k"], r["va"], r["vb"])
        for r in cat.sql(
            "SELECT ta.k, ta.v AS va, tb.v AS vb FROM ta LEFT JOIN tb USING (k)"
        ).collect()
    }
    assert got == {("a", 10, 100), ("b", 2, None)}

    # a view pins the snapshot at registration; re-register to advance
    cat.register_views()
    a.merge_cdc(_src(spark, [("z", 9, "insert", 4)]), epoch=2)
    assert spark.sql("SELECT count(*) n FROM ta").first()["n"] == 2
    cat.register_views()
    assert spark.sql("SELECT count(*) n FROM ta").first()["n"] == 3

    # time travel through SQL
    vname = a.create_view("ta_v1", version=1)
    assert {r["k"]: r["v"] for r in spark.sql(f"SELECT * FROM {vname}").collect()} == {
        "a": 1, "b": 2,
    }

    # the change feed as SQL (table_changes TVF analog)
    a.create_changes_view("ta_changes", 1)
    got_ch = {
        (r["k"], r["_change_type"])
        for r in spark.sql("SELECT k, _change_type FROM ta_changes").collect()
    }
    assert got_ch == {("a", "upsert"), ("z", "upsert")}

    # snapshot isolation: a snapshot handle gives repeatable reads
    # across the whole catalog, immune to commits in between
    snap = cat.snapshot()
    a.merge_cdc(_src(spark, [("y", 77, "insert", 5)]), epoch=3)
    b.merge_cdc(_src(spark, [("a", None, "delete", 3)]), epoch=1)
    live = cat.sql("SELECT (SELECT count(*) FROM ta) AS na, (SELECT count(*) FROM tb) AS nb").first()
    assert (live["na"], live["nb"]) == (4, 1)
    old = cat.sql("SELECT (SELECT count(*) FROM ta) AS na, (SELECT count(*) FROM tb) AS nb",
                  at=snap).first()
    assert (old["na"], old["nb"]) == (3, 2)


def test_catalog_maintain_all(spark, tmp_path):
    """maintain_all surfaces per-table advice and applies only the
    safe subset (compact, expire) when asked."""
    from etl_spark.lake.table import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "cat"))
    t = cat.create_table("m", _schema(), ["k"], n_buckets=2, write_mode="mor")
    for i in range(10):
        t.merge_cdc(_src(spark, [(f"k{i}", i, "insert", i + 1)]), epoch=i)

    rep = cat.maintain_all(compact_deltas_over=4, expire_versions_over=4)
    actions = {(r["table"], r["action"]) for r in rep}
    assert ("m", "compact") in actions and ("m", "expire_versions") in actions
    assert all(r["applied"] is False for r in rep)

    rep2 = cat.maintain_all(apply=True, keep_last=2,
                            compact_deltas_over=4, expire_versions_over=4)
    assert {r["action"] for r in rep2 if r["applied"]} == {"compact", "expire_versions"}
    m = t.manifest()
    assert len(m.get("deltas", [])) == 0  # compacted
    assert {r["k"] for r in t.read().collect()} == {f"k{i}" for i in range(10)}
    # advice now clean on those axes
    assert cat.maintain_all(compact_deltas_over=4, expire_versions_over=4) == []


def test_patch_metadata_from_yaml(spark, tmp_path, repos_schema):
    """.meta.yml sidecar patching (reference tables.py:447-490 +
    datasets.py:186-204): one metadata-only atomic commit merges
    per-variable annotations into column_docs and table-level fields
    into properties; data files untouched; unknown variables raise."""
    t = LakeTable.create(spark, str(tmp_path / "repos"), repos_schema,
                         ["repo", "path"], n_buckets=4)
    t.merge_cdc(spark.createDataFrame(
        [("r", "p", "c", "py", "x", "insert", 1)],
        "repo string, path string, commit string, lang string, content string, "
        "op string, seq long"))
    t.set_column_docs(lang={"unit": "iso"})
    v_before = t.current_version()
    yml = """
definitions:
  org: OWID
tables:
  repos:
    title: Source repos of << org >>
    variables:
      lang:
        title: Language
      content:
        description: file body
"""
    v = t.patch_metadata_from_yaml(yml)  # table_name defaults to dir name
    assert v == v_before + 1
    docs = t.column_docs()
    # merge, not replace: the pre-existing unit survives the patch
    assert docs["lang"] == {"unit": "iso", "title": "Language"}
    assert docs["content"] == {"description": "file body"}
    assert t.manifest()["properties"]["title"] == "Source repos of OWID"
    # metadata-only commit: same data, still readable at old version
    assert t.read().count() == 1 and t.read(version=v_before).count() == 1
    with pytest.raises(ValueError, match="extra variables"):
        t.patch_metadata_from_yaml(yml.replace("      lang:", "      ghost:\n"
                                               "        title: g\n      lang:"))


def test_export_metadata_yaml_round_trips(spark, tmp_path, repos_schema):
    """etl-metadata-export analog: export emits the exact .meta.yml
    shape patch accepts — export -> edit -> patch round-trips."""
    import yaml

    t = LakeTable.create(spark, str(tmp_path / "repos"), repos_schema,
                         ["repo", "path"], n_buckets=4)
    t.patch_metadata_from_yaml("""
tables:
  repos:
    title: Repos
    variables:
      lang: {title: Language, unit: iso}
""")
    out = t.export_metadata_yaml()
    doc = yaml.safe_load(out)
    assert doc["tables"]["repos"]["title"] == "Repos"
    vs = doc["tables"]["repos"]["variables"]
    assert vs["lang"] == {"title": "Language", "unit": "iso"}
    assert vs["content"] == {}          # undocumented column -> stub to fill
    assert "last_seq" not in vs and "_deleted" not in vs  # internals omitted
    # edit the export, patch it back
    doc["tables"]["repos"]["variables"]["content"]["title"] = "File body"
    t.patch_metadata_from_yaml(yaml.safe_dump(doc))
    assert t.column_docs()["content"]["title"] == "File body"
    assert t.column_docs()["lang"] == {"title": "Language", "unit": "iso"}


def test_drop_table_gates_and_removes(spark, tmp_path, repos_schema):
    """DROP TABLE: pin gate (consumers), txn gate (prepared versions),
    then full removal."""
    from etl_spark.lake import LakeCatalog as _LC

    cat = _LC(spark, str(tmp_path / "cat"))
    t = cat.create_table("t", repos_schema, ["repo", "path"], n_buckets=4)
    t.merge_cdc(spark.createDataFrame(
        [("r", "p", "c", "py", "x", "insert", 1)],
        "repo string, path string, commit string, lang string, content string, "
        "op string, seq long"), epoch=0)
    clone = t.clone(str(tmp_path / "dev"))  # registers a pin on the source
    with pytest.raises(RuntimeError, match="pinned by consumers"):
        cat.drop_table("t")
    txn = cat.begin()
    txn.table("t").merge_cdc(spark.createDataFrame(
        [("r2", "p2", "c", "py", "y", "insert", 2)],
        "repo string, path string, commit string, lang string, content string, "
        "op string, seq long"))
    with pytest.raises(RuntimeError, match="prepared transaction"):
        cat.drop_table("t", force=True)  # txn gate is never forceable
    txn.abort()
    cat.drop_table("t", force=True)      # pin gate is
    assert cat.list_tables() == []
    with pytest.raises(FileNotFoundError):
        cat.drop_table("t")
    del clone


def test_rebucket_keeps_sort_clustering_and_file_stats(spark, tmp_path):
    """rebucket goes through the shared bucketed write, so a sort_cols
    table keeps its per-file sort-column stats across the layout change:
    filtered reads still prune files, and stay exact."""
    sch = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("ts", T.LongType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), sch, ["k"], n_buckets=2,
                         sort_cols=["ts"], properties={"target_file_rows": 50})
    rows = [(f"k{i}", i, "insert", i + 1) for i in range(400)]
    t.merge_cdc(spark.createDataFrame(rows, "k string, ts long, op string, seq long"),
                epoch=0)
    t.rebucket(4)
    flt = [("ts", "<", 40)]
    assert t.scan_stats(filters=flt)["files_pruned"] > 0
    got = sorted(r["ts"] for r in t.read(filters=flt).collect())
    want = sorted(r["ts"] for r in t.read().filter(F.col("ts") < 40).collect())
    assert got == want == list(range(40))


def _max_stage_tasks(sc, group: str) -> int:
    st = sc.statusTracker()
    n = 0
    for j in st.getJobIdsForGroup(group):
        for s in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(s)
            if info is not None:
                n = max(n, info.numTasks)
    return n


def test_bucket_writes_are_sized_to_cores(spark, tmp_path):
    """A 64-bucket merge launches work sized to the session's cores,
    not to the bucket count: buckets are packed into at most
    defaultParallelism write tasks, bucket dirs are listed on the
    driver, and every written bucket is still exactly one file."""
    sc = spark.sparkContext
    rows = [(f"k{i}", i, "insert", i + 1) for i in range(500)]
    src_dir = str(tmp_path / "src")
    _src(spark, rows).coalesce(1).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    assert len(src.inputFiles()) == 1

    def merged(t, epoch, group):
        sc.setJobGroup(group, group)
        try:
            t.merge_cdc(src.withColumn("seq", F.col("seq") + epoch * 1000), epoch=epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return t.manifest()

    cow = LakeTable.create(spark, str(tmp_path / "cow"), _schema(), ["k"], n_buckets=64)
    merged(cow, 0, "cow-insert")
    m = merged(cow, 1, "cow-update")  # reads back ~64 target bucket dirs
    mor = LakeTable.create(spark, str(tmp_path / "mor"), _schema(), ["k"],
                           n_buckets=64, write_mode="mor")
    m_mor = merged(mor, 0, "mor-delta")
    written = [*m["buckets"].values(), *m_mor["deltas"][-1]["buckets"].values()]
    assert len(m["buckets"]) > 32  # enough bucket dirs to trip a listing job
    for ent in written:
        files = [f for f in os.listdir(ent["path"]) if f.endswith(".parquet")]
        assert len(files) == 1, ent["path"]
    # the COW resolve's union stage scans the target (file splits sized
    # to the cores) beside the one source file: hence the + 1
    for group in ("cow-insert", "cow-update", "mor-delta"):
        assert 0 < _max_stage_tasks(sc, group) <= sc.defaultParallelism + 1, group
    assert {r["k"]: r["v"] for r in cow.read().collect()} == {f"k{i}": i for i in range(500)}


def test_bucket_packing_is_even_and_sized_to_the_epoch(spark, tmp_path):
    """Packed write tasks hold whole buckets, the same number each
    (bucket b in task b mod P); a large epoch keeps one task per
    bucket; without a row count the packing uses Catalyst's estimate."""
    from etl_spark.lake.table import _PACK_ROWS_PER_TASK

    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=64)
    df = (spark.range(20000)
          .select(F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"))
          .withColumn("_b", t._bucket_expr(t.key_cols)))
    by_task: dict[int, set] = {}
    for r in (t._pack_buckets(df, 20000).select(F.spark_partition_id().alias("p"), "_b")
              .distinct().collect()):
        by_task.setdefault(r["p"], set()).add(r["_b"])
    p = spark.sparkContext.defaultParallelism
    assert sorted(by_task) == list(range(p))
    for task, buckets in by_task.items():
        assert buckets == {b for b in range(64) if b % p == task}
    assert t._pack_buckets(df, 64 * _PACK_ROWS_PER_TASK).rdd.getNumPartitions() == 64
    # 10x the per-task budget: the smallest divisor of 64 that is >= 10
    assert t._pack_buckets(df, 10 * _PACK_ROWS_PER_TASK).rdd.getNumPartitions() == 16
    assert t._pack_buckets(df, None).rdd.getNumPartitions() == p
    big = spark.range(20 * _PACK_ROWS_PER_TASK).select(F.col("id").cast("string").alias("k"))
    assert t._pack_buckets(big, None).rdd.getNumPartitions() > p
