"""Dump physical plans for the engine's hot paths into PLANS.md and
ASSERT the plan properties that matter at 100 TB:

- parquet scans carry PushedFilters + pruned ReadSchema;
- the merge resolve has exactly ONE Exchange for the payload
  (whole buckets packed into tasks), and the bucketed write adds none;
- small dims broadcast (BroadcastHashJoin) in star joins;
- whole-stage codegen covers the hot expressions.

Run: python tools/explain_plans.py  (writes PLANS.md)
"""

from __future__ import annotations

import io
import re
import sys

sys.path.insert(0, ".")

from contextlib import redirect_stdout

from pyspark.sql import functions as F, types as T

from etl_spark.session import get_spark


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    sf = "/root/testdata/sf0.01"
    sections: list[tuple[str, str, list[str]]] = []
    failures: list[str] = []

    # 1. filter/projection pushdown on a parquet scan
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    q1 = (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    p1 = plan_of(q1)
    checks1 = []
    if "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p1:
        checks1.append("OK filter pushed to parquet scan")
    else:
        failures.append("q1: filter NOT pushed down")
    m = re.search(r"ReadSchema: ([^\n]+)", p1)
    if m and "l_extendedprice" not in m.group(1):
        checks1.append("OK column pruning (scan reads 4 of 11 columns)")
    else:
        failures.append("q1: column pruning missing")
    sections.append(("Aggregation scan: pushdown + pruning", p1, checks1))

    # 2. star join: dims broadcast
    o = spark.read.parquet(f"{sf}/orders.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    q2 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    p2 = plan_of(q2)
    checks2 = []
    if "BroadcastHashJoin" in p2:
        checks2.append(f"OK BroadcastHashJoin x{p2.count('BroadcastHashJoin')}")
    else:
        failures.append("q2: no broadcast join")
    sections.append(("Star join: broadcast dims", p2, checks2))

    # 3. merge resolve: single Exchange on the key columns, window
    # satisfied by it. Built with the engine's own helpers, in the order
    # _merge_resolve applies them (align, bucket id, pack, resolve).
    from etl_spark.cdc.generator import generate_events
    from etl_spark.cdc.replay import canonicalize
    from etl_spark.lake.table import LakeTable
    import tempfile, os

    root = tempfile.mkdtemp()
    schema = T.StructType([T.StructField(x, T.StringType(), True) for x in
                           ["repo", "path", "commit", "lang", "content", "content_sha256"]])
    tbl = LakeTable.create(spark, os.path.join(root, "t"), schema, ["repo", "path"],
                           n_buckets=16, derived={"content_sha256": ("sha256", "content")})
    ev = canonicalize(generate_events(spark, 10000)).drop("ts")
    seq = tbl.seq_col
    src = (ev.withColumn(seq, F.col("seq").cast("long"))
             .withColumn("_deleted", F.lower(F.col("op")) == "delete"))
    aligned = [
        (F.col(f.name) if f.name in src.columns else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in tbl.schema().fields
    ]
    src = src.select(*aligned).withColumn("_b", tbl._bucket_expr(tbl.key_cols))
    kept = tbl._resolve_latest(tbl._pack_buckets(src, 10000), seq, ["_b", *tbl.key_cols])
    p3 = plan_of(kept)
    checks3 = []
    exchanges = re.findall(r"\(\d+\) Exchange\n.*?Arguments: ([^\n]+)", p3, re.S)
    if len(exchanges) == 1:
        checks3.append("OK exactly one Exchange (bucket packing doubles as window "
                       "clustering AND bucket placement)")
    else:
        failures.append(f"merge resolve: expected 1 Exchange, saw {len(exchanges)}")
    # the packed Exchange hashes the key columns into P partitions, P a
    # divisor of n_buckets: bucket b lands whole in task b mod P
    packed = exchanges and re.match(r"hashpartitioning\(repo#\d+, path#\d+, (\d+)\)",
                                    exchanges[0])
    if packed and 16 % int(packed.group(1)) == 0:
        checks3.append(f"OK the Exchange is {packed.group(0)}: {packed.group(1)} divides "
                       "n_buckets=16, so every task holds whole buckets, the same number each")
    else:
        failures.append("merge resolve: Exchange is not hashpartitioning(repo, path, P) "
                        f"with P dividing n_buckets: {exchanges}")
    if "WindowGroupLimit" in p3:
        checks3.append("OK WindowGroupLimit: Catalyst turns rn=1 into a top-1-per-key "
                       "pre-filter before the full sort")
    else:
        failures.append("merge resolve: no WindowGroupLimit")
    sections.append(("CDC merge resolve: one shuffle total", p3, checks3))

    # 4. latest-wins aggregate (query path) -> partial aggregation
    ev2 = spark.read.parquet(f"{sf}/events.parquet")
    from etl_spark.cdc.replay import dedup_latest
    q4 = dedup_latest(ev2, keys=["user_id"], seq_col="event_id")
    p4 = plan_of(q4)
    checks4 = []
    n_aggs = len(re.findall(r"\(\d+\) (?:Hash|Sort|ObjectHash)Aggregate", p4))
    if n_aggs >= 2:
        checks4.append("OK two-phase aggregate (map-side partial combine = built-in salting)")
    else:
        failures.append("dedup_latest: no partial aggregation")
    sections.append(("Query-path latest-wins: map-side partial agg", p4, checks4))

    # 5. dataset_checksum: O(1) aggregation state — NO collect_list
    # (a previous revision buffered every row hash per group; the
    # commutative bit_xor digest must keep it out of the plan forever)
    import __spark_entry__ as E

    q5 = E.q_dataset_checksum(spark, sf)
    p5 = plan_of(q5)
    checks5 = []
    if "collect_list" not in p5 and "CollectList" not in p5:
        checks5.append("OK no collect_list: digest state is O(1) per group")
    else:
        failures.append("dataset_checksum: collect_list is back in the plan")
    n_aggs5 = len(re.findall(r"\(\d+\) (?:Hash|Sort|ObjectHash)Aggregate", p5))
    if n_aggs5 >= 2:
        checks5.append("OK two-phase aggregate (map-side partial xor)")
    else:
        failures.append("dataset_checksum: no partial aggregation")
    sections.append(("Dataset checksum: commutative digest, bounded state", p5, checks5))

    # 6. star-edge LSH emission: shuffle carries (band_key, id) only
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    from etl_spark.dedup.cascade import lsh_star_edges

    q6 = lsh_star_edges(docs, k=8, bands=4, use_xxhash=True)
    p6 = plan_of(q6)
    checks6 = []
    # the window min runs over (band_key, id) pairs; assert no join at all
    if "Join" not in p6:
        checks6.append("OK no self-join: star edges come from one window min per bucket")
    else:
        failures.append("star edges: unexpected join in plan")
    sections.append(("LSH star edges: window-min, no bucket self-join", p6, checks6))

    # 7. corpus pipeline: dedup window + quality + aggregate pipeline
    # in ONE job — the text payload is scanned once and never shuffled
    # (only the sha256 window key and the final per-source aggregates
    # move)
    q7 = E.q_corpus_stats(spark, sf)
    p7 = plan_of(q7)
    checks7 = []
    n_exchange7 = len(re.findall(r"\(\d+\) Exchange", p7))
    if n_exchange7 <= 3:
        checks7.append(f"OK {n_exchange7} exchanges: dedup window + final agg only "
                       "(payload scanned once)")
    else:
        failures.append(f"corpus_stats: too many exchanges ({n_exchange7})")
    scans7 = len(re.findall(r"\(\d+\) Scan parquet", p7))
    if scans7 == 1:
        checks7.append("OK single parquet scan feeds the whole pipeline")
    else:
        failures.append(f"corpus_stats: {scans7} scans (expected 1)")
    sections.append(("Corpus pipeline: single scan, bounded shuffles", p7, checks7))

    # 8. changelog read: the _cv filter is pushed to the parquet scan
    # (changed-bucket pruning is manifest-side and invisible to the
    # plan; the residual row filter must not cost a post-scan pass)
    t8 = LakeTable.create(spark, os.path.join(root, "t8"),
                          T.StructType([T.StructField("k", T.StringType(), True),
                                        T.StructField("v", T.StringType(), True)]),
                          ["k"], n_buckets=4)
    s8 = spark.createDataFrame([("a", "1", "insert", 1), ("b", "2", "insert", 2)],
                               "k string, v string, op string, seq long")
    t8.merge_cdc(s8)
    t8.merge_cdc(spark.createDataFrame([("a", "9", "update", 3)],
                                       "k string, v string, op string, seq long"))
    p8 = plan_of(t8.changes_since(1))
    checks8 = []
    if re.search(r"PushedFilters: \[[^\]]*GreaterThan\(_cv", p8):
        checks8.append("OK commit-version filter pushed to parquet scan")
    else:
        failures.append("changes_since: _cv filter not pushed down")
    sections.append(("Changelog read: pushed _cv filter + manifest pruning", p8, checks8))

    # 9. line-level dedup: the boilerplate set broadcasts (the corpus
    # line stream must never shuffle for the filter)
    from etl_spark.text.lines import strip_boilerplate

    q9 = strip_boilerplate(docs, "doc_id", "text", min_docs=2, n_words=8)
    p9 = plan_of(q9)
    checks9 = []
    if "BroadcastHashJoin" in p9:
        checks9.append("OK boilerplate set broadcasts into the line stream")
    else:
        failures.append("line_dedup: boilerplate join not broadcast")
    sections.append(("Line dedup: broadcast boilerplate filter", p9, checks9))

    # 10. contamination: benchmark shingles broadcast into a semi join
    from etl_spark.text.contamination import contamination

    q10 = contamination(docs.filter(F.col("doc_id") % 37 != 0),
                        docs.filter(F.col("doc_id") % 37 == 0),
                        "doc_id", "text", n=8)
    p10 = plan_of(q10)
    checks10 = []
    if "BroadcastHashJoin" in p10 and "LeftSemi" in p10:
        checks10.append("OK benchmark side broadcasts; corpus stream semi-joins in place")
    else:
        failures.append("contamination: benchmark join not a broadcast semi join")
    sections.append(("Contamination screen: broadcast semi join", p10, checks10))

    # 11. source mixing: replication is a NARROW map (explode over
    # sequence) — no Exchange anywhere before downstream aggregation
    from etl_spark.ops.sample import mix_sources

    q11 = mix_sources(docs, "doc_id", "source", {"src0": 2.5, "src1": 0.25}, salt="s")
    p11 = plan_of(q11)
    checks11 = []
    if "Exchange" not in p11:
        checks11.append("OK zero shuffles: replication multiplies partitions in place")
    else:
        failures.append("mix_sources: unexpected Exchange in plan")
    sections.append(("Source mixing: shuffle-free replication", p11, checks11))

    # 12. as-of join: ONE Exchange on the group key feeds the window —
    # never a nested-loop join (the naive l.ts >= r.ts plan)
    from etl_spark.ops.relational import asof_join

    ev = spark.read.parquet(f"{sf}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts").agg(F.max("value").alias("view_value")))
    q12 = asof_join(purchases, views, by=["user_id"], left_ts="ts", right_ts="ts",
                    value_cols=["view_value"])
    p12 = plan_of(q12)
    checks12 = []
    if "NestedLoop" not in p12 and "CartesianProduct" not in p12:
        checks12.append("OK no nested-loop/cartesian join (union+window form)")
    else:
        failures.append("asof_join: nested-loop join in plan")
    n_ex = p12.count("Exchange hashpartitioning")
    if n_ex <= 2:  # right-side pre-aggregate + the window clustering
        checks12.append(f"OK {n_ex} key Exchanges (pre-agg + window clustering)")
    else:
        failures.append(f"asof_join: {n_ex} Exchanges (expected <=2)")
    sections.append(("As-of join: union+window, no nested loop", p12, checks12))

    # 13. tfidf: top-k per doc runs as WindowGroupLimit; doc payload
    # never shuffles (exchanges carry (doc_id, term, counts) only)
    from etl_spark.text.analysis import tfidf_top_terms

    q13 = tfidf_top_terms(docs, k=3)
    p13 = plan_of(q13)
    checks13 = []
    if "WindowGroupLimit" in p13:
        checks13.append("OK top-k per doc is WindowGroupLimit (top-3 during sort)")
    else:
        failures.append("tfidf: WindowGroupLimit missing")
    m = re.search(r"ReadSchema: ([^\n]+)", p13)
    if m and "text" in m.group(1) and "source" not in m.group(1):
        checks13.append("OK scan pruned to (doc_id, text)")
    else:
        failures.append("tfidf: scan not pruned")
    sections.append(("TF-IDF: WindowGroupLimit top-k, pruned scan", p13, checks13))

    # 14. restore/merge_from compensating diff: the null-safe keyed
    # full-outer compare must plan as a SortMergeJoin with the key
    # folded into the join keys (no residual condition, no nested
    # loop) — the property that keeps rollback/publish O(changed
    # buckets) shuffle-bound at any scale
    from etl_spark.lake.table import _state_diff

    m_cur8 = t8.manifest()
    user8 = [f.name for f in t8._user_fields(m_cur8)]
    o14 = t8.read(version=1).select(*user8)
    c14 = t8.read().select(*user8)
    p14 = plan_of(_state_diff(o14, c14, ["k"], user8))
    checks14 = []
    if "SortMergeJoin FullOuter" in p14 or re.search(r"SortMergeJoin.*FullOuter", p14):
        checks14.append("OK full-outer diff is a SortMergeJoin")
    else:
        failures.append("state_diff: full outer not SMJ")
    if "NestedLoop" not in p14 and "CartesianProduct" not in p14:
        checks14.append("OK no nested-loop/cartesian (eqNullSafe folded into join keys)")
    else:
        failures.append("state_diff: nested-loop/cartesian join in plan")
    if "Join condition: None" in p14:
        checks14.append("OK fully equi (no residual join condition)")
    else:
        failures.append("state_diff: residual join condition present")
    sections.append(
        ("Restore/publish diff: null-safe keys fold into a full-outer SMJ", p14, checks14)
    )

    # 15. join-view sync feed: the dim-branch probe is a BROADCAST
    # left-semi (affected fact rows found without shuffling the fact),
    # and nothing in the feed degenerates to a nested-loop/cartesian
    from etl_spark.lake.incremental import _join_feed, join_view_schema

    d15 = LakeTable.create(spark, os.path.join(root, "d15"),
                           T.StructType([T.StructField("dk", T.StringType(), True),
                                         T.StructField("dv", T.StringType(), True)]),
                           ["dk"], n_buckets=4)
    d15.merge_cdc(spark.createDataFrame([("1", "x", "insert", 1), ("2", "y", "insert", 2)],
                                        "dk string, dv string, op string, seq long"))
    d15.merge_cdc(spark.createDataFrame([("1", "x2", "update", 3)],
                                        "dk string, dv string, op string, seq long"))
    jv15 = LakeTable.create(spark, os.path.join(root, "jv15"),
                            join_view_schema(t8, d15), ["k"], n_buckets=4)
    # fact moved (v1 -> current) AND dim moved (v1 -> current): both branches in the plan
    p15 = plan_of(_join_feed(t8, d15, ["v"], None, 1, t8.current_version(),
                             1, d15.current_version(), jv15))
    checks15 = []
    if re.search(r"BroadcastHashJoin LeftSemi", p15):
        checks15.append("OK affected-fact probe is a broadcast LEFT SEMI "
                        "(no fact shuffle on dim-driven re-enrichment)")
    else:
        failures.append("join_feed: dim-branch semi join not broadcast")
    if "NestedLoop" not in p15 and "CartesianProduct" not in p15:
        checks15.append("OK no nested-loop/cartesian anywhere in the feed")
    else:
        failures.append("join_feed: nested-loop/cartesian join in plan")
    sections.append(
        ("Join-view sync feed: broadcast semi probe, no fact shuffle", p15, checks15)
    )

    # 16. MOR snapshot read + key predicate: Catalyst pushes a filter
    # on the resolve window's PARTITION keys below the window, through
    # the base∪delta union, into every parquet scan — so a keyed scan
    # of a 100-TB MOR table reads only matching row groups (blooms +
    # min/max) on base AND delta files, then resolves just those rows.
    m16 = LakeTable.create(
        spark, os.path.join(root, "m16"),
        T.StructType([T.StructField("k", T.StringType(), True),
                      T.StructField("v", T.StringType(), True)]),
        ["k"], n_buckets=4, write_mode="mor",
    )
    m16.merge_cdc(spark.createDataFrame([("a", "1", "insert", 1), ("b", "2", "insert", 2)],
                                        "k string, v string, op string, seq long"))
    m16.merge_cdc(spark.createDataFrame([("a", "9", "update", 3), ("c", "3", "insert", 4)],
                                        "k string, v string, op string, seq long"))
    p16 = plan_of(m16.read().filter(F.col("k") == "a"))
    checks16 = []
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p16))
    n_pushed = p16.count("EqualTo(k,a)")
    if n_scans >= 1 and n_pushed >= n_scans:
        checks16.append(f"OK key EqualTo pushed into all {n_scans} scan(s) — "
                        "base + delta paths coalesce into one scan when their "
                        "schema ids match, and the filter sits beneath the "
                        "resolve window")
    else:
        failures.append(f"mor read: key filter pushed to {n_pushed}/{n_scans} scans")
    if "Window" in p16:
        checks16.append("OK read-time resolve present above the filtered scans")
    else:
        failures.append("mor read: resolve window missing from plan")
    sections.append(
        ("MOR keyed read: filter below the resolve window into every scan", p16, checks16)
    )

    # 17. append-only fact read: NO window anywhere — the snapshot is
    # scan+filter only (the fact regime's entire point: reads cost a
    # columnar scan, never a keyed sort)
    m17 = LakeTable.create(
        spark, os.path.join(root, "m17"),
        T.StructType([T.StructField("k", T.StringType(), True),
                      T.StructField("v", T.StringType(), True)]),
        ["k"], n_buckets=4, write_mode="append",
    )
    m17.merge_cdc(spark.createDataFrame([("a", "1", "insert", 1), ("a", "2", "insert", 2)],
                                        "k string, v string, op string, seq long"))
    m17.merge_cdc(spark.createDataFrame([("a", "3", "insert", 3)],
                                        "k string, v string, op string, seq long"))
    p17 = plan_of(m17.read().filter(F.col("k") == "a"))
    checks17 = []
    if "Window" not in p17 and "Exchange" not in p17:
        checks17.append("OK no Window, no Exchange: append snapshot reads are "
                        "scan+filter only")
    else:
        failures.append("append read: unexpected Window/Exchange in plan")
    if p17.count("EqualTo(k,a)") >= 1:
        checks17.append("OK predicate pushed to the parquet scan")
    else:
        failures.append("append read: filter not pushed")
    sections.append(
        ("Append-only fact read: no window, no shuffle, pushed filter", p17, checks17)
    )

    # 18. file-level data skipping: a selective NON-KEY predicate on a
    # sort_cols column prunes files from the manifest's per-file
    # min/max stats BEFORE the scan (Iceberg/Delta column-stats
    # analog) — this is an IO assertion (files opened), not just a
    # plan shape: bucket pruning can't help non-key predicates, so
    # without this every file of every bucket is listed and opened.
    m18 = LakeTable.create(
        spark, os.path.join(root, "m18"),
        T.StructType([T.StructField("k", T.StringType(), True),
                      T.StructField("size", T.LongType(), True),
                      T.StructField("v", T.StringType(), True)]),
        ["k"], n_buckets=4, sort_cols=["size"],
    )
    m18.set_properties(target_file_rows=250)
    m18.merge_cdc(spark.createDataFrame(
        [(f"k{i}", i, f"v{i}", "insert", i) for i in range(8000)],
        "k string, size long, v string, op string, seq long"))
    ss18 = m18.scan_stats(filters=[("size", ">", 7500)])
    df18 = m18.read(filters=[("size", ">", 7500)])
    p18 = plan_of(df18)
    n_open = len(df18.inputFiles())
    checks18 = []
    if ss18["files_pruned"] > 0.5 * ss18["files_total"] and n_open == ss18["files_kept"]:
        checks18.append(
            f"OK file skipping: scan opens {n_open}/{ss18['files_total']} files "
            f"({ss18['files_pruned']} pruned by manifest sort-col min/max, "
            "verified against the physical scan's inputFiles)")
    else:
        failures.append(
            f"data skipping: opened {n_open}, scan_stats {ss18}")
    if "GreaterThan(size,7500)" in p18:
        checks18.append("OK residual predicate still pushed into the kept files' "
                        "scan (row-group stats skip inside them)")
    else:
        failures.append("data skipping: residual filter not pushed")
    sections.append(
        ("File-level data skipping: non-key predicate prunes files pre-scan",
         p18, checks18)
    )

    # 19. distinct-view retraction recount is O(dirty groups) IO: the
    # groups a delete touched drive literal IN filters into the source
    # scan, so file-level data skipping (sort_cols = group column)
    # opens only the dirty groups' files — an exact recount WITHOUT a
    # full-table recompute. Asserted from sync_agg's own recount IO
    # stats (the same scan_stats gate the read uses).
    from etl_spark.lake.incremental import agg_view_schema, sync_agg

    m19 = LakeTable.create(
        spark, os.path.join(root, "m19"),
        T.StructType([T.StructField("k", T.StringType(), True),
                      T.StructField("grp", T.StringType(), True)]),
        ["k"], n_buckets=1, sort_cols=["grp"],
    )
    m19.set_properties(target_file_rows=50)
    m19.merge_cdc(spark.createDataFrame(
        [(f"g{g}_{i}", f"g{g:02d}", "insert", g * 1000 + i)
         for g in range(8) for i in range(50)],
        "k string, grp string, op string, seq long"))
    d19 = LakeTable.create(
        spark, os.path.join(root, "m19v"),
        agg_view_schema(m19, ["grp"], distinct_cols=["k"]),
        ["grp"], n_buckets=4,
    )
    sync_agg(m19, d19, ["grp"], distinct_cols=["k"])
    m19.merge_cdc(spark.createDataFrame(
        [("g3_0", None, "delete", 99999)], "k string, grp string, op string, seq long"))
    st19 = sync_agg(m19, d19, ["grp"], distinct_cols=["k"])
    checks19 = []
    if (st19.get("recount_pruning_active")
            and st19["recount_files_kept"] < st19["recount_files_total"]
            and st19["recount_groups"] == 1):
        checks19.append(
            f"OK retraction recount IO: 1 dirty group -> scan opens "
            f"{st19['recount_files_kept']}/{st19['recount_files_total']} source "
            "files (IN-filter file skipping on the group sort_col); every "
            "other group keeps its mergeable HLL sketch")
    else:
        failures.append(f"distinct recount not pruned: {st19}")
    sections.append(
        ("Distinct-view retraction recount: O(dirty groups) source IO",
         "(IO assertion from sync_agg recount stats; "
         f"stats: {st19})", checks19)
    )

    # 20. keys-first resolve (the wide-row/multimodal merge path):
    # the winners aggregate must read ONLY (keys, seq) — payload
    # columns pruned out of the resolve scan — and the filter-back
    # must be a broadcast LEFT SEMI, so losing events' payloads are
    # dropped where they were read and never enter an exchange.
    from etl_spark.cdc.generator import generate_events
    from etl_spark.cdc.replay import dedup_latest_keys_first

    wal20 = os.path.join(root, "wal20")
    generate_events(spark, 5000).write.parquet(wal20)
    df20 = dedup_latest_keys_first(spark.read.parquet(wal20))
    p20 = plan_of(df20)
    checks20 = []
    if "BroadcastExchange" in p20 and "LeftSemi" in p20:
        checks20.append("OK winner set broadcasts; payload filter is a "
                        "map-side LEFT SEMI (no payload shuffle for losers)")
    else:
        failures.append("keys_first: no broadcast semi join in plan")
    schemas20 = re.findall(r"ReadSchema: (struct<[^\n]+)", p20)
    pruned20 = [s for s in schemas20 if "content" not in s and "seq" in s]
    if pruned20:
        checks20.append(
            "OK resolve scan is payload-pruned: winners aggregate reads "
            f"only {pruned20[0][:80]}... — the shuffle feeding max(seq) "
            "moves keys+seq bytes regardless of row width")
    else:
        failures.append(f"keys_first: resolve scan not pruned ({schemas20})")
    sections.append(
        ("Keys-first resolve: payload-pruned winner shuffle + broadcast semi",
         p20, checks20)
    )

    with open("PLANS.md", "w") as f:
        f.write("# PLANS — physical-plan evidence for the hot paths\n\n")
        f.write("Generated by `python tools/explain_plans.py` (asserts the properties; "
                "regenerate after planner-relevant changes).\n")
        for title, plan, checks in sections:
            f.write(f"\n## {title}\n\n")
            for ch in checks:
                f.write(f"- {ch}\n")
            f.write("\n```\n" + plan.strip()[:4000] + "\n```\n")
    print("\n".join(c for _, _, cs in sections for c in cs))
    if failures:
        print("FAILURES:\n" + "\n".join(failures))
        return 1
    print("all plan assertions passed; PLANS.md written")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
