"""Per-layer metrics of a traced run, from spans, the event log and
what the runner observed around its calls. Each name is prefixed with
the engine module it describes; BENCHMARK.json's ``per_layer`` lists
them all, and ``workloads.json`` says which end-to-end metric each
should move."""

from __future__ import annotations

import stats
from tracing import attribute, self_times, span_tree, stage_sums


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(w, spans: list[dict], jobs: dict, stages: dict, commits: dict,
              window: tuple[float, float], e2e: dict, samples: dict) -> dict:
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    attributed = attribute(jobs, spans)
    _kids, desc = span_tree(spans)
    selfs = self_times(spans)

    def under(names) -> list[int]:
        """Job ids launched inside spans named ``names``, nested spans included."""
        out = []
        for n in names:
            for s in by_name.get(n, []):
                for sid in desc(s["id"]):
                    out.extend(attributed.get(sid, []))
        return sorted(set(out))

    def dur(name):
        return [s["end"] - s["start"] for s in by_name.get(name, [])]

    applies = by_name.get("replay.apply_batch", [])
    batches = by_name.get("driver.process_batch", [])
    applied_batches = [s for s in batches if not (s["attrs"].get("result") or {}).get("skipped")]
    events = (sum(s["attrs"].get("events", 0) for s in applies)
              + sum(f["events"] for f in w.published)) or 1
    ingest_jobs = under(["replay.apply_batch", "driver.process_batch"])
    ingest = stage_sums(jobs, stages, ingest_jobs)
    scan_stages = stage_sums(jobs, stages, ingest_jobs, where=lambda st: st["input_bytes"] > 0)
    merges = by_name.get("table.merge_cdc", [])
    merge = stage_sums(jobs, stages, under(["table.merge_cdc"]))
    compact = stage_sums(jobs, stages, under(["table.compact"]))
    rk = stage_sums(jobs, stages, under(["table.read_keys"]))
    probe_jobs = sum(len(attributed.get(s["id"], [])) for s in applies)
    window_jobs = [j for j, job in jobs.items() if window[0] <= job["submit"] <= window[1]]
    spark = stage_sums(jobs, stages, window_jobs)
    cnt, sec = commits["counts"], commits["seconds"]
    prog = w.progress

    def prog_mean(key):
        return _mean(p.durationMs.get(key, 0) / 1000.0 for p in prog)

    late = samples.get("late", [])
    tail = stats.tail_percentile(late)
    fresh = samples.get("freshness", [])
    ftail = stats.tail_percentile(fresh)
    out = {
        "wal.input_bytes_per_event": ingest["input_bytes"] / events,
        "wal.scan_task_s": scan_stages["run_s"],
        "replay.apply_batch_s": _mean(dur("replay.apply_batch")),
        "replay.apply_batch_self_s": _mean(selfs[s["id"]] for s in applies),
        "replay.probe_jobs": probe_jobs / len(applies) if applies else 0.0,
        "table.merge_s": _mean(dur("table.merge_cdc")),
        "table.merge_task_s": merge["run_s"] / len(merges) if merges else 0.0,
        "table.shuffle_write_bytes_per_event": merge["shuffle_write_bytes"] / events,
        "table.spill_bytes": merge["spill_bytes"],
        "table.gc_s": merge["gc_s"],
        "table.target_reread_bytes": _mean(a["reread_bytes"] for a in w.applies),
        "table.output_bytes_per_event": merge["output_bytes"] / events,
        "table.dirty_buckets": _mean(a["dirty"] for a in w.applies),
        "table.rows_rewritten_per_changed_row": (
            sum(a["rows_written"] for a in w.applies)
            / max(sum(a["changed_keys"] for a in w.applies), 1)),
        "table.compact_s": _mean(dur("table.compact")),
        "table.compacts": len(by_name.get("table.compact", [])),
        "table.compact_bytes_rewritten": compact["output_bytes"],
        "table.expire_s": _mean(dur("table.expire_versions")),
        "table.delta_depth_max": max((f["deltas"] for f in w.flips), default=0),
        "table.space_amp": w.space_amp or 0.0,
        "table.read_keys_s": _mean(dur("table.read_keys")),
        "table.read_keys_rows_scanned_per_row": (
            rk["input_records"] / max(sum(x["rows"] for x in w.lookups), 1)),
        "table.read_keys_files": _mean(x["files"] for x in w.lookups),
        "table.scan_s": _mean(dur("table.scan")),
        "table.scan_files": _mean(x["files"] for x in w.scans),
        "table.changes_since_s": _mean(dur("table.changes_since")),
        "commitio.commits": cnt["create"],
        "commitio.create_s": sec["create"] / cnt["create"] if cnt["create"] else 0.0,
        "commitio.publish_s": sec["publish"] / cnt["publish"] if cnt["publish"] else 0.0,
        "commitio.conflicts": cnt["conflicts"],
        "incremental.sync_s": _mean(dur("incremental.sync")),
        "incremental.rows_propagated": _mean(x["rows"] for x in w.syncs),
        "driver.process_batch_s": _mean(dur("driver.process_batch")),
        "driver.process_batch_self_s": _mean(selfs[s["id"]] for s in batches),
        "driver.epochs": len(applied_batches),
        "driver.files_per_epoch": (len(w.published) / len(applied_batches)
                                   if applied_batches else 0.0),
        "driver.skipped_epochs": len(batches) - len(applied_batches),
        "stream.add_batch_s": prog_mean("addBatch"),
        "stream.latest_offset_s": prog_mean("latestOffset"),
        "stream.query_planning_s": prog_mean("queryPlanning"),
        "stream.wal_commit_s": prog_mean("walCommit"),
        "spark.jobs": spark["jobs"],
        "spark.tasks": spark["tasks"],
        "spark.gc_s": spark["gc_s"],
        "spark.sched_delay_s": spark["sched_delay_s"],
        "load.late_p90_s": tail[1] if tail else max(late, default=0.0),
        "load.files_published": len(w.published),
        "trace.freshness_samples": len(fresh),
        "trace.freshness_tail_pct": ftail[0] if ftail else 0.0,
        "trace.freshness_tail_s": ftail[1] if ftail else 0.0,
        "trace.lookup_samples": len(samples.get("lookup", [])),
        "trace.unattributed_jobs": len(set(attributed.get(0, [])) & set(window_jobs)),
    }
    for k, v in e2e.items():
        out[f"trace.{k}"] = v
    return out


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.startswith("trace."):
        base = name[len("trace."):]
        if base in E2E_UNITS:
            return E2E_UNITS[base]
        if base.endswith("_pct"):
            return "%"
        return "s" if base.endswith("_s") else "count"
    if name.endswith("_per_event"):
        return "B/event"
    if name.endswith("_row") or name.endswith("_amp"):
        return "ratio"
    if name.endswith("_bytes") or name.endswith("_rewritten"):
        return "B"
    if name.endswith("_s"):
        return "s"
    return "count"


E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "events_per_s": "1/s",
             "freshness_p50_s": "s", "lookup_p50_s": "s"}
