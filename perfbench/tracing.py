"""Tracing from outside the engine: in-memory spans around public
calls, a timing commit backend, and an offline Spark event-log parser.

Spans carry name, start, end, parent and run id. Before each traced
call the tracer sets the Spark local property ``perfbench.span`` so
every job the call launches can be attributed to it from the event
log; micro-batch jobs are attributed through ``streaming.sql.batchId``
instead, because the streaming thread does not run on the caller's
thread.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
import uuid

from stats import self_time

SPAN_PROP = "perfbench.span"


class Tracer:
    """Records spans in memory; a disabled tracer costs one branch."""

    def __init__(self, sc=None, enabled: bool = False, run_id: str | None = None):
        self.sc = sc
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def start(self, name: str, **attrs) -> dict | None:
        if not self.enabled:
            return None
        with self._lock:
            self._next += 1
            sid = self._next
        st = self._stack()
        span = {"id": sid, "name": name, "start": time.time(), "end": None,
                "parent": st[-1]["id"] if st else None, "run": self.run_id,
                "attrs": attrs}
        st.append(span)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(sid))
        return span

    def end(self, span: dict | None, **attrs) -> None:
        if span is None:
            return
        span["end"] = time.time()
        span["attrs"].update(attrs)
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(st[-1]["id"]) if st else None)
        with self._lock:
            self.spans.append(span)

    def call(self, name: str, fn, *args, _attrs: dict | None = None, **kwargs):
        span = self.start(name, **(_attrs or {}))
        try:
            out = fn(*args, **kwargs)
        except BaseException as e:
            self.end(span, error=type(e).__name__)
            raise
        self.end(span, **({"result": _small(out)} if isinstance(out, dict) else {}))
        return out

    def wrap(self, obj, method: str, name: str | None = None, attrs=None) -> None:
        """Shadow ``obj.method`` with a traced version on the instance,
        so calls the engine itself makes through the same object (for
        example ``apply_batch`` -> ``table.merge_cdc``) are spans too.
        ``attrs(args, kwargs)`` adds call arguments to the span."""
        if not self.enabled:
            return
        inner = getattr(obj, method)
        label = name or method

        @functools.wraps(inner)
        def traced(*a, **kw):
            return self.call(label, inner, *a, _attrs=attrs(a, kw) if attrs else None, **kw)

        setattr(obj, method, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s, default=str) + "\n")


def _small(d: dict) -> dict:
    """The scalar and short-list parts of a call's stats dict."""
    out = {}
    for k, v in d.items():
        if isinstance(v, (int, float, str, bool)) or v is None:
            out[k] = v
        elif isinstance(v, list) and len(v) <= 256:
            out[k] = v
    return out


class TimingBackend:
    """A ``CommitBackend`` that times and counts the wrapped backend's
    operations; installed with ``etl_spark.lake.commitio.set_backend``."""

    def __init__(self, inner):
        from etl_spark.lake.commitio import CommitConflictError

        self.inner = inner
        self._conflict = CommitConflictError
        self._lock = threading.Lock()
        self.counts = {"publish": 0, "create": 0, "delete": 0, "conflicts": 0}
        self.seconds = {"publish": 0.0, "create": 0.0, "delete": 0.0}

    def _timed(self, op, fn, *a):
        t = time.perf_counter()
        try:
            return fn(*a)
        except self._conflict:
            with self._lock:
                self.counts["conflicts"] += 1
            raise
        finally:
            dt = time.perf_counter() - t
            with self._lock:
                self.counts[op] += 1
                self.seconds[op] += dt

    def publish(self, path, text):
        return self._timed("publish", self.inner.publish, path, text)

    def create_if_absent(self, path, text):
        return self._timed("create", self.inner.create_if_absent, path, text)

    def delete(self, path):
        return self._timed("delete", self.inner.delete, path)

    def snapshot(self) -> dict:
        with self._lock:
            return {"counts": dict(self.counts), "seconds": dict(self.seconds)}


# ---------- offline event-log parsing ----------

TASK_FIELDS = ("run_s", "gc_s", "input_bytes", "input_records", "shuffle_read_bytes",
               "shuffle_write_bytes", "output_bytes", "spill_bytes", "sched_delay_s")


def parse_event_log(path: str) -> tuple[dict, dict]:
    """Jobs and stages of a Spark JSON event log.

    ``jobs[job_id] = {"span", "batch", "submit", "stages"}``, where
    ``span`` is the job's ``perfbench.span`` property and ``batch`` its
    ``streaming.sql.batchId``; ``stages[stage_id] = {"job", "tasks",
    **sums}`` with the sums of ``TASK_FIELDS`` over the stage's tasks.
    ``sched_delay_s`` is the time each task waited between its stage's
    submission and its launch, i.e. for a free core."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_submit: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {"span": props.get(SPAN_PROP),
                             "batch": props.get("streaming.sql.batchId"),
                             "submit": ev.get("Submission Time", 0) / 1000.0,
                             "stages": list(ev.get("Stage IDs", []))}
                for sid in jobs[jid]["stages"]:
                    stages.setdefault(sid, {"job": jid, "tasks": 0,
                                            **{k: 0.0 for k in TASK_FIELDS}})
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.get(sid)
                m = ev.get("Task Metrics")
                if st is None or not m:
                    continue
                info = ev["Task Info"]
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                inp = m.get("Input Metrics", {})
                st["input_bytes"] += inp.get("Bytes Read", 0)
                st["input_records"] += inp.get("Records Read", 0)
                sr = m.get("Shuffle Read Metrics", {})
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sub = stage_submit.get(sid)
                if sub is not None and info.get("Launch Time"):
                    st["sched_delay_s"] += max(info["Launch Time"] / 1000.0 - sub, 0.0)
    return jobs, stages


def find_event_log(log_dir: str) -> str | None:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    return max(files, key=os.path.getmtime) if files else None


def attribute(jobs: dict, spans: list[dict]) -> dict[int, list[int]]:
    """Map each span id to the ids of the jobs it launched: by the job's
    ``perfbench.span`` property, else (micro-batch jobs) by its batch
    id through the ``driver.process_batch`` span of that epoch.
    Unattributed jobs land under key 0."""
    known = {s["id"] for s in spans}
    by_batch = {str(s["attrs"].get("epoch")): s["id"] for s in spans
                if s["name"] == "driver.process_batch"}
    out: dict[int, list[int]] = {}
    for jid, job in jobs.items():
        sid = int(job["span"]) if job["span"] else None
        if sid not in known:
            sid = by_batch.get(job["batch"]) if job["batch"] is not None else None
        out.setdefault(sid or 0, []).append(jid)
    return out


def span_tree(spans: list[dict]):
    """(children-by-parent-id, descendants(span_id) -> ids)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def descendants(sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c["id"] for c in kids.get(cur, []))
        return out

    return kids, descendants


def self_times(spans: list[dict]) -> dict[int, float]:
    kids, _ = span_tree(spans)
    return {s["id"]: self_time(s, kids.get(s["id"], [])) for s in spans}


def stage_sums(jobs: dict, stages: dict, job_ids, where=None) -> dict:
    """Sums of ``TASK_FIELDS`` (plus job, stage and task counts) over
    the stages of ``job_ids``, optionally only stages where ``where(st)``."""
    tot = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0.0 for k in TASK_FIELDS}}
    for jid in job_ids:
        tot["jobs"] += 1
        for sid in jobs[jid]["stages"]:
            st = stages.get(sid)
            # a stage reused by a later job (shown skipped there) counts
            # once, under the job that ran it
            if st is None or st["job"] != jid or not st["tasks"] or (where and not where(st)):
                continue
            tot["stages"] += 1
            tot["tasks"] += st["tasks"]
            for k in TASK_FIELDS:
                tot[k] += st[k]
    return tot
