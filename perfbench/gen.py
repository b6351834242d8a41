"""Seeded change-event generator for the benchmark's WAL files.

The shape follows the engine's own generator (etl_spark/cdc/generator.py):
the first ``n_keys`` seqs insert every key once and later seqs hit hashed
keys, 20% of keys sit in three hot repos, ops are ~30/60/10
insert/update/delete after each key's first insert, and content bodies
run 64-4096 bytes (about 2 KB on average). Every value
is a pure function of ``(seed, seq)``, computed here in Python with
blake2b/sha256, so the same seed gives byte-identical files and the
engine only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["python", "rust", "go", "js"]
EXTS = ["py", "rs", "go", "js"]
N_REPOS = 50
EPOCH0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

WAL_SCHEMA = pa.schema([
    pa.field("seq", pa.int64(), nullable=False),
    pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("op", pa.string(), nullable=False),
    pa.field("repo", pa.string(), nullable=False),
    pa.field("path", pa.string(), nullable=False),
    pa.field("commit", pa.string(), nullable=False),
    pa.field("lang", pa.string()),
    pa.field("content", pa.string()),
])


def _h(seed: int, tag: str, x) -> int:
    d = hashlib.blake2b(f"{seed}:{tag}:{x}".encode(), digest_size=8).digest()
    return int.from_bytes(d, "little")


def key_of(seed: int, key_id: int) -> tuple[str, str]:
    """(repo, path) of a key id."""
    if key_id % 5 == 0:
        repo_id = key_id % 3
    else:
        repo_id = 3 + _h(seed, "repo", key_id) % (N_REPOS - 3)
    ext = EXTS[_h(seed, "klang", key_id) % 4]
    return f"org{repo_id % 7}/repo{repo_id}", f"src/m{(key_id * 7) % 97}/f{key_id}.{ext}"


def key_id_of(seed: int, seq: int, n_keys: int) -> int:
    """Key id an event of the log touches: the first ``n_keys`` seqs
    insert every key once, later seqs hit hashed keys."""
    return seq if seq < n_keys else _h(seed, "key", seq) % n_keys


def event(seed: int, seq: int, key_id: int, first: bool) -> dict:
    repo, path = key_of(seed, key_id)
    if first:
        op = "insert"
    else:
        sel = _h(seed, "op", seq) % 10
        op = "delete" if sel < 1 else "insert" if sel < 4 else "update"
    commit = hashlib.sha256(f"{seed}:commit:{seq}".encode()).hexdigest()[:40]
    lh = _h(seed, "lang", seq) % 20
    lang = None if lh == 19 else LANGS[lh % 4]
    content = None
    if op != "delete":
        body_len = 64 + _h(seed, "len", seq) % 4033
        body = (hashlib.sha256(f"{seed}:body:{seq}".encode()).hexdigest() * 64)[:body_len]
        content = f"// {repo}/{path}@{commit}\n{body}"
    return {"seq": seq, "ts": EPOCH0 + timedelta(seconds=seq), "op": op,
            "repo": repo, "path": path, "commit": commit, "lang": lang,
            "content": content}


def log_events(seed: int, start: int, end: int, n_keys: int):
    """Events of seq in [start, end) of a log over ``n_keys`` keys."""
    return [event(seed, s, key_id_of(seed, s, n_keys), s < n_keys)
            for s in range(start, end)]


def write_wal_file(path: str, events: list[dict]) -> None:
    """Write one WAL parquet file atomically (tmp + rename)."""
    tbl = pa.Table.from_pylist(events, schema=WAL_SCHEMA)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)


class History:
    """Per-key event history of the sample keys a workload looks up, to
    check ``read_keys`` results without trusting the engine."""

    def __init__(self):
        self.events: dict[tuple[str, str], list[dict]] = {}

    def add(self, ev: dict) -> None:
        self.events.setdefault((ev["repo"], ev["path"]), []).append(ev)

    def valid_states(self, key, seq_lo: int, seq_hi: int):
        """The states a snapshot may show for ``key`` if its visible
        max seq lies anywhere in [seq_lo, seq_hi]: the latest event at
        or below ``seq_lo``, plus every event in (seq_lo, seq_hi].
        ``None`` stands for "absent" (never written, or deleted)."""
        evs = sorted(self.events.get(key, []), key=lambda e: e["seq"])
        base = None
        out = []
        for e in evs:
            if e["seq"] <= seq_lo:
                base = e
            elif e["seq"] <= seq_hi:
                out.append(e)
        return [base] + out

    @staticmethod
    def matches(ev, row) -> bool:
        live = ev is not None and ev["op"] != "delete"
        if row is None:
            return not live
        if not live:
            return False
        want = hashlib.sha256(ev["content"].encode()).hexdigest()
        return (row["commit"] == ev["commit"] and row["lang"] == ev["lang"]
                and row["content"] == ev["content"]
                and row["content_sha256"] == want)
