"""Spans, Spark event-log attribution and warehouse accounting.

Everything here runs in the benchmark, around the engine's public calls;
the engine itself is not instrumented.

- A span times one call. In a traced run it also puts the call's Spark
  jobs in a job group named after the span, so the event log attributes
  jobs, stages, tasks, task time and shuffle bytes to it, and it walks
  the warehouse before and after the call to count files and bytes.
- Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

UNTRACKED_GROUP = "lakebench.untracked"


# -- warehouse accounting ----------------------------------------------------


def snapshot(roots: list[str]) -> dict[str, tuple[tuple[int, int], int]]:
    """path -> ((inode, mtime_ns), size) of every regular file under
    ``roots``. The mtime tells a hard link to an old file from a new
    file that reuses a freed inode number."""
    out: dict[str, tuple[int, int]] = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                p = os.path.join(dirpath, name)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = ((st.st_ino, st.st_mtime_ns), st.st_size)
    return out


@dataclass
class FileDelta:
    bytes_written: int = 0
    files_added: int = 0
    files_linked: int = 0
    files_removed: int = 0
    delete_files: int = 0

    def add(self, other: "FileDelta") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


def is_delete_file(path: str) -> bool:
    """Row-level delete artefacts: Delta deletion vectors, Iceberg
    position/equality delete files and puffin DVs, Hudi log files."""
    name = os.path.basename(path)
    return (
        name.startswith("deletion_vector_")
        or name.endswith(("-deletes.parquet", ".puffin"))
        or ".log." in name
    )


def diff(before: dict, after: dict) -> FileDelta:
    """Files new at ``after``: a new path whose inode already existed,
    unmodified, is a hard-linked carry-forward (``files_linked``) and
    writes no bytes."""
    old = {ident for ident, _ in before.values()}
    d = FileDelta()
    for path, (ident, size) in after.items():
        if path in before and before[path][0] == ident:
            continue
        if ident in old:
            d.files_linked += 1
            continue
        d.files_added += 1
        d.bytes_written += size
        d.delete_files += is_delete_file(path)
    d.files_removed = sum(1 for p in before if p not in after)
    return d


def stored_bytes(roots: list[str]) -> int:
    """Bytes stored under ``roots``, each inode counted once."""
    seen: dict[tuple[int, int], int] = {}
    for ident, size in snapshot(roots).values():
        seen[ident] = size
    return sum(seen.values())


# -- spans ------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    files: FileDelta = field(default_factory=FileDelta)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. ``enabled=False`` keeps only wall time, so the
    untraced run pays for nothing but ``perf_counter``."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.roots: list[str] = []
        self.spans: list[Span] = []
        self.hook_s = 0.0
        self._stack: list[int] = []
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    @contextmanager
    def span(self, name: str, walk: bool = False):
        """Time the body; when tracing, put its Spark jobs in a job group
        named after the span and, with ``walk``, count the files it
        writes under ``roots``."""
        idx = len(self.spans)
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        before = None
        if self.enabled:
            h0 = time.perf_counter()
            sp.group = f"{name}#{idx}"
            if self._spark is not None:
                self._spark.sparkContext.setJobGroup(sp.group, name)
            if walk:
                before = snapshot(self.roots)
            self.hook_s += time.perf_counter() - h0
        self._stack.append(idx)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                h0 = time.perf_counter()
                if before is not None:
                    sp.files = diff(before, snapshot(self.roots))
                if self._spark is not None:
                    parent = self.spans[self._stack[-1]].group if self._stack else UNTRACKED_GROUP
                    self._spark.sparkContext.setJobGroup(parent, parent)
                self.hook_s += time.perf_counter() - h0

    def self_time(self, idx: int) -> float:
        """A span's duration minus the part its child spans cover."""
        sp = self.spans[idx]
        children = sum(s.wall_s for s in self.spans if s.parent == idx)
        return sp.wall_s - children

    def dump(self, path: str, jobs: dict | None = None) -> None:
        """Write every span, one JSON object a line, with its event-log
        counts when ``jobs`` is given."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for i, sp in enumerate(self.spans):
                rec = {
                    "id": i, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "wall_s": sp.wall_s,
                    "self_s": self.self_time(i), "group": sp.group,
                    **vars(sp.files),
                }
                if jobs is not None:
                    rec.update(jobs.get(sp.group, {}))
                f.write(json.dumps(rec, default=str) + "\n")


# -- event log --------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    infer_jobs: int = 0


def _is_inference_job(ev: dict) -> bool:
    """Parquet footer inference and file listing run as plain RDD jobs
    outside any SQL execution, launched from the reader call."""
    props = ev.get("Properties") or {}
    if props.get("spark.sql.execution.id") is not None:
        return False
    names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])]
    return any(n.startswith(("parquet at", "load at", "json at", "csv at")) for n in names)


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Job group -> counts, from a Spark event log (JSON lines)."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNTRACKED_GROUP
                st = stats[group]
                st.jobs += 1
                st.infer_jobs += _is_inference_job(ev)
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stats[stage_group.get(sid, UNTRACKED_GROUP)].stages += 1
            elif kind == "SparkListenerTaskEnd":
                st = stats[stage_group.get(ev.get("Stage ID"), UNTRACKED_GROUP)]
                st.tasks += 1
                m = ev.get("Task Metrics") or {}
                st.task_s += m.get("Executor Run Time", 0) / 1000.0
                st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return dict(stats)


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
