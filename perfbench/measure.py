"""Measurements taken from outside the program: spans around each call
into a layer, Spark's stage data from the UI REST API, store directory
listings and the process tree's resident memory."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager, nullcontext


class NullTracer:
    """Untraced runs: no spans, no extra materialisation."""

    def span(self, name: str):
        return nullcontext()

    def materialise(self, batch, df, count_name: str):
        return df


class Tracer:
    """Records spans in memory: name, start, end, parent and batch id.
    Each span runs its Spark jobs under a job group named after it, so
    stage data can be joined back to the span when the run ends."""

    def __init__(self, spark, store_root: str):
        self.sc = spark.sparkContext
        self.store_root = store_root
        self.spans: list[dict] = []
        self.batch: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "batch": self.batch,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        before = store_listing(self.store_root)
        self.sc.setJobGroup(f"span-{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(
                f"span-{self._stack[-1]}" if self._stack else "none", "harness"
            )
            rec.update(listing_diff(before, store_listing(self.store_root)))

    def materialise(self, batch, df, count_name: str):
        if not df.is_cached:
            df = batch.keep(df.persist())
        batch.counts[count_name] = df.count()
        return df

    def self_times(self) -> dict[int, float]:
        """A span's duration minus the time its child spans cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def stage_data(self) -> dict[int, dict]:
        """Per span id: shuffle read+write bytes and tasks of its jobs'
        completed stages, from the UI REST API."""
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        jobs = _get_json(f"{base}/jobs")
        stages = {s["stageId"]: s for s in _get_json(f"{base}/stages?status=complete")}
        out: dict[int, dict] = {}
        for j in jobs:
            group = j.get("jobGroup") or ""
            if not group.startswith("span-"):
                continue
            acc = out.setdefault(int(group[5:]), {"shuffle_bytes": 0, "tasks": 0})
            for sid in j.get("stageIds", []):
                s = stages.get(sid)
                if s is not None:
                    acc["shuffle_bytes"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
                    acc["tasks"] += s.get("numCompleteTasks", 0)
        return out


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def store_listing(root: str) -> dict[str, int]:
    """path -> size of every file under the store root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def listing_diff(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    new = [p for p in after if p not in before]
    gone = [p for p in before if p not in after]
    return {
        "bytes_written": sum(after[p] for p in new),
        "files_written": len(new),
        "bytes_freed": sum(before[p] for p in gone),
    }


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _tree_rss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * _PAGE_KB
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (the driver JVM and the Python workers) on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
