"""Spans around the benchmark's calls into the engine, and a counting FileIO.

Spans live in memory (name, start, end, parent, run id) and are written
out once, when the run ends.  With tracing off the same call sites run
through ``Tracer(enabled=False)``, whose ``span`` only times the call.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from giraffe_etl_spark.lake.fileio import PosixFileIO


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the body; yields a dict whose ``s`` is its wall seconds."""
        rec = {"name": name}
        if self.enabled:
            rec.update(id=len(self.spans), run=self.run_id,
                       parent=self._stack[-1] if self._stack else None)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.enabled:
                rec["start"], rec["end"] = t0, t0 + rec["s"]
                self._stack.pop()

    # ApplyResult.phase_ms layout: sequential top-level phases, phases
    # nested inside them, and the quarantine append, which runs on a
    # concurrent driver thread from the end of ``setup``
    TOP = ("setup", "plan", "merge_write", "compact", "metrics")
    NESTED = {"plan": ("plan_collect",),
              "merge_write": ("write_job", "footers", "stage_winners")}

    def fold_phases(self, parent: dict, phase_ms: dict) -> None:
        """Add ``phase_ms`` as child spans of the ``apply_batch`` span.

        The engine reports durations only, so children are laid end to
        end from the parent's start.  The concurrent quarantine span is
        marked so that self time does not subtract it.
        """
        if not self.enabled:
            return
        pid = parent["id"]

        def add(name, p, start, concurrent=False):
            dur = phase_ms.get(name, 0) / 1000.0
            sid = len(self.spans)
            self.spans.append({"name": f"apply.{name}", "id": sid, "parent": p,
                               "run": self.run_id, "start": start,
                               "end": start + dur, "s": dur,
                               "concurrent": concurrent})
            return sid, start + dur

        t = parent["start"]
        for name in self.TOP:
            if name not in phase_ms:
                continue
            sid, end = add(name, pid, t)
            if name == "setup":
                add("quarantine", pid, end, concurrent=True)
            inner = t
            for sub in self.NESTED.get(name, ()):
                if sub in phase_ms:
                    _, inner = add(sub, sid, inner)
            t = end

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus time covered by direct children."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.get("parent") is not None and not sp.get("concurrent"):
                child[sp["parent"]] += sp["s"]
        out: dict[str, float] = {}
        for sp, c in zip(self.spans, child):
            out[sp["name"]] = out.get(sp["name"], 0.0) + max(0.0, sp["s"] - c)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


class CountingFileIO(PosixFileIO):
    """POSIX metadata IO that counts calls and bytes written."""

    def __init__(self):
        self._lock = threading.Lock()
        self.counts = {"reads": 0, "writes": 0, "lists": 0, "bytes_written": 0}

    def _bump(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def snapshot(self) -> dict:
        with self._lock:
            return dict(self.counts)

    def read_text(self, path):
        self._bump("reads")
        return super().read_text(path)

    def create_if_absent(self, path, content):
        self._bump("writes")
        self._bump("bytes_written", len(content.encode()))
        return super().create_if_absent(path, content)

    def flip_pointer(self, path, content, expected=None):
        self._bump("writes")
        self._bump("bytes_written", len(content.encode()))
        return super().flip_pointer(path, content, expected)

    def list_dir(self, path):
        self._bump("lists")
        return super().list_dir(path)
