"""Spans recorded from outside the program, and the process-tree RSS sampler.

The tracer never edits the engine: it times the harness's own calls into
public functions and, while a traced operation runs, temporarily rebinds a
few module attributes (``jobs.encode._sample_race_seed`` and friends) to
timing wrappers. Spans stay in memory and are written out once at the end.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import threading
import time

#: (module, attribute, span name) rebound while a traced operation runs.
#: ``encode_table`` resolves these as module globals at call time, so the
#: wrappers see exactly the calls the job makes.
WRAPPED = (
    ("learn_to_compress_spark.learned", "var_regressor_params", "learned.params"),
    ("learn_to_compress_spark.jobs.encode", "_sample_race_seed", "encode.prep.race_seed"),
    ("learn_to_compress_spark.jobs.encode", "_propose_linked_cols", "encode.prep.linked_probe"),
    ("learn_to_compress_spark.jobs.encode", "read_lineage", "chunkstore.lineage_read"),
    ("learn_to_compress_spark.jobs.compact", "read_lineage", "chunkstore.lineage_read"),
    ("learn_to_compress_spark.jobs.compact", "encode_table", "encode"),
)

#: span-name prefix → layer (package module) it is billed to
LAYER_OF = {
    "session": "sources",
    "sources": "sources",
    "learned": "learned",
    "encode": "encode",
    "kernel": "kernel",
    "chunkstore": "chunkstore",
    "decode": "decode",
    "pushdown": "pushdown",
    "compact": "compact",
    "check": "check",
}
LAYERS = tuple(dict.fromkeys(LAYER_OF.values()))


class Tracer:
    """Nested spans ``{id, name, start, end, parent, op}`` on one thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    @contextlib.contextmanager
    def patched(self):
        """Rebind ``WRAPPED`` to span-recording wrappers for the duration."""
        if not self.enabled:
            yield
            return
        saved = []
        try:
            for mod_name, attr, name in WRAPPED:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(orig, name))
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    @contextlib.contextmanager
    def active(self, on: bool):
        """Traced (wrappers installed) when ``on``; otherwise record nothing
        for the duration, so an untraced operation pays no tracing cost."""
        if on or not self.enabled:
            with self.patched():
                yield
            return
        self.enabled = False
        try:
            yield
        finally:
            self.enabled = True

    def call(self, fn, *args, **kwargs):
        """Call ``fn``; an engine result carrying ``wall_ms`` (the encode
        job's own wall) is copied onto the innermost open span as ``job_s``."""
        out = fn(*args, **kwargs)
        if self.enabled and self._stack and isinstance(out, dict) and "wall_ms" in out:
            self.spans[self._stack[-1] - 1]["job_s"] = out["wall_ms"] / 1000.0
        return out

    def _wrap(self, fn, name):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return self.call(fn, *args, **kwargs)

        return wrapper

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def duration(self, name: str) -> float:
        """Mean duration of the spans called ``name`` (0.0 when none)."""
        spans = self.named(name)
        return sum(s["end"] - s["start"] for s in spans) / len(spans) if spans else 0.0

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus its children's."""
        out = dict.fromkeys(LAYERS, 0.0)
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            layer = LAYER_OF.get(s["name"].split(".", 1)[0])
            if layer is not None:
                out[layer] += max(0.0, s["end"] - s["start"] - kids.get(s["id"], 0.0))
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh, indent=1, default=str)


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pids, page: int) -> int:
    total, exes = 0, {}
    for pid in pids:
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue  # exited between listing and reading
        exes[pid] = exe
        # a child that still runs its parent's binary while the parent is
        # the JVM is a fork about to exec a Python worker: it shares the
        # JVM's memory, so counting it would count the JVM twice
        if exes.get(ppid) == exe and exe.endswith("/java"):
            continue
        total += rss
    return total


class RssSampler:
    """Peak resident set of this process and all its descendants (the JVM
    and its Python workers) taken together, sampled from ``/proc`` on a
    daemon thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0  # bytes
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self):
        while not self._stop.is_set():
            pid = os.getpid()
            self.peak = max(self.peak, _rss_bytes([pid, *descendants(pid)], self._page))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
