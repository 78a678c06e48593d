"""In-memory span recorder for the traced run.

The engine is never edited: :meth:`Tracer.install` replaces public
functions and methods of its modules with timing wrappers (module or
class attribute swap) and :meth:`Tracer.uninstall` puts them back.
Spans keep a parent link: the innermost open span of the same thread,
or — for a thread with nothing open, such as a commit worker of
``merge_many``'s pool — the most recently opened span still open on
another thread that was not itself linked this way (so pool workers
attach to the caller that waits on them, never to each other).
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: "int | None" = None
    depth: int = 0
    thread: int = 0
    attrs: dict = field(default_factory=dict)
    #: linked to its parent across threads (or below such a span)
    borrowed: bool = False


#: FileIO primitives wrapped as ``fileio.<method>`` spans
FILEIO_METHODS = (
    "exists", "isdir", "listdir", "getsize", "getmtime", "read_text",
    "open_input", "makedirs", "write_text", "add_file", "publish_atomic",
    "remove", "remove_tree", "remove_dir_if_empty",
)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open: dict[int, Span] = {}
        self._restore: list = []

    # --- recording ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str) -> Span:
        st = self._stack()
        with self._lock:
            if st:
                parent, borrowed = st[-1], st[-1].borrowed
            else:
                parent = max(
                    (s for s in self._open.values() if not s.borrowed),
                    key=lambda s: s.start, default=None,
                )
                borrowed = parent is not None
            sp = Span(
                next(self._ids), name, layer, time.time(),
                parent=parent.id if parent else None,
                depth=parent.depth + 1 if parent else 0,
                thread=threading.get_ident(), borrowed=borrowed,
            )
            self._open[sp.id] = sp
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self._open.pop(sp.id, None)
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self.begin(name, layer)
        try:
            yield sp
        except BaseException as e:
            sp.attrs["error"] = type(e).__name__
            raise
        finally:
            self.end(sp)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return wrapper

    # --- installing --------------------------------------------------------
    def patch(self, owner, attr: str, name: str, layer: str) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            new = classmethod(self.wrap(raw.__func__, name, layer))
        elif isinstance(raw, staticmethod):
            new = staticmethod(self.wrap(raw.__func__, name, layer))
        else:
            new = self.wrap(raw, name, layer)
        setattr(owner, attr, new)
        self._restore.append((owner, attr, raw))

    def install(self) -> None:
        """Wrap the engine's public entry points named by the benchmark."""
        from multi_table_plugins_spark import session
        from multi_table_plugins_spark.lakehouse import fileio, multi_merge, snapshots
        from multi_table_plugins_spark.lakehouse.table import LakeTable
        from multi_table_plugins_spark.streaming import cdc_pipeline, lineage

        self.patch(session, "get_spark", "session.get_spark", "session")
        self.patch(cdc_pipeline, "apply_cdc_batch", "cdc.apply_cdc_batch", "cdc_pipeline")
        self.patch(multi_merge, "merge_many", "multi_merge.merge_many", "multi_merge")
        self.patch(snapshots, "publish_snapshot", "snapshots.publish_snapshot", "snapshots")
        self.patch(lineage.LineageLog, "emit", "lineage.emit", "lineage")
        for m in ("get_or_create", "commit_delta", "manifest", "lookup", "read",
                  "table_changes"):
            self.patch(LakeTable, m, f"table.{m}", "table")
        for m in ("compact", "compact_deltas"):
            self.patch(LakeTable, m, f"table.{m}", "table.compact")
        # each method is wrapped once, on the class that defines it
        for cls in (fileio._PosixBase, fileio.LocalFileIO, fileio.GenericFileIO):
            for m in FILEIO_METHODS:
                if m in cls.__dict__:
                    self.patch(cls, m, f"fileio.{m}", "fileio")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, raw = self._restore.pop()
            setattr(owner, attr, raw)

    # --- costs and output --------------------------------------------------
    def per_span_overhead_s(self, n: int = 20000) -> float:
        """Seconds a wrapper adds to one call, measured on a no-op."""
        probe = Tracer()

        def noop():
            return None

        wrapped = probe.wrap(noop, "probe", "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        bare = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(n):
            wrapped()
        return max(0.0, (time.perf_counter() - t0 - bare) / n)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__) + "\n")
