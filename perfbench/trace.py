"""Spans around calls into the engine's layers, installed from outside it.

``install(tracer)`` wraps the public functions of each layer module. A
plan module that did ``from compendium_spark.tables import load`` holds
its own reference, so every loaded ``compendium_spark`` module whose
attribute *is* the original function gets the wrapper too. Methods are
wrapped on their class.

A span records name, start, end, parent span and op id. Spans stay in
memory until the run writes them out. Work a hook does to count bytes
or rows is timed separately (``Tracer.book_s``) so it can be taken out
of the op's wall.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for an op root
    op: str
    top: bool  # first span of its layer on the stack (not nested in itself)


@dataclass
class Tracer:
    active: bool = False
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, dict[str, float]] = field(default_factory=dict)
    book_s: float = 0.0
    op: str = ""
    root: int = -1
    _local: threading.local = field(default_factory=threading.local)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def book(self, dt: float) -> None:
        self.book_s += dt
        self.count("trace.book_s", dt)

    def count(self, key: str, value: float = 1.0) -> None:
        c = self.counters.setdefault(self.op, {})
        c[key] = c.get(key, 0.0) + value

    def begin_op(self, op_id: str) -> None:
        self.op = op_id
        self.spans.append(Span("op", time.perf_counter(), 0.0, -1, op_id, True))
        self.root = len(self.spans) - 1
        self._stack()[:] = [self.root]

    def end_op(self) -> None:
        self.spans[self.root].end = time.perf_counter()
        self._stack()[:] = []

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self_):
                st = tracer._stack()
                parent = st[-1] if st else tracer.root
                layer = name.split(".")[0]
                top = not any(tracer.spans[i].name.split(".")[0] == layer for i in st)
                tracer.spans.append(Span(name, time.perf_counter(), 0.0, parent, tracer.op, top))
                self_.idx = len(tracer.spans) - 1
                st.append(self_.idx)
                return self_

            def __exit__(self_, *exc):
                tracer.spans[self_.idx].end = time.perf_counter()
                st = tracer._stack()
                if st and st[-1] == self_.idx:
                    st.pop()

        return _Ctx()

    def wrap(self, name: str, fn, hook=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            pre = None
            if hook is not None:
                b0 = time.perf_counter()
                pre = hook(tracer, "pre", args, kwargs, None)
                tracer.book(time.perf_counter() - b0)
            with tracer.span(name) as s:
                try:
                    result = fn(*args, **kwargs)
                except Exception as e:
                    if type(e).__name__ == "VersionConflictError":
                        tracer.count("vwh.conflicts")
                    raise
            if hook is not None and tracer.spans[s.idx].top:
                b0 = time.perf_counter()
                hook(tracer, "post", args, kwargs, (result, pre))
                tracer.book(time.perf_counter() - b0)
            return result

        return wrapper


def dir_files(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def new_bytes(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


# -- hooks: count work at the layer boundary ---------------------------------


def _path_arg(args, kwargs):
    p = kwargs.get("path", args[1] if len(args) > 1 else None)
    return str(p) if p is not None else None


def _source_hook(record_kind: str):
    def hook(tracer, phase, args, kwargs, result):
        if phase != "post":
            return None
        path = _path_arg(args, kwargs)
        if not path or not os.path.isfile(path):
            return None
        tracer.count("sources.bytes_in", os.path.getsize(path))
        with open(path, "rb") as f:
            data = f.read()
        if record_kind == "xml":
            rows = data.count(b"<BioSample>")
        elif record_kind == "fasta":
            rows = data.count(b">")
            tracer.count("amplicon.asvs", rows)
        else:
            rows = max(0, data.count(b"\n") - 1)
            if record_kind == "summary":
                tracer.count("qc.samples", rows)
        tracer.count("sources.rows", rows)
        return None

    return hook


def _fetch_hook(tracer, phase, args, kwargs, result):
    if phase == "post":
        tracer.count("enrichment.batches", len(args[0]))
        tracer.count("enrichment.rows_staged", len(result[0]))


def _decisions_hook(tracer, phase, args, kwargs, result):
    if phase == "post":
        tracer.count("orchestrate.decisions", len(result[0]))


def _root_of(obj) -> Path | None:
    root = getattr(obj, "root", None)
    return Path(root) if root is not None else None


def _write_hook(prefix: str):
    def hook(tracer, phase, args, kwargs, result):
        root = _root_of(args[0])
        if root is None:
            return None
        if phase == "pre":
            return dir_files(root)
        tracer.count(f"{prefix}.bytes_written", new_bytes(result[1] or {}, dir_files(root)))
        roots = tracer.counters.setdefault("_roots", {})
        roots[str(root)] = 1.0
        return None

    return hook


def _scan_hook(tracer, phase, args, kwargs, result):
    if phase == "post":
        kept, skipped = result[0]
        tracer.count("vwh.files_considered", len(kept) + len(skipped))
        tracer.count("vwh.files_skipped", len(skipped))


TABLE_FUNCS = {
    "load": "tables.load",
    "spread_parts": "tables.gate",
    "maybe_broadcast": "tables.gate",
    "table_num_rows": "tables.gate",
}
SOURCE_FUNCS = {
    ("compendium_spark.sources.biosample_xml", "read_biosample_xml"): "xml",
    ("compendium_spark.sources.tsv", "read_summary"): "summary",
    ("compendium_spark.sources.tsv", "read_counts_wide"): "tsv",
    ("compendium_spark.sources.tsv", "read_taxonomy"): "tsv",
    ("compendium_spark.sources.fasta", "read_fasta"): "fasta",
}
ORCH_FUNCS = (
    "initialize_pipeline",
    "run_project",
    "determine_projects",
    "advance_projects",
    "archive_project",
    "discard_project",
)
WH_WRITES = ("init_tables", "write", "append", "upsert", "partial_update")
VWH_WRITES = (
    "write", "append", "upsert", "partial_update", "delete", "compact",
    "vacuum", "rollback", "add_columns", "set_partition_spec",
)


def _patch_function(module_name: str, attr: str, wrapper_for) -> None:
    orig = getattr(sys.modules[module_name], attr)
    wrapped = wrapper_for(orig)
    for name, m in list(sys.modules.items()):
        if name.startswith("compendium_spark") and m is not None:
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, wrapped)


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point named above. Call once per process."""
    import compendium_spark.cli  # noqa: F401  (import every module first)
    import compendium_spark.plans  # noqa: F401
    import compendium_spark.streaming.windows  # noqa: F401
    from compendium_spark.storage import Warehouse
    from compendium_spark.storage_versioned import VersionedWarehouse

    def function(module: str, attr: str, span: str, hook=None) -> None:
        _patch_function(module, attr, lambda f: tracer.wrap(span, f, hook))

    def method(cls, attr: str, span: str, hook=None) -> None:
        setattr(cls, attr, tracer.wrap(span, getattr(cls, attr), hook))

    for attr, span in TABLE_FUNCS.items():
        function("compendium_spark.tables", attr, span)
    for (mod, attr), kind in SOURCE_FUNCS.items():
        function(mod, attr, "sources.parse", _source_hook(kind))
    function(
        "compendium_spark.pipeline.enrichment", "fetch_batches", "enrichment.fetch_parse",
        _fetch_hook,
    )
    for attr in ORCH_FUNCS:
        hook = _decisions_hook if attr == "advance_projects" else None
        function("compendium_spark.pipeline.orchestrate", attr, f"orchestrate.{attr}", hook)
    for attr in WH_WRITES:
        method(Warehouse, attr, "storage.write", _write_hook("storage"))
    method(Warehouse, "read", "storage.read")
    for attr in VWH_WRITES:
        method(VersionedWarehouse, attr, "vwh.commit", _write_hook("vwh"))
    method(VersionedWarehouse, "read", "vwh.read")
    method(VersionedWarehouse, "scan_files", "vwh.scan", _scan_hook)


class StreamingProgress:
    """Collects every streaming query's progress through a Python
    ``StreamingQueryListener`` attached to the session."""

    def __init__(self, spark, tracer: Tracer):
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        self.run_ops: dict[str, str] = {}  # query runId (its job group) -> op id
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                # delivered synchronously with start(), so the op is current
                if tracer.active:
                    outer.run_ops[str(event.runId)] = tracer.op

            def onQueryProgress(self, event):
                p = event.progress
                if str(p.runId) not in outer.run_ops:
                    return
                state = sum(s.numRowsTotal for s in (p.stateOperators or []))
                outer.events.append(
                    {
                        "op": outer.run_ops[str(p.runId)],
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "duration_s": (p.batchDuration or 0) / 1e3,
                        "state_rows": state,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)
