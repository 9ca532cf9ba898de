"""Spans around the calls into the engine's modules, recorded from outside.

``Tracer.install`` replaces each listed public function in every module
namespace that binds it (``from .codec import decode_blocks`` makes a
second binding in ``index.segments``), plus a few dependency boundaries:
``os.walk``, the pyarrow parquet readers, ``DataFrameReader.parquet``,
``SparkSession.createDataFrame`` and ``DataFrame.collect``. Lazy
``from ..index.segments import x`` imports resolve at call time, so those
calls are caught too. ``uninstall`` restores every original.

Each wrapper records a span (name, start, end, parent span, request id)
in memory; ``write`` dumps them when the run ends. Wrappers carry their
original's ``__module__``/``__qualname__`` and sit at that name in the
defining module, so cloudpickle ships functions that Spark sends to its
Python workers by reference, and the workers run the unwrapped original.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time

PKG = "solrplugins_spark"
_INHERITED = object()

# layer module -> public functions traced there: those a workload's
# timed requests call and a per-layer metric reads, plus the packed
# build that set-up runs
LAYER_FUNCS = {
    "index.segments": (
        "build_segments",
        "wand_search", "wand_phrase_search", "wand_boolean_search",
        "wand_boolean_boosted_search", "wand_facet_search",
        "wand_facet_range_search", "wand_stats_search",
        "wand_stats_facet_search", "wand_collapse_search",
        "wand_rerank_search", "wand_scores_for_ids", "fetch_docs_local",
        "delete_docs",
    ),
    "index.codec": (
        "decode_postings", "decode_blocks", "decode_positions",
        "decode_block_positions", "decode_payloads", "varint_decode",
        "varint_decode_range",
    ),
    "query.parser": ("parse_query",),
    "query.compiler": ("execute_query", "compile_ast"),
    "query.scorer": ("search_terms",),
    "query.mlt": ("more_like_this", "interesting_terms"),
    "query.feedback": ("unsupervised_feedback",),
    "query.handlers": (
        "packed_select_handler", "packed_mlt_handler", "packed_feedback_handler",
    ),
    "streaming.incremental": ("packed_generations",),
}


class Tracer:
    """In-memory span recorder. Not thread-safe across requests: the
    benchmark is one closed-loop client, and spans from other threads
    (the engine's build pools) attach to that thread's own stack."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, t0, t1, parent, req]
        self.request = None
        self._local = threading.local()
        self._undo: list[tuple] = []

    # -- recording ---------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        st = self._stack()
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, st[-1] if st else None, self.request])
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()
        elif idx in st:
            st.remove(idx)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            i = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(i)

        return traced

    def _wrap_gen(self, name: str, fn):
        """Like _wrap for a generator function: the span covers the
        iteration, not just the call that creates the generator."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            i = tracer.begin(name)
            try:
                yield from fn(*args, **kwargs)
            finally:
                tracer.end(i)

        return traced

    # -- patching ----------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        # a class may inherit the attribute: restore by deleting ours
        old = owner.__dict__.get(attr, _INHERITED) if isinstance(owner, type) else getattr(owner, attr)
        self._undo.append((owner, attr, old))
        setattr(owner, attr, value)

    def install(self, spark, boundaries: bool = True) -> None:
        """Wrap every LAYER_FUNCS function and, with ``boundaries``, the
        dependency boundaries too."""
        if self._undo:
            return
        targets = {}
        for layer, names in LAYER_FUNCS.items():
            mod = importlib.import_module(f"{PKG}.{layer}")
            for n in names:
                fn = getattr(mod, n)
                targets[id(fn)] = (fn, self._wrap(f"{layer}.{n}", fn))
        for mod_name, mod in list(sys.modules.items()):
            if not (mod_name == PKG or mod_name.startswith(PKG + ".")) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    self._set(mod, attr, hit[1])
        if not boundaries:
            return

        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        self._set(os, "walk", self._wrap_gen("fs.walk", os.walk))
        self._set(pq, "read_table", self._wrap("arrow.read_table", pq.read_table))
        self._set(pads, "dataset", self._dataset_wrapper(pads.dataset))
        df_cls = type(spark.range(0))
        reader_cls = type(spark.read)
        session_cls = type(spark)
        self._set(df_cls, "collect", self._wrap("spark.collect", df_cls.collect))
        self._set(reader_cls, "parquet", self._wrap("spark.read_parquet", reader_cls.parquet))
        self._set(
            session_cls, "createDataFrame",
            self._wrap("spark.create_df", session_cls.createDataFrame),
        )

    def _dataset_wrapper(self, dataset_fn):
        tracer = self
        traced_dataset = self._wrap("arrow.dataset", dataset_fn)

        class _Dataset:
            """Times ``to_table`` (where pyarrow reads) and forwards the
            rest to the real dataset."""

            def __init__(self, real):
                self._real = real

            def to_table(self, *args, **kwargs):
                i = tracer.begin("arrow.to_table")
                try:
                    return self._real.to_table(*args, **kwargs)
                finally:
                    tracer.end(i)

            def __getattr__(self, attr):
                return getattr(self._real, attr)

        @functools.wraps(dataset_fn)
        def dataset(*args, **kwargs):
            # only the engine's own reads get the proxy: pyarrow's
            # internals pass datasets on to typed native code
            caller = sys._getframe(1).f_globals.get("__name__", "")
            if caller == PKG or caller.startswith(PKG + "."):
                return _Dataset(traced_dataset(*args, **kwargs))
            return dataset_fn(*args, **kwargs)

        return dataset

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, val = self._undo.pop()
            if val is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, val)

    # -- output ------------------------------------------------------
    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, req in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1, "parent": parent, "req": req}) + "\n")


def self_times(spans) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for i, (_, t0, t1, parent, _) in enumerate(spans):
        if parent is not None and t1 is not None:
            children.setdefault(parent, []).append((t0, t1))
    out = []
    for i, (_, t0, t1, _, _) in enumerate(spans):
        if t1 is None:
            out.append(0.0)
            continue
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, t0), min(hi, t1)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((t1 - t0) - covered)
    return out
