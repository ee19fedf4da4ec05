"""In-memory spans around the engine's public calls, recorded from outside
the package by wrapping module attributes for the length of a traced
phase, and written out once at the end of the run."""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time

#: (module, attribute, span name) of every public call that gets a span
TARGETS = [
    ("rayjoin_spark.plans.layers", "build_edges", "layers.build_edges"),
    ("rayjoin_spark.plans.cells", "edge_cell_stats", "cells.edge_cell_stats"),
    ("rayjoin_spark.plans.cells", "explode_edges_to_cells", "cells.explode_edges_to_cells"),
    ("rayjoin_spark.operators.lsi", "lsi_join", "lsi.lsi_join"),
    ("rayjoin_spark.operators.lsi", "lsi_candidates", "lsi.lsi_candidates"),
    ("rayjoin_spark.operators.lsi", "lsi_intersect_filter", "lsi.lsi_intersect_filter"),
    ("rayjoin_spark.operators.lsi", "with_xsect_point", "lsi.with_xsect_point"),
    ("rayjoin_spark.operators.pip", "pip_locate", "pip.pip_locate"),
    ("rayjoin_spark.operators.nearest", "nearest_edge", "nearest.nearest_edge"),
    ("rayjoin_spark.operators.knn", "knn_points", "knn.knn_points"),
    ("rayjoin_spark.operators.overlay", "overlay", "overlay.overlay"),
    ("rayjoin_spark.plans.ranking", "ordered_index", "ranking.ordered_index"),
    ("rayjoin_spark.plans.ranking", "grouped_index", "ranking.grouped_index"),
]


class Tracer:
    """Spans are dicts: id, name, start, end, parent, pass, rows, attrs.

    The parent is the innermost open span of the calling thread; a call
    made on a helper thread (overlay runs its two sides on a pool) hangs
    under the innermost open span of the thread that opened the tracer."""

    def __init__(self):
        self.spans: list[dict] = []
        self.pass_id = None
        self._tls = threading.local()
        self._owner = threading.get_ident()
        self._owner_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._owner:
            return self._owner_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._owner_stack[-1] if self._owner_stack else None)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "pass": self.pass_id, "rows": None, "attrs": attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    # -- wrapping public calls -----------------------------------------
    def install(self) -> None:
        from rayjoin_spark.operators.pip import PipIndex

        for mod_name, attr, name in TARGETS:
            orig = getattr(sys.modules[mod_name], attr)
            wrapped = self._wrap(orig, name)
            for mname, mod in list(sys.modules.items()):
                if mname.startswith("rayjoin_spark") and getattr(mod, attr, None) is orig:
                    self._patched.append((mod, attr, orig))
                    setattr(mod, attr, wrapped)
        init = PipIndex.__init__
        self._patched.append((PipIndex, "__init__", init))
        PipIndex.__init__ = self._wrap(init, "pip.PipIndex")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        from rayjoin_spark.plans.scaling import GridSpec

        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            grid = kwargs.get("grid")
            if grid is None:
                grid = next((a for a in args if isinstance(a, GridSpec)), None)
            attrs = {"gsize": grid.grid_size} if grid is not None else {}
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        return traced

    # -- reading --------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds."""
        selft = self.self_times()
        agg: dict[str, dict] = {}
        for s in self.spans:
            a = agg.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            a["calls"] += 1
            a["total_s"] += s["end"] - s["start"]
            a["self_s"] += selft[s["id"]]
        return {k: {kk: round(vv, 4) if isinstance(vv, float) else vv for kk, vv in v.items()}
                for k, v in agg.items()}

    def first(self, name: str, **attrs) -> dict | None:
        for s in self.spans:
            if s["name"] == name and all(s["attrs"].get(k) == v for k, v in attrs.items()):
                return s
        return None

    def dump(self, t0: float) -> list[dict]:
        selft = self.self_times()
        return [
            {**s, "start": round(s["start"] - t0, 4), "end": round(s["end"] - t0, 4),
             "self_s": round(selft[s["id"]], 4)}
            for s in self.spans
        ]
