"""Layer spans recorded from the benchmark's side of the engine's API.

``Tracer.install`` wraps each layer's public functions. With
``spans=False`` a wrapper only counts calls (the timed runs use this for
their layer-reach checks; it adds no Spark work). With ``spans=True`` a
wrapper records one span per call and materializes the DataFrames it
returns with an eager ``localCheckpoint``, so the span covers that
layer's work and not work deferred to its caller. Each span runs under
its own Spark job group, so its jobs and tasks can be read back from the
status tracker afterwards.

Spans are kept in memory and written out once, by ``write``.
"""

from __future__ import annotations

import dataclasses
import importlib
import itertools
import json
import os
import sys
import time
from collections import defaultdict

PKG = "hgcn_name_disambiguation_spark"

# layer -> [(module, attribute path)] of the public functions it owns
LAYERS: dict[str, list[tuple[str, str]]] = {
    "parse": [("operators.parse", "parse_publications")],
    "candidate_pairs": [("operators.candidate_pairs", "combined_edges")],
    "scoring": [
        ("operators.scoring", "fuse_scores"),
        ("operators.scoring", "enrich_scores"),
        ("operators.scoring", "match_flags"),
    ],
    "name_constraints": [
        ("operators.name_constraints", "focal_signatures"),
        ("operators.name_constraints", "resolve_signature_classes"),
        ("operators.name_constraints", "incompatible_cut"),
    ],
    "pipeline": [
        ("plans.pipeline", "build_match_context"),
        ("plans.pipeline", "cluster_from_context"),
    ],
    "clustering": [
        ("operators.clustering", "connected_components"),
        ("operators.clustering", "two_phase_components"),
        ("operators.clustering", "refine_clusters"),
    ],
    "semantic": [("operators.semantic", "semantic_document_vectors")],
    "cluster_merge": [("operators.cluster_merge", "semantic_cluster_merge")],
    "evaluate": [("operators.evaluate", "pairwise_metrics")],
    "stages": [],  # StageRunner stage closures, see wrap_stages
    "catalog": [
        ("io.catalog", "TableIO.write"),
        ("io.catalog", "TableIO.append"),
    ],
    "assign": [
        ("operators.assign", "score_against_clusters"),
        ("streaming.incremental", "StreamingClusterAssigner.process_batch"),
    ],
}


@dataclasses.dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    # end of the wrapper's bookkeeping after the span; a parent's self
    # time excludes it too
    book_end: float = 0.0
    rows_out: int = 0
    counts: dict = dataclasses.field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover.

    A child covers ``[start, max(end, book_end)]``. Children may overlap
    each other; the covered part is the union of their intervals clipped
    to the parent's.
    """
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(max(c.end, c.book_end), s.end)
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
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    def __init__(self, spark, run_id: str, spans: bool):
        self.spark = spark
        self.run_id = run_id
        self.spans_on = spans
        self.calls: dict[str, int] = defaultdict(int)
        self.calls_by_name: dict[str, int] = defaultdict(int)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._undo: list[tuple[object, str, object]] = []
        self.active = True

    # -- installation -----------------------------------------------------
    def install(self) -> None:
        """Wrap every layer function in its defining module and in every
        loaded engine module that bound it with ``from ... import``."""
        for layer, targets in LAYERS.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                owner, _, fname = attr.rpartition(".")
                holder = getattr(mod, owner) if owner else mod
                orig = getattr(holder, fname)
                wrapped = self._wrap(layer, attr, orig)
                self._set(holder, fname, wrapped)
                if owner:
                    continue
                for m in list(sys.modules.values()):
                    if (
                        m is not mod
                        and getattr(m, "__name__", "").startswith(PKG)
                        and getattr(m, fname, None) is orig
                    ):
                        self._set(m, fname, wrapped)

    def wrap_stages(self, runner) -> None:
        """Wrap the closures a ``StageRunner`` will run, one span each."""
        for st in runner.stages:
            st.fn = self._wrap("stages", f"stage:{st.name}", st.fn)

    def uninstall(self) -> None:
        for holder, name, orig in reversed(self._undo):
            setattr(holder, name, orig)
        self._undo.clear()

    def _set(self, holder, name, value) -> None:
        self._undo.append((holder, name, getattr(holder, name)))
        setattr(holder, name, value)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            tracer.calls[layer] += 1
            tracer.calls_by_name[name] += 1
            if not tracer.spans_on:
                return fn(*args, **kwargs)
            return tracer._span(layer, name, fn, args, kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    # -- spans --------------------------------------------------------------
    def _span(self, layer, name, fn, args, kwargs):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        span = Span(next(self._ids), layer, name, parent.id if parent else None, 0.0)
        self._stack.append(span)
        sc.setJobGroup(self._group(span), name)
        span.start = time.perf_counter()
        try:
            out = _materialize(fn(*args, **kwargs))
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self._group(parent), parent.name)
            else:
                sc.setJobGroup(f"{self.run_id}-untraced", "untraced")
            self.spans.append(span)
        # bookkeeping outside the span, under a group no span reads
        sc.setJobGroup(f"{self.run_id}-bookkeeping", "bookkeeping")
        span.rows_out = _rows(out)
        probe = _PROBES.get(name)
        if probe is not None:
            span.counts = probe(args, out)
        sc.setJobGroup(
            self._group(parent) if parent else f"{self.run_id}-untraced",
            parent.name if parent else "untraced",
        )
        span.book_end = time.perf_counter()
        return out

    def _group(self, span: Span) -> str:
        return f"{self.run_id}-span{span.id}"

    def collect_jobs(self) -> None:
        """Read each span's own jobs and tasks back from Spark."""
        tracker = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            ids = tracker.getJobIdsForGroup(self._group(s))
            s.jobs = len(ids)
            for j in ids:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else []:
                    st = tracker.getStageInfo(sid)
                    s.tasks += st.numTasks if st else 0

    # -- reporting ------------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        """``<layer>.self_s|calls|rows_out|spark_jobs|tasks`` for every layer."""
        selfs = self_times(self.spans)
        out: dict[str, float] = {}
        for layer in LAYERS:
            mine = [s for s in self.spans if s.layer == layer]
            out[f"{layer}.self_s"] = sum(selfs[s.id] for s in mine)
            out[f"{layer}.calls"] = self.calls.get(layer, 0)
            out[f"{layer}.rows_out"] = sum(s.rows_out for s in mine)
            out[f"{layer}.spark_jobs"] = sum(s.jobs for s in mine)
            out[f"{layer}.tasks"] = sum(s.tasks for s in mine)
        out.update(self._ratios(out))
        return out

    def _ratios(self, m: dict[str, float]) -> dict[str, float]:
        def total(key: str, name: str | None = None) -> float:
            return sum(
                s.counts.get(key, 0) if key != "rows_out" else s.rows_out
                for s in self.spans
                if name is None or s.name == name
            )

        def share(a: float, b: float) -> float:
            return a / b if b else 0.0

        return {
            "parse.yield": share(m["parse.rows_out"], total("rows_in", "parse_publications")),
            "candidate_pairs.pairs_per_s": share(
                m["candidate_pairs.rows_out"], m["candidate_pairs.self_s"]
            ),
            "scoring.match_yield": share(
                total("rows_out", "build_match_context"), m["candidate_pairs.rows_out"]
            ),
            "name_constraints.cut_share": share(total("cut"), total("matched")),
            "cluster_merge.merge_share": share(
                total("clusters_in") - total("clusters_out"), total("clusters_in")
            ),
            "catalog.bytes_written": total("bytes"),
        }

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                rec = dataclasses.asdict(s)
                rec["self_s"] = selfs[s.id]
                rec["run_id"] = self.run_id
                f.write(json.dumps(rec) + "\n")


def _materialize(out):
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, dict):
        return {k: _materialize(v) for k, v in out.items()}
    if dataclasses.is_dataclass(out) and not isinstance(out, type):
        return dataclasses.replace(
            out,
            **{
                f.name: _materialize(getattr(out, f.name))
                for f in dataclasses.fields(out)
                if isinstance(getattr(out, f.name), DataFrame)
            },
        )
    return out


def _rows(out) -> int:
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.count()
    if isinstance(out, dict):
        return sum(_rows(v) for v in out.values())
    if dataclasses.is_dataclass(out) and not isinstance(out, type):
        return _rows(getattr(out, "matches", None))
    return 0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _clusters(df) -> int:
    return df.select("block_key", "cluster_id").distinct().count()


# span name -> (args, materialized output) -> counters for the layer ratios
_PROBES = {
    "parse_publications": lambda a, out: {"rows_in": a[0].count()},
    "incompatible_cut": lambda a, out: {
        "matched": out.where("is_match").count(),
        "cut": out.where("is_match AND sig_cut").count(),
    },
    "semantic_cluster_merge": lambda a, out: {
        "clusters_in": _clusters(a[0]),
        "clusters_out": _clusters(out),
    },
    "TableIO.write": lambda a, out: {"bytes": _dir_bytes(a[0]._path(a[1]))},
    "TableIO.append": lambda a, out: {"bytes": _dir_bytes(a[0]._path(a[1]))},
}
