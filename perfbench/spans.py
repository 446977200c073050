"""Span recording for the traced run.

The benchmark records every span from its own code: it wraps each layer's
public function as ``email_sanitizer_api_spark.pipeline`` binds it (module
attributes looked up at call time) plus ``TableIO.write``. A wrapper
persists and counts the layer's output, so the layer's Spark work runs
inside its own span instead of being fused into whichever later action
happens to trigger it. That changes the plan, which is why end-to-end
metrics come from untraced operations and the traced run reports its own
overhead.

A span is ``{id, name, run, parent, start, end, counts}``. Spans opened in
a thread with no open span (the pipeline's pair-generator threads) take the
operation's root span as parent. Spans stay in memory until the benchmark
writes them out at the end.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

#: pipeline module attribute -> (layer, name of the output-row count)
PIPELINE_LAYERS: dict[str, tuple[str, str]] = {
    "validate_content": ("validate", "rows_out"),
    "normalize_content": ("normalize", "rows_out"),
    "with_sha": ("exact", "rows_out"),
    "exact_dedup": ("exact", "reps_out"),
    "add_signatures": ("signatures", "rows_out"),
    "lsh_candidate_pairs": ("lsh", "candidates"),
    "verify_pairs": ("verify", "accepted"),
    "simhash_candidate_pairs": ("simhash", "pairs"),
    "suffix_candidate_pairs": ("suffix", "pairs"),
    "connected_components": ("cluster", "rows_out"),
    "prune_keepers": ("prune", "rows_out"),
    "cluster_summary": ("prune", "clusters_out"),
}

#: layers whose spans run in the pipeline's threaded pair-generator phase
GENERATOR_LAYERS = ("lsh", "verify", "simhash", "suffix")


def _materialize(out: Any) -> tuple[Any, int]:
    """Persist + count a DataFrame (or the first of a tuple of them, after
    persisting and counting every member); returns (out, first count)."""
    if isinstance(out, DataFrame):
        out.persist(StorageLevel.MEMORY_AND_DISK)
        return out, out.count()
    counts = [_materialize(x)[1] for x in out if isinstance(x, DataFrame)]
    return out, counts[0]


class Tracer:
    """In-memory span recorder for traced operations (``traced``)."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.run: int | None = None
        self._root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict[str, Any]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any]]:
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name, "run": self.run,
               "parent": stack[-1]["id"] if stack else self._root,
               "start": time.perf_counter(), "end": None, "counts": {}}
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn: Callable, layer: str, count_key: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(layer) as rec:
                if layer == "cluster":
                    with self.span("trace"):
                        edges, rec["counts"]["edges_in"] = _materialize(args[0])
                    args = (edges, *args[1:])
                out, rec["counts"][count_key] = _materialize(fn(*args, **kwargs))
                with self.span("trace"):
                    rec["counts"].update(_extra_counts(fn.__name__, out))
            return out
        return traced

    def _wrap_write(self, write: Callable) -> Callable:
        @functools.wraps(write)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span("tableio"):
                return write(*args, **kwargs)
        return traced

    @contextmanager
    def traced(self, run: int) -> Iterator[None]:
        """One traced operation: the wrappers are swapped into the pipeline
        module and TableIO, and the operation's root span ("pipeline") is
        open, for the duration of the block."""
        from email_sanitizer_api_spark import pipeline
        from email_sanitizer_api_spark.tableio import TableIO

        saved = {attr: getattr(pipeline, attr) for attr in PIPELINE_LAYERS}
        write = TableIO.write
        for attr, (layer, key) in PIPELINE_LAYERS.items():
            setattr(pipeline, attr, self._wrap(saved[attr], layer, key))
        TableIO.write = self._wrap_write(write)
        self.run = run
        try:
            with self.span("pipeline") as root:
                self._root = root["id"]
                yield
        finally:
            self._root = None
            for attr, fn in saved.items():
                setattr(pipeline, attr, fn)
            TableIO.write = write


def _extra_counts(fn_name: str, out: Any) -> dict[str, int]:
    if fn_name == "validate_content":
        return {"invalid_rows": out.where(~F.col("verdict.is_valid")).count()}
    if fn_name == "connected_components":
        row = (out.groupBy("cluster_id").count()
               .agg(F.count(F.lit(1)).alias("n"), F.max("count").alias("mx"))
               .collect()[0])
        return {"components": int(row["n"]), "largest": int(row["mx"] or 0)}
    if fn_name == "prune_keepers":
        return {"keepers": out.where(F.col("is_keeper")).count()}
    return {}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[dict[str, Any]]) -> dict[str, float]:
    """Per span name: summed self time (duration minus the part of the
    span's interval that its children cover) over ``spans``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out: dict[str, float] = {}
    for sp in spans:
        covered = _union_length([
            (max(s, sp["start"]), min(e, sp["end"]))
            for s, e in children.get(sp["id"], []) if e > sp["start"]
            and s < sp["end"]])
        out[sp["name"]] = (out.get(sp["name"], 0.0)
                           + sp["end"] - sp["start"] - covered)
    return out


def layer_counts(spans: list[dict[str, Any]]) -> dict[str, int]:
    """``layer.count`` -> value; a layer called twice in one operation
    (exact_dedup) reports its last call."""
    out: dict[str, int] = {}
    for sp in sorted(spans, key=lambda s: s["end"]):
        for key, value in sp["counts"].items():
            out[f"{sp['name']}.{key}"] = value
    return out


def generators_seconds(spans: list[dict[str, Any]]) -> float:
    """Wall time covered by any pair-generator span (their union)."""
    return _union_length([(sp["start"], sp["end"]) for sp in spans
                          if sp["name"] in GENERATOR_LAYERS])
