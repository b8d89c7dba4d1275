"""Spans recorded by the benchmark around its calls into each layer.

A span has a name, start, end (epoch seconds), parent and run id. Spans
stay in memory and are written out as one JSON file when the run ends.
A span's self time is its duration minus the part of it that its
children cover.

``doc_layer_pass`` is the single-process half of the trace: it runs the
program's fused extraction body (``functions.udfs.extract_stats_partition``)
over real turns with timing wrappers around the public functions of the
layers below it, so per-document costs are measured without Spark.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from time import perf_counter


# spans the workloads open around building a query plan on the driver
PLAN_SPAN = "plan.build"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    def add(self, name: str, start: float, end: float, parent: Span | None = None) -> Span:
        """Record a span whose interval was measured elsewhere (Spark stages)."""
        if parent is None and self._open:
            parent_id = self._open[-1]
        else:
            parent_id = parent.span_id if parent else None
        span = Span(len(self.spans), name, start, end, parent_id, self.run_id)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str):
        span = self.add(name, time.time(), time.time())
        self._open.append(span.span_id)
        try:
            yield span
        finally:
            self._open.pop()
            span.end = time.time()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def child_at(self, span: Span, t: float) -> Span:
        """The child of ``span`` open at time ``t``, else ``span`` itself."""
        for child in self.children(span):
            if child.start <= t <= child.end:
                return child
        return span

    def self_time(self, span: Span) -> float:
        covered, cursor = 0.0, span.start
        for child in sorted(self.children(span), key=lambda s: s.start):
            lo, hi = max(child.start, cursor), min(child.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.duration - covered

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": [asdict(s) for s in self.spans]}, fh)


def _quantile(sorted_values: list[float], q: float) -> float:
    if not sorted_values:
        return 0.0
    return sorted_values[min(len(sorted_values) - 1, int(q * len(sorted_values)))]


def doc_layer_pass(rows: list[dict], passthrough: list[str], batch_rows: int = 4096) -> dict:
    """Per-document layer costs over ``rows`` (transcript dicts) in this
    process. Returns microseconds per document (or turn) per layer, the
    p99/max per-document Readability time and the document counts."""
    from readability_scanner_spark.extraction import cleaning, readability
    from readability_scanner_spark.functions import udfs

    import pandas as pd

    samples: dict[str, list[float]] = {"parse": [], "readability": [], "pdf": [], "textstats": []}

    def timed(fn, key):
        def wrapper(*args, **kwargs):
            t0 = perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                samples[key].append(perf_counter() - t0)

        return wrapper

    patches = [
        (readability, "parse_html", "parse"),
        (cleaning, "parse_html", "parse"),
        (udfs, "extract_main_content", "readability"),
        (udfs, "extract_pdf", "pdf"),
        (udfs, "calculate_text_statistics", "textstats"),
    ]
    originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    try:
        for mod, attr, key in patches:
            setattr(mod, attr, timed(getattr(mod, attr), key))
        t0 = perf_counter()
        for lo in range(0, len(rows), batch_rows):
            batch = pd.DataFrame(rows[lo : lo + batch_rows])
            for _out in udfs.extract_stats_partition(iter([batch]), passthrough):
                pass
        total = perf_counter() - t0
    finally:
        for mod, attr, fn in originals:
            setattr(mod, attr, fn)

    turns = len(rows)
    html_docs = max(1, len(samples["readability"]))
    sums = {key: sum(vals) for key, vals in samples.items()}
    per_doc = sorted(samples["readability"])
    return {
        "pdf.docs": len(samples["pdf"]),
        "dom.parse_us_per_doc": sums["parse"] / html_docs * 1e6,
        "readability.us_per_doc": sums["readability"] / html_docs * 1e6,
        "readability.self_us_per_doc": (sums["readability"] - sums["parse"]) / html_docs * 1e6,
        "readability.p99_doc_ms": _quantile(per_doc, 0.99) * 1e3,
        "readability.max_doc_ms": (per_doc[-1] if per_doc else 0.0) * 1e3,
        "pdf.us_per_doc": sums["pdf"] / max(1, len(samples["pdf"])) * 1e6,
        "textstats.us_per_turn": sums["textstats"] / max(1, turns) * 1e6,
        "udf.glue_us_per_turn": (total - sums["readability"] - sums["pdf"] - sums["textstats"])
        / max(1, turns)
        * 1e6,
    }
