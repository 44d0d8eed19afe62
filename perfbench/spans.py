"""Spans for the traced run.

A span is (name, start, end, parent, doc). Spans live in memory and are
written out as JSON lines when the run ends. Spark-side spans wrap the
benchmark's calls into Spark; per-document spans come from an in-process
pass over the same table with the program's functions wrapped where the
program looks them up. No program file is changed: the wrappers replace
module and class attributes in this process only, and are removed after
the pass.
"""

from __future__ import annotations

import contextlib
import json
import multiprocessing
import statistics
import time

import pandas as pd

BATCH_ROWS = 512  # spark.sql.execution.arrow.maxRecordsPerBatch of the session


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.doc = None
        self._next_doc = 0

    def _open(self, name):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.doc])
        self._stack.append(idx)
        return idx

    def _close(self, idx):
        self._stack.pop()
        self.spans[idx][2] = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, name, fn, per_doc=False):
        def traced(*args, **kwargs):
            if per_doc:
                self.doc = self._next_doc
                self._next_doc += 1
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)
        return traced

    def durations(self, name) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def self_times(self) -> dict[str, float]:
        """name -> summed self time: a span's duration minus its direct
        children's durations."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s[0]] = out.get(s[0], 0.0) + (s[2] - s[1]) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent, doc in self.spans:
                fh.write(json.dumps({"name": name, "start": start, "end": end,
                                     "parent": parent, "doc": doc}) + "\n")


class NoTracer:
    """Tracing off: the same interface, no records."""

    @contextlib.contextmanager
    def span(self, name):
        yield


def _batches(rows: list[dict]):
    for i in range(0, len(rows), BATCH_ROWS):
        chunk = rows[i:i + BATCH_ROWS]
        yield pd.DataFrame({"url": [r["url"] for r in chunk],
                            "warc_ts": [None] * len(chunk),
                            "html": [r["html"] for r in chunk]})


def run_task_loop(rows: list[dict]) -> float:
    """The extraction task function (``make_extractor(None)``) over the
    table in 512-row pandas batches, in this process. -> seconds."""
    from go_readability_spark.plans import make_extractor

    fn = make_extractor(None)
    t0 = time.perf_counter()
    for _ in fn(_batches(rows)):
        pass
    return time.perf_counter() - t0


def _targets():
    """(owner, attribute, span name) for every per-document layer, named
    where the program looks each function up at call time."""
    import go_readability_spark.dom as dom
    import go_readability_spark.plans.extract as extract
    import go_readability_spark.readability as readability
    import go_readability_spark.readability.parser as parser

    return [
        (extract, "extract_record", "extract_record"),
        (dom, "parse_html", "parse_html"),
        (dom, "unlink_tree", "unlink_tree"),
        (readability, "check_document", "check_document"),
        (parser.Parser, "parse_document", "parse_document"),
        (parser.Parser, "_grab_article", "grab_article"),
        (parser.Parser, "_prep_article", "prep_article"),
        (parser, "inner_html", "inner_html"),
        (parser, "get_jsonld", "get_jsonld"),
        (parser, "get_article_metadata", "get_article_metadata"),
    ]


def traced_task_loop(rows: list[dict], tracer: Tracer) -> float:
    """``run_task_loop`` with every per-document layer wrapped in spans."""
    saved = []
    try:
        for owner, attr, name in _targets():
            fn = owner.__dict__[attr]
            saved.append((owner, attr, fn))
            setattr(owner, attr, tracer.wrap(name, fn,
                                             per_doc=name == "extract_record"))
        with tracer.span("task_loop"):
            return run_task_loop(rows)
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)
        tracer.doc = None


def layer_metrics(tracer: Tracer, loop_s: float, traced_loop_s: float) -> dict:
    """Per-document layer metrics from one traced task loop. A wrapped
    function that never ran is an error, not a layer that took 0 s."""
    self_t = tracer.self_times()
    silent = [name for _, _, name in _targets() if name not in self_t]
    if silent:
        raise RuntimeError(f"spans {silent} never fired: the program no "
                           "longer calls them where the benchmark wraps them")
    docs = sorted(tracer.durations("extract_record"))
    record_s = sum(docs)
    q = statistics.quantiles(docs, n=100, method="inclusive")
    return {
        "extract.loop_s": loop_s,
        "extract.record_s": record_s,
        "extract.frame_s": traced_loop_s - record_s,
        "extract.doc_p50_ms": 1000.0 * statistics.median(docs),
        "extract.doc_p99_ms": 1000.0 * q[98],
        "extract.doc_max_ms": 1000.0 * docs[-1],
        "dom.parse_html_s": self_t["parse_html"],
        "dom.inner_html_s": self_t["inner_html"],
        "dom.unlink_tree_s": self_t["unlink_tree"],
        "readability.check_document_s": self_t["check_document"],
        "readability.parse_document_s": self_t["parse_document"],
        "readability.grab_article_s": self_t["grab_article"],
        "readability.grab_attempts": len(tracer.durations("prep_article")),
        "readability.prep_article_s": self_t["prep_article"],
        "readability.metadata_s": (self_t["get_jsonld"]
                                   + self_t["get_article_metadata"]),
    }


def _spin(seconds: float) -> int:
    n = 0
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        n += 1
    return n


def cpu_scaling(low: int, high: int, seconds: float = 1.0) -> float:
    """Host control for scaling_eff: pure-Python spin throughput of
    ``high`` processes over that of ``low`` processes, per process."""
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(high) as pool:
        pool.map(_spin, [0.05] * high)  # workers started and imported
        lows = sum(pool.map(_spin, [seconds] * low, chunksize=1))
        highs = sum(pool.map(_spin, [seconds] * high, chunksize=1))
    return (highs / lows) / (high / low)
