"""Spans, Spark plan metrics and serial kernel-stage timings.

All of it is measured from the benchmark's side of each layer boundary:
spans sit around the public calls the benchmark makes, Spark-side layer
numbers are read from the SQL metrics of an executed plan, and kernel
stage times come from serial calls into each stage's functions.
"""

from __future__ import annotations

import gc
import json
import math
import statistics
import time
from contextlib import contextmanager
from typing import Optional

STAGE_REPS = 3  # passes over the sample per kernel stage; the median counts


class Tracer:
    """In-memory spans: name, start, end and parent id.

    Every span is timed, so the benchmark's own phase timings use the same
    mechanism; spans are only kept when ``enabled``, and written out once
    by :meth:`dump` at the end of the run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["dur"] - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


# -- Spark SQL metrics ------------------------------------------------------

_SCAN = "FileSourceScanExec"
_EXCHANGE = "ShuffleExchangeExec"
_ARROW = "MapInArrowExec"


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _metric(node, name: str) -> float:
    m = node.metrics().get(name)
    return float(m.get().value()) if m.isDefined() else 0.0


def plan_metrics(df) -> dict[str, float]:
    """Layer metrics from the executed plan of ``df``, after an action ran
    on that same ``QueryExecution`` (``df.collect()`` does).

    The walk descends through AQE and into each query stage's plan.  The
    salt exchange is the first shuffle below a ``MapInArrowExec``; a plan
    with several kernel passes sums over them."""
    out = dict.fromkeys((
        "scan.time_ms", "scan.bytes", "salt.shuffle_bytes",
        "salt.shuffle_write_ms", "salt.fetch_wait_ms", "arrow.bytes_sent",
        "arrow.bytes_received", "arrow.boot_ms", "arrow.init_ms",
        "arrow.python_total_ms"), 0.0)

    def first_exchange(node):
        while True:
            if node.getClass().getSimpleName() == _EXCHANGE:
                return node
            kids = _children(node)
            if not kids:
                return None
            node = kids[0]

    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == _SCAN:
            out["scan.time_ms"] += _metric(node, "scanTime")
            out["scan.bytes"] += _metric(node, "filesSize")
        elif cls == _ARROW:
            out["arrow.bytes_sent"] += _metric(node, "pythonDataSent")
            out["arrow.bytes_received"] += _metric(node, "pythonDataReceived")
            out["arrow.boot_ms"] += _metric(node, "pythonBootTime")
            out["arrow.init_ms"] += _metric(node, "pythonInitTime")
            out["arrow.python_total_ms"] += _metric(node, "pythonTotalTime")
            ex = first_exchange(_children(node)[0])
            if ex is not None:
                out["salt.shuffle_bytes"] += _metric(ex, "shuffleBytesWritten")
                out["salt.shuffle_write_ms"] += \
                    _metric(ex, "shuffleWriteTime") / 1e6  # ns
                out["salt.fetch_wait_ms"] += _metric(ex, "fetchWaitTime")
        stack.extend(_children(node))
    return out


# -- serial kernel stages ---------------------------------------------------

def spread_sample(htmls: list[bytes], urls: list[str], size: int
                  ) -> list[int]:
    """Indexes of ``size`` pages spread evenly over the input ranked by
    byte size, so the rare heavy pages are represented in proportion."""
    order = sorted(range(len(htmls)), key=lambda i: (len(htmls[i]), urls[i]))
    size = min(size, len(order))
    return [order[(2 * k + 1) * len(order) // (2 * size)] for k in range(size)]


def _us_per_doc(fn, items: list) -> tuple[float, list]:
    """Median over ``STAGE_REPS`` passes of ``fn`` over ``items``, in us
    per item, with the results of the last pass."""
    times = []
    for _ in range(STAGE_REPS):
        t0 = time.perf_counter()
        res = [fn(x) for x in items]
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e6 / len(items), res


def kernel_stages(htmls: list[bytes], urls: list[str],
                  fastpath: bool, object_parser: bool) -> dict[str, float]:
    """Serial per-document stage times over a page sample, with the cyclic
    GC off as in the batch UDFs.  ``fastpath`` times the array kernel the
    extraction job runs; ``object_parser`` times the object DOM parser the
    structured passes run."""
    from lexor_spark.kernel.dom import dispose
    from lexor_spark.kernel.encoding import decode_html
    from lexor_spark.kernel.pipeline import MAX_CHARS, extract_document

    out: dict[str, float] = {}
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        out["encoding.decode_us_per_doc"], texts = _us_per_doc(
            lambda h: decode_html(h)[0][:MAX_CHARS], htmls)
        if fastpath:
            from lexor_spark.kernel import fastpath as fp
            out["fastpath.parse_us_per_doc"], parsed = _us_per_doc(
                fp._parse_arrays, texts)
            nodes = [p[0] for p in parsed]
            out["fastpath.meta_us_per_doc"], _ = _us_per_doc(
                fp._collect_meta_arrays, nodes)
            out["fastpath.select_us_per_doc"], mains = _us_per_doc(
                fp._select_main_arrays, nodes)
            out["fastpath.write_us_per_doc"], _ = _us_per_doc(
                lambda a: fp._write_arrays(*a), list(zip(nodes, mains)))
            out["fastpath.nodes_per_doc"] = statistics.fmean(
                len(p[0]) + p[2] + 1 for p in parsed)
            us, _ = _us_per_doc(lambda a: extract_document(*a),
                                list(zip(htmls, urls)))
            out["pipeline.serial_docs_per_s"] = 1e6 / us
        if object_parser:
            from lexor_spark.kernel.htmlparser import parse_html
            parse_s, dispose_s = [], []
            for _ in range(STAGE_REPS):  # each pass parses fresh trees to dispose
                t0 = time.perf_counter()
                docs = [parse_html(t, u)[0] for t, u in zip(texts, urls)]
                t1 = time.perf_counter()
                for d in docs:
                    dispose(d)
                parse_s.append(t1 - t0)
                dispose_s.append(time.perf_counter() - t1)
            out["htmlparser.parse_us_per_doc"] = \
                statistics.median(parse_s) * 1e6 / len(texts)
            out["dom.dispose_us_per_doc"] = \
                statistics.median(dispose_s) * 1e6 / len(texts)
    finally:
        if was_enabled:
            gc.enable()
    return out


def percentile(values: list[float], q: float) -> Optional[float]:
    """Nearest-rank percentile (``q`` in 0..100)."""
    if not values:
        return None
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]
