"""The two benchmark workloads and the output check each run makes.

Each workload is a closed loop: one driver, one Spark action at a time.
``warm`` runs once before timing; ``run`` does one unit of work and
returns its wall time, and with ``traced=True`` also the layer metrics
that unit exposes.  ``check`` compares one full output of the run with
the serial kernel and returns the urls of pages that failed.  For the
noop-sink workloads that output is the warm-up's: it runs the same plan
as a timed unit but collects instead of discarding.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import reference
from tracing import Tracer, percentile, plan_metrics, spread_sample

CHECK_SAMPLE = 48  # pages compared field by field with the serial kernel


@dataclass
class Ctx:
    spark: SparkSession
    pages: DataFrame
    urls: list[str]
    htmls: list[bytes]
    data_dir: str
    tracer: Tracer
    sample: list[int] = field(default_factory=list)  # indexes into urls
    state: dict = field(default_factory=dict)


def check_sample(htmls: list[bytes], urls: list[str]) -> list[int]:
    """The fixed check sample: pages spread over the byte-size ranks, plus
    the largest page."""
    largest = max(range(len(htmls)), key=lambda i: (len(htmls[i]), urls[i]))
    return sorted(set(spread_sample(htmls, urls, CHECK_SAMPLE)) | {largest})


def _noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def _timed(tracer: Tracer, name: str, fn):
    with tracer.span(name) as s:
        out = fn()
    return s["dur"], out


# -- extraction (extract_pages) --------------------------------------------

_EXTRACT_FIELDS = ("text", "spans", "title", "description", "lang_attr",
                   "codes", "n_nodes", "truncated", "ok", "err",
                   "n_chars_in", "n_chars_out")


def _serial_extract(html: bytes, url: str, fastpath: bool) -> tuple:
    """One page through serial ``pipeline.extract_document`` on the array
    kernel (``fastpath=True``, what the job runs) or the object path, the
    reference the array kernel is pinned to."""
    from lexor_spark.kernel import pipeline
    default = pipeline.USE_FASTPATH
    pipeline.USE_FASTPATH = fastpath
    try:
        r = pipeline.extract_document(html, url)
    finally:
        pipeline.USE_FASTPATH = default
    return (r.text, [tuple(s) for s in r.spans], r.title, r.description,
            r.lang_attr, list(r.codes), r.n_nodes, r.truncated, r.ok, r.err,
            len(html), len(r.text))


def _spark_extract(row) -> tuple:
    vals = [row[f] for f in _EXTRACT_FIELDS]
    vals[1] = [(s["start"], s["end"], s["path"]) for s in vals[1]]
    vals[5] = list(vals[5])
    return tuple(vals)


def check_extracted(c: Ctx, out: DataFrame) -> tuple[set, dict]:
    """Every page comes out exactly once with ``ok``; the sample is
    byte-identical to serial ``pipeline.extract_document`` on both the
    array kernel and the object path."""
    sample_urls = [c.urls[i] for i in c.sample]
    full = F.when(F.col("url").isin(sample_urls),
                  F.struct(*_EXTRACT_FIELDS))
    rows = out.select("url", "ok", full.alias("full")).collect()
    failed, seen = set(), set()
    for r in rows:
        if r["url"] in seen or not r["ok"]:
            failed.add(r["url"])
        seen.add(r["url"])
    expected = set(c.urls)
    failed |= expected ^ seen  # missing pages and pages nobody asked for
    got = {r["url"]: r["full"] for r in rows if r["full"] is not None}
    for i in c.sample:
        url = c.urls[i]
        out = _spark_extract(got[url]) if url in got else None
        if any(out != _serial_extract(c.htmls[i], url, fast)
               for fast in (True, False)):
            failed.add(url)
    return failed, {"rows_out": len(rows), "sample_checked": len(c.sample)}


def extract_layers(c: Ctx) -> dict:
    """One traced extraction of all pages that collects each page's
    partition and ``kernel_us``: plan metrics, per-partition kernel time
    and per-document kernel percentiles."""
    from lexor_spark.job import extract_pages
    t = c.tracer
    with t.span("job.extract_pages"):
        ext = extract_pages(c.pages)
    out = ext.select(F.spark_partition_id().alias("pid"), "kernel_us")
    with t.span("action.collect"):
        rows = out.collect()
    with t.span("plan.walk"):
        m = plan_metrics(out)
    sums: dict[int, int] = {}
    for pid, us in rows:
        sums[pid] = sums.get(pid, 0) + us
    m["salt.partition_skew"] = max(sums.values()) / statistics.median(
        sums.values())
    m["batch.overhead_ms"] = m["arrow.python_total_ms"] - sum(sums.values()) / 1e3
    kus = [us for _, us in rows]
    m["kernel.doc_us_p50"] = percentile(kus, 50)
    m["kernel.doc_us_p99"] = percentile(kus, 99)
    return m


class ExtractUniform:
    """Uniform pages through ``job.extract_pages`` into a ``noop`` sink."""
    name = "extract_uniform"
    n_pages = 24000
    heavy_tail = False
    layers = ("scan.", "salt.", "arrow.", "batch.", "encoding.", "fastpath.",
              "pipeline.", "kernel.")

    def warm(self, c: Ctx) -> None:
        from lexor_spark.job import extract_pages
        c.state["checked"] = check_extracted(c, extract_pages(c.pages))

    def run(self, c: Ctx, traced: bool) -> tuple[float, dict]:
        from lexor_spark.job import extract_pages
        if traced:
            return _timed(c.tracer, "unit", lambda: extract_layers(c))
        wall, _ = _timed(c.tracer, "unit",
                         lambda: _noop(extract_pages(c.pages)))
        return wall, {}

    def check(self, c: Ctx) -> tuple[set, dict]:
        return c.state["checked"]

    def probe(self, c: Ctx) -> dict:
        return {}


class _Commit:
    """The pages through ``job.run_job``: per-group parquet commits and
    lineage markers into a fresh output directory."""
    n_groups = 2

    def _fresh_out(self, c: Ctx) -> str:
        k = c.state.get("k", 0)
        old = c.state.get("out")
        if old:
            shutil.rmtree(old, ignore_errors=True)
        c.state["k"] = k + 1
        c.state["out"] = os.path.join(c.data_dir, f"out-{k}")
        return c.state["out"]

    def run(self, c: Ctx, traced: bool) -> tuple[float, dict]:
        from lexor_spark.job import run_job
        out = self._fresh_out(c)
        sc = c.spark.sparkContext
        group = f"run_job-{c.state['k']}"
        sc.setJobGroup(group, "perfbench run_job")
        wall, summary = _timed(
            c.tracer, "job.run_job",
            lambda: run_job(c.spark, c.pages, out, n_groups=self.n_groups))
        sc.setJobGroup("", "")  # clear
        c.state["summary"] = summary
        if not traced:
            return wall, {}
        files = [os.path.join(d, f) for d, _, fs in os.walk(out)
                 for f in fs if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(f) for f in files)
        walls = [r["wall_s"] for r in summary["processed"]]
        return wall, {
            "sink.bytes_written": nbytes,
            "sink.files_written": len(files),
            "sink.bytes_per_doc": nbytes / len(c.urls),
            "commit.groups": len(walls),
            "commit.group_wall_s_p50": statistics.median(walls),
            "commit.group_wall_s_max": max(walls),
            "driver.spark_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        }

    def check(self, c: Ctx) -> tuple[set, dict]:
        """The committed output of the last unit: every page once, lineage
        row counts summing to the page count, and the run complete."""
        from lexor_spark.job import read_lineage
        out = c.state["out"]
        failed, info = check_extracted(c, c.spark.read.parquet(out))
        lineage_rows = read_lineage(c.spark, out).agg(F.sum("n_rows")).first()[0]
        info["lineage_n_rows"] = lineage_rows
        info["complete"] = c.state["summary"]["complete"]
        if lineage_rows != len(c.urls) or not info["complete"]:
            failed |= set(c.urls)  # the commit cannot be trusted
        return failed, info


class _Passes:
    """The pages through the link, meta and outline passes, each into a
    ``noop`` sink: the object parser path that ``job`` never takes."""

    @staticmethod
    def passes():
        from lexor_spark import content, graph
        return (("links", graph.extract_links), ("meta", content.extract_meta),
                ("outline", content.extract_outline))

    def run(self, c: Ctx, traced: bool) -> tuple[float, dict]:
        t = c.tracer
        total, layers = 0.0, {}
        with t.span("passes"):
            for name, fn in self.passes():
                with t.span(f"pass.{name}"):
                    df = fn(c.pages)
                if not traced:
                    wall, _ = _timed(t, "sink.noop", lambda: _noop(df))
                    total += wall
                    continue
                agg = df.groupBy(F.spark_partition_id()).count()
                wall, parts = _timed(t, "action.collect", agg.collect)
                total += wall
                layers[f"pass.{name}.wall_s"] = wall
                layers[f"pass.{name}.rows"] = sum(p["count"] for p in parts)
        return total, layers

    def check(self, c: Ctx) -> tuple[set, dict]:
        """Per pass: every page yields rows (every page ``pages_df`` builds
        has at least two nav links, three headings and a title, so an
        empty page is a swallowed failure); the sample equals
        ``graph.links_of_doc``, ``content.meta_of_doc`` and
        ``content.outline_of_doc``."""
        from lexor_spark.content import meta_of_doc, outline_of_doc
        from lexor_spark.graph import links_of_doc
        from lexor_spark.kernel.dom import dispose
        from lexor_spark.kernel.encoding import decode_html
        from lexor_spark.kernel.htmlparser import parse_html

        def key(name, r):
            if name == "links":
                return (r["href"], r["abs_url"], r["anchor"], r["nofollow"],
                        r["dropped"])
            if name == "meta":
                d = r.asDict()
                del d["url"]
                return d
            return (r["heading_idx"], r["level"], r["section"], r["heading"])

        expected = set(c.urls)
        failed, info = set(), {}
        got: dict[str, dict] = {}
        for name, fn in self.passes():
            per_url: dict[str, list] = {}
            for r in fn(c.pages).collect():
                per_url.setdefault(r["url"], []).append(key(name, r))
            got[name] = per_url
            if name == "meta":
                hit = {u for u, v in per_url.items()
                       if any(x is not None for x in v[0].values())}
                failed |= {u for u, v in per_url.items() if len(v) != 1}
            else:
                hit = set(per_url)
            failed |= expected - hit
            failed |= set(per_url) - expected
            info[f"pass.{name}.yield"] = len(hit & expected) / len(expected)
        for i in c.sample:
            url = c.urls[i]
            doc, _ = parse_html(decode_html(c.htmls[i])[0], url)
            try:
                want = {
                    "links": [tuple(x) for x in links_of_doc(doc, url)],
                    "meta": [meta_of_doc(doc)],
                    "outline": [(k, *x) for k, x in
                                enumerate(outline_of_doc(doc))],
                }
            finally:
                dispose(doc)
            if any(got[n].get(url, []) != want[n] for n in want):
                failed.add(url)
        info["sample_checked"] = len(c.sample)
        return failed, info


class SkewedCommitPasses:
    """Heavy-tailed pages through ``job.run_job``, then through the link,
    meta and outline passes: the write/commit path and the object parser
    that the flagship never touches, in one unit."""
    name = "skewed_commit_passes"
    n_pages = 1000
    heavy_tail = True
    layers = ("scan.", "salt.", "arrow.", "batch.", "encoding.", "fastpath.",
              "kernel.", "sink.", "commit.", "driver.", "htmlparser.", "dom.",
              "pass.")

    def __init__(self) -> None:
        self.commit = _Commit()
        self.passes = _Passes()

    def warm(self, c: Ctx) -> None:
        self.commit.run(c, traced=False)
        c.state["passes_checked"] = self.passes.check(c)

    def run(self, c: Ctx, traced: bool) -> tuple[float, dict]:
        with c.tracer.span("unit"):
            commit_wall, layers = self.commit.run(c, traced)
            passes_wall, pass_layers = self.passes.run(c, traced)
        return commit_wall + passes_wall, {**layers, **pass_layers}

    def check(self, c: Ctx) -> tuple[set, dict]:
        failed, info = self.commit.check(c)
        pass_failed, pass_info = c.state["passes_checked"]
        return failed | pass_failed, {**info, **pass_info}

    def probe(self, c: Ctx) -> dict:
        """``run_job`` hides its queries, so the scan, salt and Arrow layers
        are read from one traced ``extract_pages`` over the same pages."""
        with c.tracer.span("probe"):
            return extract_layers(c)


WORKLOADS = {w.name: w for w in (ExtractUniform(), SkewedCommitPasses())}


def timed_loop(wl, c: Ctx, seconds: float, traced: bool
               ) -> tuple[list[float], list[float], list[dict]]:
    """Pairs of one reference pass and one unit, back to back until
    ``seconds`` have passed (at least one pair).  Returns the unit walls,
    the reference walls and the units' layer metrics."""
    walls, refs, layers = [], [], []
    end = time.perf_counter() + seconds
    while True:
        with c.tracer.span("reference"):
            refs.append(reference.run(c.pages))
        wall, m = wl.run(c, traced)
        walls.append(wall)
        layers.append(m)
        if time.perf_counter() >= end:
            return walls, refs, layers
