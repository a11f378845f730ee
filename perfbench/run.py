"""Extraction benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload extract_uniform --seed 1 \\
        --seconds 16 --trace 0

Run from the root of a checkout.  The run starts a local Spark session on
every core, builds its seeded input under ``.perfbench/`` (removed at the
end), warms up, then for ``--seconds`` runs pairs of one reference pass
(``reference.py``) and one unit of the workload, checks the output against
the serial kernel and prints two JSON lines: the full record (provenance,
samples, checks), then the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json.
With ``--trace 1`` the first half of ``--seconds`` runs untraced and the
second half traced, and the metrics are the per-layer ones; spans go to
``.perfbench/results/``.  The exit code is 1 when the output check fails,
2 when the program cannot be found or run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGE_SAMPLE = 300    # pages timed serially per kernel stage
# Reference passes before timing; after only one, the first timed one still
# ran 5-30% slower than the rest in most runs.
REF_WARMUPS = 2
# Earlier records measured at local[32] on another host with best-of-2.
NOT_COMPARABLE = ["BENCH_r01.json", "BENCH_r02.json", "BENCH_r03.json",
                  "BENCH_r04.json", "BENCH_r05.json"]


def spark_confs(n_cpus: int, data_dir: str) -> dict[str, str]:
    tmp = os.path.join(data_dir, "tmp")
    return {
        "spark.master": f"local[{n_cpus}]",
        "spark.app.name": "lexor-perfbench",
        "spark.sql.shuffle.partitions": str(max(n_cpus, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(data_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(data_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_spark(confs: dict[str, str]):
    from pyspark.sql import SparkSession
    b = SparkSession.builder
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> list[int]:
    """Stop the session, the JVM and its Python workers, and wait for each
    to end.  Returns the pids that had to be killed."""
    from pyspark import SparkContext

    from procs import descendants, wait_gone
    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()  # the JVM exits on EOF
            try:
                gateway.proc.wait(timeout=60)
            except Exception:
                gateway.proc.kill()
                gateway.proc.wait(timeout=30)
    return wait_gone(started)


def read_pages(path: str) -> tuple[list[str], list[bytes]]:
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=["url", "html"])
    return t.column("url").to_pylist(), t.column("html").to_pylist()


def versions(spark) -> dict:
    import pyarrow
    return {"spark": spark.version, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0]}


def run(args, bench: dict, data_dir: str, results_dir: str) -> tuple[dict, dict]:
    """Returns (result line, full record)."""
    import reference
    import tracing
    import workloads
    from gen import materialize
    from procs import WorkerRss

    wl = workloads.WORKLOADS[args.workload]
    n_cpus = len(os.sched_getaffinity(0))
    confs = spark_confs(n_cpus, data_dir)
    tracer = tracing.Tracer(bool(args.trace))
    spark = None
    record: dict = {"workload": wl.name}
    try:
        with tracer.span("setup"):
            with tracer.span("setup.session") as s_session:
                spark = start_spark(confs)
            vers = versions(spark)
            with tracer.span("setup.materialize") as s_mat:
                pages, path = materialize(spark, wl.n_pages, args.seed,
                                          wl.heavy_tail,
                                          os.path.join(data_dir, "input"))
            with tracer.span("setup.read_input") as s_read:
                urls, htmls = read_pages(path)
            c = workloads.Ctx(spark, pages, urls, htmls, data_dir, tracer,
                              sample=workloads.check_sample(htmls, urls))
            with tracer.span("setup.warmup") as s_warm:
                wl.warm(c)
                for _ in range(REF_WARMUPS):
                    reference.run(c.pages)
        setup_s = sum(s["dur"] for s in (s_session, s_mat, s_read, s_warm))

        loop_s = args.seconds / 2 if args.trace else args.seconds
        rss = WorkerRss().start()
        with tracer.span("timed.untraced"):
            walls, refs, _ = workloads.timed_loop(wl, c, loop_s, traced=False)
        peak_rss_mb = rss.stop()
        docs_per_s = len(urls) / statistics.median(walls)
        ref_docs_per_s = len(urls) / statistics.median(refs)
        rel_docs_per_s = docs_per_s / ref_docs_per_s

        layers: dict = {}
        if args.trace:
            with tracer.span("timed.traced"):
                t_walls, t_refs, t_layers = workloads.timed_loop(
                    wl, c, loop_s, traced=True)
            for name in t_layers[0]:
                layers[name] = statistics.median(m[name] for m in t_layers)
            layers.update(wl.probe(c))
            layers["docs_per_s"] = docs_per_s
            layers["ref.docs_per_s"] = ref_docs_per_s
            traced_rel = statistics.median(t_refs) / statistics.median(t_walls)
            layers["trace.overhead_frac"] = 1.0 - traced_rel / rel_docs_per_s
            with tracer.span("kernel.stages"):
                idx = tracing.spread_sample(htmls, urls, STAGE_SAMPLE)
                layers.update(tracing.kernel_stages(
                    [htmls[i] for i in idx], [urls[i] for i in idx],
                    fastpath="fastpath." in wl.layers,
                    object_parser="htmlparser." in wl.layers))

        with tracer.span("check"):
            failed, check_info = wl.check(c)
        if args.trace:
            for k in [k for k in check_info if k.startswith("pass.")]:
                layers[k] = check_info[k]
            if "pipeline." in wl.layers:
                layers["pipeline.parallel_eff"] = docs_per_s / (
                    n_cpus * layers["pipeline.serial_docs_per_s"])
    finally:
        if spark is not None:
            record["killed_pids"] = stop_spark(spark)

    n = len(urls)
    fail_frac = len(failed) / n
    e2e = {"rel_docs_per_s": rel_docs_per_s, "page_ok_frac": 1.0 - fail_frac,
           "worker_peak_rss_mb": peak_rss_mb, "setup_s": setup_s}
    if args.trace:
        wanted = [m["name"] for m in bench["per_layer"]]
        applies = [m for m in wanted if m.startswith(wl.layers + (
            "trace.", "ref.", "docs_per_s"))]
        missing = [m for m in applies if m not in layers]
        if missing:
            raise RuntimeError(f"layer metrics not measured: {missing}")
        # a layer this workload never enters did no work: it reads 0
        values = {m: layers.get(m, 0.0) if m in applies else 0.0
                  for m in wanted}
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        record["not_exercised"] = [m for m in wanted if m not in applies]
        tracer.dump(os.path.join(
            results_dir, f"{wl.name}-seed{args.seed}-spans.json"))
    else:
        values = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}

    record.update({
        "provenance": {
            "nproc": n_cpus, **vers, "spark_confs": confs,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "input_rows": n, "input_bytes": sum(len(h) for h in htmls),
            "heavy_tail": wl.heavy_tail,
            "not_comparable": {"records": NOT_COMPARABLE,
                               "why": "local[32] on a 32-core host, best-of-2"},
        },
        "units": {"n": len(walls), "wall_s": walls, "reference_wall_s": refs,
                  "docs_per_s": docs_per_s, "ref_docs_per_s": ref_docs_per_s},
        "setup": {"session_s": s_session["dur"], "materialize_s": s_mat["dur"],
                  "read_input_s": s_read["dur"], "warmup_s": s_warm["dur"]},
        "page_fail_frac": fail_frac,
        "check": {**check_info, "failed_pages": len(failed),
                  "failed_sample": sorted(failed)[:5]},
        "end_to_end": e2e,
    })
    result = {"correct": not failed, "attempted": n, "failed": len(failed),
              "metrics": {k: {"value": float(v), "unit": units[k]}
                          for k, v in values.items()}}
    return result, record


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "lexor_spark")):
        print(f"no lexor_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(bench_path) as fh:
        bench = json.load(fh)

    sys.path[:0] = [HERE, ROOT]
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    data_dir = os.path.join(ROOT, ".perfbench",
                            f"run-{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    for d in (os.path.join(data_dir, "tmp"), results_dir):
        os.makedirs(d, exist_ok=True)
    # Python workers import the package from this checkout; Spark and
    # Python temp files stay inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if x])
    os.environ["TMPDIR"] = os.path.join(data_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(data_dir, "spark-local")
    try:
        result, record = run(args, bench, data_dir, results_dir)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
    with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main(sys.argv[1:])
    print(f"perfbench: exit {code} after {time.perf_counter() - t0:.1f} s",
          file=sys.stderr)
    sys.exit(code)
