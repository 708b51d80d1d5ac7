"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload ingest_cow --seed 1 --seconds 8 --trace 0

Builds the workload's inputs from ``--seed``, sets up (timed, several
units, median reported), runs the closed loop for ``--seconds``, checks
every output against a DuckDB reference, and prints one JSON object as
the last line of standard output. ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` additionally
repeats the loop under the tracer, writes its spans to
``.perfbench_out/`` and reports the per-layer metrics, with the
slowdown of the traced loop against the untraced one as
``trace.overhead_ratio``. The lines before the last one are a
readable report, including the host steal probe and every metric
under its workload-specific name.

``--tiny`` shrinks every input (smoke tests); ``--corrupt`` alters one
table row or query result before the checks, which must then fail.
The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

WORKLOADS = ("ingest_cow", "mor_mixed", "query_suite")


def _workload(name: str):
    if name == "ingest_cow":
        from ingest_cow import IngestCow as cls
    elif name == "mor_mixed":
        from mor_mixed import MorMixed as cls
    else:
        from query_suite import QuerySuite as cls
    return cls


def _stop(spark) -> None:
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(60)


def run(args, root: str, spec: dict) -> int:
    import harness

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    spark = None
    t_run = time.perf_counter()
    try:
        host = harness.host_reading()
        print("host probe:", json.dumps(host), flush=True)
        t0 = time.perf_counter()
        spark = harness.start_spark(work)
        print(f"spark start: {time.perf_counter() - t0:.3f} s", flush=True)
        wl = _workload(args.workload)(spark, work, args.seed, args.tiny)
        units = wl.setup()
        print(f"setup units: {[round(u, 3) for u in units]} s", flush=True)
        t_loop = time.perf_counter()
        m = wl.measure(args.seconds, harness.Tracer(spark, False), "untraced")
        rss = harness.peak_rss_mb()
        t_check = time.perf_counter()
        attempted, failed = m["attempted"], m["failed"] + _check(wl, m, args.corrupt)
        print(f"loop: {t_check - t_loop:.1f} s, check: {time.perf_counter() - t_check:.1f} s, "
              f"rounds: {[round(x, 3) for x in m['round_times']]} s", flush=True)
        metrics = {
            "setup_s": harness.median(units), "peak_rss_mb": rss, **m["e2e"],
        }
        report = {"setup_s": (metrics["setup_s"], "s"), "peak_rss_mb": (rss, "MB"),
                  **m["report"]}
        if args.trace:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            tracer = harness.Tracer(spark, True)
            mt = wl.measure(args.seconds, tracer, "traced")
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            attempted += mt["attempted"]
            failed += mt["failed"] + _check(wl, mt, False)
            metrics = _layers(spark, wl, m, mt, tracer)
            out = os.path.join(root, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.write(path)
            print(f"spans: {path}", flush=True)
        ratio = failed / attempted
        report["ops_failed_ratio"] = (ratio, "ratio")
        for name, (value, unit) in report.items():
            shown = "n/a (too few samples)" if value is None else f"{value:.6g} {unit}"
            print(f"{args.workload} {name} = {shown}", flush=True)
        print(f"total wall: {time.perf_counter() - t_run:.1f} s", flush=True)
    finally:
        t0 = time.perf_counter()
        # the workload's files go while the JVM stops, Spark's own
        # directory after it has
        data = [os.path.join(work, d) for d in os.listdir(work) if d != "spark-local"]
        with ThreadPoolExecutor(1) as ex:
            removed = ex.submit(lambda: [harness.remove_tree(d) for d in data])
            if spark is not None:
                _stop(spark)
            t1 = time.perf_counter()
            removed.result()
        harness.remove_tree(work)
        print(f"teardown: stop {t1 - t0:.1f} s, cleanup {time.perf_counter() - t1:.1f} s more",
              flush=True)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            x["name"]: {"value": float(metrics.get(x["name"], 0.0)), "unit": x["unit"]}
            for x in wanted
        },
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def _check(wl, m: dict, corrupt: bool) -> int:
    """Wrong answers in loop ``m``; a check that cannot run counts every
    operation of the loop as wrong."""
    try:
        return wl.check(m, corrupt)
    except Exception:
        traceback.print_exc()
        return m["attempted"]


def _layers(spark, wl, m: dict, mt: dict, tracer) -> dict:
    """Per-layer metrics of the traced loop ``mt``; ``m`` is the
    untraced loop it is compared with."""
    import harness

    out = wl.layers(mt, tracer)
    rounds = max(mt["rounds"], 1)
    totals = tracer.spark_totals()
    for s in mt.get("stage_sets", []):
        for k in harness.STAGE_FIELDS:
            totals[k] += s[k]
    for k in ("executor_cpu_s", "jvm_gc_s", "shuffle_write_bytes", "jobs"):
        out[f"spark.{k}"] = totals[k] / rounds
    udf_s, udf_rows = harness.udf_profile(
        spark, "extract_text_lang_udf", "extract_text_lang_bytes")
    out["transforms.udf_s"] = udf_s / rounds
    out["transforms.udf_rows"] = udf_rows / rounds
    out["trace.overhead_ratio"] = m["e2e"]["rate_per_s"] / mt["e2e"]["rate_per_s"] - 1
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true")
    p.add_argument("--corrupt", action="store_true")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "ais_etl_spark")):
        print("perfbench: run from the repository root (no ais_etl_spark/ here)",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [root, os.path.join(root, "scripts")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    try:
        return run(args, root, spec)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
