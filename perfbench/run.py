"""CDC engine benchmark: ingest (trickle and backfill) and state/query serving.

Usage, from the repository root:

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 20 --trace 0

Builds its inputs from ``--seed``, drives the engine through its public
calls, checks every answer, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
full artifact (tails with their percentile and sample count, timings, spans)
goes to ``.perfbench/out/``. Everything the run writes stays under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _stop_spark() -> None:
    """Stop the session and wait for the JVM that PySpark launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when this pipe closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cdc_postgresql_clickhouse_spark", "__init__.py")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    for p in (HERE, ROOT, os.path.join(ROOT, "tests")):
        sys.path.insert(0, p)
    from workloads import WORKLOADS, Run, result

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(base, "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Two task slots leave the other cores of a 4-core host to the Spark
    # JVM's compiler and GC threads and to this Python process: on such a
    # host every timing came out both faster and steadier than with local[4].
    cpus = min(2, os.cpu_count() or 1)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "ORACLE_DUCKDB_THREADS": str(cpus),
        "PYSPARK_PYTHON": sys.executable,
        # the launcher JVM that spark-submit starts before the Spark JVM
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), tmp, cpus)
    t0 = time.perf_counter()
    try:
        phases = run.info["phases_s"] = {}
        for phase in (run.setup, run.ingest, run.serve, run.check):
            t = time.perf_counter()
            phase()
            phases[phase.__name__] = time.perf_counter() - t
        run.close_trace()
        res = result(run)
        artifact = {
            **run.info,
            "trace": args.trace,
            "seconds": args.seconds,
            "result": res,
            "timings": run.timings,
            "problems": run.problems,
            "wall_s": time.perf_counter() - t0,
        }
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            run.tracer.dump(os.path.join(out_dir, f"{stem}.spans.jsonl"))
            untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    plain = json.load(fh)["result"]["metrics"]
                artifact["trace_overhead_share"] = {
                    k: v["value"] / plain[k]["value"] - 1.0
                    for k, v in artifact["end_to_end"].items()
                    if k in plain and v["unit"] == "s"
                }
        with open(os.path.join(out_dir, f"{stem}.json"), "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
    finally:
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({k: artifact[k] for k in ("phases_s", "setup_parts_s", "tails", "samples", "problems")}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
