"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|pipeline --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. It reads the sf0.1 tables in
``perfbench/data/sf0.1``, runs one workload in this process against the
engine in the checkout, checks the outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``.perfbench/trace-<workload>-seed<N>.json``.

Everything else the run writes goes to ``.perfbench/run-<pid>/`` in the
checkout (TMPDIR, the JVM's temp dir, Spark local and warehouse dirs),
which is removed at the end. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the input tables: the sf0.1 test data, stored with the benchmark so a
#: run reads nothing outside its checkout. They never change; --seed
#: drives only the serve request stream.
SF_DIR = os.path.join(HERE, "data", "sf0.1")
DRIVER_MEM = "2g"
YOUNG_GEN = "384m"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_ms": "ms",
    "op_p95_ms": "ms",
    "work_s": "s",
}


def _units(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name == "serve.jobs_per_req":
        return "jobs/req"
    return "count"


def _prepare(run_dir: str) -> dict:
    """Point every writer at ``run_dir``; call before Spark starts."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "jvmtmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    return dirs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import a3_fp_bigdata_spark  # noqa: F401 - the engine under test
        import pyspark
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the finally below, which stops the JVM and
    # removes the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = _prepare(run_dir)
    run = None
    try:
        import workloads
        from probe import StreamProgress

        extra_conf = {
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.local.dir": dirs["local"],
            # a fixed young generation: G1 sizes it from pause times, which
            # moved peak RSS by up to 30% between runs; the heap's old part and
            # its total still grow with what the run keeps
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={dirs['jvmtmp']} -XX:-UsePerfData -Xmn{YOUNG_GEN}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        cls = {"serve": workloads.Serve, "pipeline": workloads.Pipeline}[args.workload]
        run = cls(args.workload, SF_DIR,
                  args.seed, args.seconds, bool(args.trace), cores, extra_conf,
                  [dirs["tmp"], dirs["warehouse"]])
        run.setup()
        listener = None
        if args.trace:
            listener = StreamProgress(lambda: run.group_now)
            run.spark.streams.addListener(listener)
        e2e = run.run(listener)
        if args.trace:
            metrics = dict(run.layer)
            metrics["trace.work_s"] = e2e["work_s"]
            with open(os.path.join(
                    out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "metrics": metrics, "spans": run.tracer.to_json()}, fh)
            units = {k: _units(k) for k in metrics}
        else:
            metrics, units = e2e, END_TO_END
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in sorted(metrics.items())},
        }
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            "op_walls_s": run.op_info,
            "part_s": {k: round(v, 2) for k, v in run.part_s.items()},
            "peak_rss_mb": {k: round(v) for k, v in run.part_rss_mb.items()},
            "failures": run.failures,
        }))
    finally:
        if run is not None and run.spark is not None:
            run.spark.stop()
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
