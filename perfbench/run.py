"""VectorFlow service benchmark: run one workload from a seed and print its
metrics as the last line of standard output.

    python3 perfbench/run.py --workload online_rw --seed 1 --seconds 14 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans, Spark job groups and the Spark event log switched on
and prints the per-layer metrics instead. A detail line with every figure
under its own name precedes the result line. Exit status is non-zero when
any answer is wrong or any call fails unexpectedly. Everything the run
writes lives under ``.perfbench_run/`` in the checkout and is removed at
the end."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Spark task slots the program gets. Fewer than a 4-core host has, so the
#: client process, the JVM's own threads and the Python workers are not
#: crowded out by the tasks: on a shared 4-core host, 2 slots made
#: `search_approx` both faster and far less sensitive to load from other
#: processes than 4 or 1.
SPARK_CPUS = 2


def vm_hwm_mb(pid):
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def isolate(scratch):
    """Point every temporary and Spark scratch directory into ``scratch``,
    before Spark or the JVM start."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(scratch, "events"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(min(SPARK_CPUS, len(os.sched_getaffinity(0))))


def stop(spark):
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import metrics
    import workloads
    from spans import NullTracer, Tracer, event_log_totals

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    scratch = os.path.join(ROOT, ".perfbench_run", f"run-{os.getpid()}")
    isolate(scratch)
    spark = None
    try:
        from hnsw_vector_db_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(scratch, "events"),
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        spark = get_spark("perfbench", **conf)
        session_s = time.perf_counter() - t0
        tr = Tracer(spark) if args.trace else NullTracer()
        if args.trace:
            from hnsw_vector_db_spark.operators import hnsw_partition, knn, similarity
            from hnsw_vector_db_spark.sources import vectorflow_snapshot

            tr.wrap(similarity, "ivf_fit", "similarity.ivf_fit")
            tr.wrap(hnsw_partition, "hnsw_build", "hnsw.build")
            tr.wrap(hnsw_partition, "hnsw_search", "hnsw.search")
            tr.wrap(vectorflow_snapshot, "write_snapshot", "sources.write_snapshot")
            tr.wrap(knn, "knn_batch", "knn.knn_batch")
            tr.wrap(knn, "knn_batch_twophase", "knn.knn_batch_twophase")
        run = workloads.Run(spark, scratch, args.seed, args.seconds, tr,
                            workloads.WORKLOADS[args.workload])
        # set-up = interpreter start to a loaded table: session once, then
        # the median of the repeated generate-and-ingest rounds
        setup_s = (t0 - T_START) + session_s + run.setup()
        workloads.RUNNERS[args.workload](run)
        tr.unwrap_all()
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        e2e = metrics.end_to_end(run, setup_s)
        detail = metrics.detail(args.workload, run, setup_s, rss)
        if args.trace:
            tr.count_jobs()
            stop(spark)
            spark = None
            events = event_log_totals(os.path.join(scratch, "events"))
            out = metrics.per_layer(run, tr, events, session_s, e2e)
            detail["spans"] = tr.spans
        else:
            out = e2e
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
