"""CDC pipeline benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload wal_stream --seed 1 --seconds 10 --trace 0

Run it from the repository root; it imports the package from there and
builds nothing. Workloads: ``wal_stream`` (open-loop WAL tailing),
``backfill`` (bulk snapshot + Elasticsearch index) and ``serve_mixed``
(sink reads beside small write epochs). ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones and writes the spans
to ``.perfbench_traces/``. All working state lives in
``.perfbench_work/<workload>-<pid>/`` and is removed when the run ends.
The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "change_data_capture_service_spark"
JVM_HEAP = "2g"  # well below host RAM; the session default is 48g


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run's work dir, and let executor-side Python import the package."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()


def _session(work: str, cores: int):
    from change_data_capture_service_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap is committed and touched up front, so peak RSS does
            # not follow the collector's heap-growth decisions
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "20000",
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes; its Python worker daemons follow it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- a hung JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    from cdcbench.workloads import END_TO_END, MOCK_SERVER_THREADS, PER_LAYER, WORKLOADS, Run

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = max(1, len(os.sched_getaffinity(0)) - MOCK_SERVER_THREADS[args.workload])
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _prepare_env(work)
        t = time.perf_counter()
        spark = _session(work, cores)
        session_s = time.perf_counter() - t
        jvm_pid = spark.sparkContext._gateway.proc.pid
        run = Run(spark, args.workload, args.seed, args.seconds, bool(args.trace), work, T_START)
        run.log(f"session up on local[{cores}]")
        run.layer["session.start_s"] = session_s
        WORKLOADS[args.workload](run)
        run.e2e["setup_s"] = run.first_op_at - T_START
        rss = {"harness": _hwm_mb("self"), "jvm": _hwm_mb(jvm_pid)}
        run.e2e["peak_rss_mb"] = sum(rss.values())
        run.report.update({f"peak_rss_{k}_mb": (v, "MB") for k, v in rss.items()})
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(out, exist_ok=True)
            run.tracer.write(os.path.join(out, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work dir is still there

    v = run.verdict
    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"traced {bool(args.trace)}")
    for name, value in run.e2e.items():
        print(f"  {name:28s} {value:14.6g} {END_TO_END[name]}")
    for name, (value, unit) in run.report.items():
        print(f"  {name:28s} {value:14.6g} {unit}")
    print(f"  {'failed_op_ratio':28s} {v.failed / max(v.attempted, 1):14.6g} ratio "
          f"({v.failed} of {v.attempted})")
    for note in v.notes:
        print(f"  note: {note}")
    chosen = PER_LAYER if args.trace else END_TO_END
    metrics = {
        name: {"value": float((run.layer if args.trace else run.e2e)[name]), "unit": unit}
        for name, unit in chosen.items()
    }
    print(json.dumps({
        "correct": v.correct,
        "attempted": int(v.attempted),
        "failed": int(v.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    import change_data_capture_service_spark as _pkg

    if os.path.dirname(os.path.dirname(os.path.abspath(_pkg.__file__))) != ROOT:
        print(f"perfbench: {PACKAGE} imported from {_pkg.__file__}, not {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
