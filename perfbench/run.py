"""Run one benchmark workload and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload index|curate --seed N \\
        --seconds S --trace 0|1

The run generates its inputs from the seed, sets up, runs the workload's
closed loop (a fixed amount of work: one round per 10 s of ``S``, so the
work never depends on how fast the code runs), checks the outputs and
prints one JSON line per record; the last line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics (a
layer a workload bypasses reads 0). The full record, spans included, is
written to ``.perfbench_out/`` and all scratch data goes to
``.perfbench_work/``, both under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "text_retrieval_and_search_engines_spark"


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _fs(path: str) -> str:
    """Filesystem type and device holding ``path`` (from /proc/mounts)."""
    real, best = os.path.realpath(path), ("", "?", "?")
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) >= len(best[0]):
                best = (mnt, fstype, dev)
    return f"{best[1]} {best[2]} at {best[0]}"


def _prepare_env(work: str, cpus: int) -> None:
    """Everything the session and its workers write goes under ``work``;
    the session is the engine's own ``get_spark`` at local[cpus]."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # display and scratch location only; the engine's pinned conf holds
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options -Djava.io.tmpdir={tmp}"
                                " --conf spark.ui.showConsoleProgress=false"
                                " pyspark-shell"),
    })
    os.environ.pop("SPARK_MASTER", None)


def _stop(spark, probe) -> None:
    """Stop the session, the gateway JVM and the Python workers, and wait
    until each has exited."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = [probe.jvm, *probe.workers()]
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.time() + 60
    for pid in pids:
        while time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break       # exited, waiting to be reaped by init
            except OSError:
                break
            time.sleep(0.05)


def _metric_line(values: dict, spec: list[dict]) -> dict:
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in spec}


def main(argv: list[str]) -> int:
    args = _args(argv)
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PKG)) \
            or not os.path.isfile(bench_json):
        sys.stderr.write(f"perfbench: {PKG}/ or BENCHMARK.json not found "
                         f"under {ROOT}; run from a full checkout\n")
        return 2
    sys.path[:0] = [ROOT, HERE]
    import metrics
    with open(bench_json) as f:
        spec = json.load(f)
    if spec != metrics.manifest():
        sys.stderr.write("perfbench: BENCHMARK.json differs from "
                         "perfbench/metrics.py; regenerate it\n")
        return 2
    import workloads
    if args.workload not in workloads.WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}\n")
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    _prepare_env(work, cpus)
    os.chdir(work)                  # spark-warehouse / derby land here

    import pyspark

    import tracing
    from text_retrieval_and_search_engines_spark.session import get_spark
    from text_retrieval_and_search_engines_spark.sources.tables import Catalog

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    probe = tracing.ProcProbe(spark.sparkContext._gateway.proc.pid)
    tracer = tracing.Tracer(bool(args.trace), spark, probe)
    write_table = Catalog.write_table
    if args.trace:
        def traced_write(self, df, table, *a, **kw):
            with tracer.span("tables.write", table=table):
                return write_table(self, df, table, *a, **kw)
        Catalog.write_table = traced_write
    try:
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds,
                            session_s)
        with tracing.RssSampler(probe) as rss:
            res = workloads.WORKLOADS[args.workload](run)
        res.report["metrics"].update(
            peak_rss_mb=rss.peak,
            failed_ratio=res.failed / max(res.attempted, 1))
        res.layers["session.start_s"] = session_s
        env = {
            "seed": args.seed, "workload": args.workload,
            "trace": args.trace, "seconds": args.seconds, "cores": cpus,
            "spark": spark.version, "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "spark_conf": dict(spark.sparkContext.getConf().getAll()),
            "fs": {"catalog": _fs(work), "inputs": _fs(work),
                   "spark_local_dirs": _fs(os.environ["SPARK_LOCAL_DIRS"])}}
    finally:
        Catalog.write_table = write_table
        _stop(spark, probe)
        shutil.rmtree(work, ignore_errors=True)

    record = {"env": env, "report": res.report, "e2e": res.e2e,
              "attempted": res.attempted, "failed": res.failed}
    print(json.dumps({"run": {k: v for k, v in env.items()
                              if k != "spark_conf"},
                      "report": res.report, "e2e": res.e2e},
                     default=str))
    record["spans"] = tracer.records()
    if args.trace:
        record.update(layers=res.layers, call_sites=tracer.by_call_site(),
                      self_time_check=tracer.check_self_times())
        print(json.dumps({"call_sites": record["call_sites"],
                          "self_time_check": record["self_time_check"],
                          "spans": len(record["spans"])}))
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, default=str)
    spec_metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(json.dumps({
        "correct": res.failed == 0, "attempted": res.attempted,
        "failed": res.failed,
        "metrics": _metric_line(res.layers if args.trace else res.e2e,
                                spec_metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
