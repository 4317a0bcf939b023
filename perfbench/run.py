"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer ones from a traced run (spans are written under
``.perfbench_out/``). Every result is checked against an oracle after
timing; the exit code is non-zero when any operation failed.
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
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import JobCounter, Tracer  # noqa: E402
from perfbench.workloads import SIZES, WORKLOADS, Ctx  # noqa: E402

OUT_DIR = os.path.join(ROOT, ".perfbench_out")
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
# Driver JVM options. -XX:-UsePerfData: no hsperfdata file in the system
# temp dir. -Xms (set to the heap limit in start_spark): a fixed heap, so the
# full collections live_memory_mb forces before the timed loop do not shrink
# it and slow the first timed ops. CompileThresholdScaling: the JIT compiles
# hot code after a tenth of the usual calls, so the short set-up reaches the
# steady state a long-running server is in; at the default, op latency was
# still falling by a fifth through the timed loop.
JVM_OPTS = ["-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.1"]


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 1024**2, 1),
            "python": platform.python_version()}


def start_spark(tmp: str, info: dict):
    """Start Spark with the driver heap fitted to the box (session.py reads
    SPARK_DRIVER_MEM; its default suits a large host), every scratch file
    under ``tmp``, and ``info`` extended with the versions in use. Returns
    the session and its start-up time."""
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(info['ram_gb'] // 4)))}g"
    # SPARK_LOCAL_DIRS, when set, overrides the spark.local.dir session.py sets
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = \
        os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    from fluent_plugin_elasticsearch_spark.session import get_spark

    t0 = time.perf_counter()
    # session.py sizes shuffle partitions at 2-3x the core count
    spark = get_spark(app_name="perfbench", cores=info["nproc"],
                      shuffle_partitions=2 * info["nproc"],
                      extra_conf={"spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                                  "spark.driver.extraJavaOptions": " ".join(JVM_OPTS + [
                                      f"-Djava.io.tmpdir={tmp}",
                                      f"-Xms{os.environ['SPARK_DRIVER_MEM']}"]),
                                  "spark.ui.showConsoleProgress": "false"})
    session_s = time.perf_counter() - t0
    info.update(spark=spark.version, driver_mem=os.environ["SPARK_DRIVER_MEM"],
                java=spark.sparkContext._jvm.System.getProperty("java.version"))
    return spark, session_s


def make_ctx(spark, info: dict, session_s: float, tracer: Tracer, workload_args: dict) -> Ctx:
    sc = spark.sparkContext
    return Ctx(spark=spark, nproc=info["nproc"], session_s=session_s,
               jvm_pid=sc._jvm.java.lang.ProcessHandle.current().pid(), tracer=tracer,
               jobs=JobCounter(sc) if tracer.enabled else None, **workload_args)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def result_line(res, spec: dict, trace: bool) -> dict:
    wanted = spec["per_layer" if trace else "end_to_end"]
    values = res.layer if trace else res.e2e
    # A layer a workload never reaches did no work: it reads 0.
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    missing = [m["name"] for m in wanted if not trace and m["name"] not in values]
    if missing:
        raise KeyError(f"workload did not measure {missing}")
    return {"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed,
            "metrics": metrics}


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full") -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    info = machine()
    os.makedirs(TMP_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=TMP_ROOT)
    spark = None
    try:
        tracer = Tracer(trace)
        with tracer.span("session.start", "setup"):
            spark, session_s = start_spark(tmp, info)
        ctx = make_ctx(spark, info, session_s, tracer,
                       {"seed": seed, "seconds": seconds, "sizes": SIZES[size], "tmp": tmp})
        res = WORKLOADS[workload](ctx)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    line = result_line(res, spec, trace)
    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    if trace:
        tracer.dump(os.path.join(OUT_DIR, f"spans-{tag}.json"))
    with open(os.path.join(OUT_DIR, f"result-{tag}.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "seconds": seconds, "size": size,
                   "machine": info, "errors": res.errors[:50], "samples": res.samples, **line}, f, indent=1)
    print(json.dumps({"machine": info, "errors": res.errors[:5]}), flush=True)
    return line


def main() -> int:
    # on SIGTERM, unwind through run()'s clean-up: stop Spark, remove scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input sizes; 'smoke' is for the benchmark's self-tests")
    args = ap.parse_args()
    line = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
