"""Benchmark entry point.

    python3 perfbench/run.py --workload {queries,etl-microbatch} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Builds one SparkSession on
``local[<cpus>]`` under a pinned environment, runs the workload as one
closed-loop client, checks every output and prints, as the last line
of stdout, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (the span trace is written to
``.perfbench_out/``). Everything it writes stays inside the checkout
and is removed at exit, except that trace.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import perfbench modules as a package from the checkout root, never
# as top-level modules from this script's directory
sys.path[:] = [ROOT] + [p for p in sys.path
                        if os.path.abspath(p or ".") != os.path.dirname(os.path.abspath(__file__))]
WORKLOADS = ("queries", "etl-microbatch")


def process_age() -> float:
    """Seconds since this process started (Linux), so set-up time counts
    interpreter start-up too."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


AGE_AT_START = process_age()


def pin_environment(workdir: str) -> int:
    """The pinned environment: every core, the heap from MemTotal (as
    bench.py pins it), working directories inside the checkout and the checkout
    root on PYTHONPATH so Python workers can import the package."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for name in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_EXTRA_CONF",
                 "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(name, None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    return cpus


def start_session(workload: str, cpus: int, workdir: str):
    """Import the package, build the session and run bench.py's warm-up
    probe: the set-up that ``setup_s`` measures."""
    from sbs_suptech_etl_v2_spark import registry  # noqa: F401 — part of set-up
    from sbs_suptech_etl_v2_spark.session import driver_mem_from, get_spark

    from bench import _warmup
    from perfbench.queries import SF_DIR

    mem = driver_mem_from("MemTotal")
    if mem:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )
    _warmup(spark, SF_DIR)
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, ValueError, IndexError):
                continue
    return out


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    doomed = [proc.pid]
    frontier = [proc.pid]
    while frontier:
        kids = _children(frontier.pop())
        doomed += kids
        frontier += kids
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later session starts afresh
    proc.stdin.close()  # the gateway exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in doomed[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its working directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    workdir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(workdir)
    spark = None
    try:
        cpus = pin_environment(workdir)
        spark = start_session(args.workload, cpus, workdir)
        setup_s = AGE_AT_START + time.perf_counter() - T_START
        print(f"set-up done in {setup_s:.3f} s", file=sys.stderr)

        from perfbench import etl, queries
        from perfbench.tracing import Tracer

        tracer = Tracer() if args.trace else None
        try:
            if args.workload == "queries":
                res = queries.run(spark, args.seed, args.seconds, tracer)
            else:
                res = etl.run(spark, workdir, args.seed, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        if tracer is None:
            values = dict(res["end_to_end"], setup_s=setup_s)
            wanted = spec["end_to_end"]
        else:
            values = finish_layers(res, tracer, args, setup_s)
            wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}
        print(f"# {args.workload} seed={args.seed} samples={res['samples']} "
              f"unit_p50_s={res['unit_p50_s']!r}", flush=True)
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }), flush=True)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    return 0


def finish_layers(res: dict, tracer, args, setup_s: float) -> dict:
    """Derived per-layer values, plus the span trace written as JSON."""
    layers = dict(res["per_layer"])
    run_s = layers.get("executor_run_s", 0.0)
    layers["cpu_share"] = layers.get("executor_cpu_s", 0.0) / run_s if run_s else 0.0
    layers["fail_share"] = res["failed"] / res["attempted"]
    traced = res["traced_s"] + tracer.overhead_s
    layers["trace_overhead_share"] = tracer.overhead_s / traced if traced else 0.0
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(
        os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed, "setup_s": setup_s,
         "per_layer": layers},
    )
    return layers


if __name__ == "__main__":
    sys.exit(main())
