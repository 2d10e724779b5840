"""CDC consumer benchmark for sql_cdc_spark.

    python3 perfbench/run.py --workload invoice_drain --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Workloads: ``invoice_drain``,
``update_rounds`` and ``headline_queries`` (see NOTES.md). With ``--trace 0``
the last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics and the spans are written as JSON lines
under ``.perfbench/out/``. The line before it lists every metric with its
unit and sample count, plus a host CPU probe.

Everything the run writes stays under ``.perfbench/`` in the checkout; its
scratch directory is removed and its Spark JVM stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE_CHILD = (
    "import time\n"
    "def loop():\n"
    "    t = time.perf_counter()\n"
    "    s = 0\n"
    "    for i in range(1_000_000):\n"
    "        s += i * i\n"
    "    return (time.perf_counter() - t) * 1000\n"
    "print(loop())\n"
)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def jvm_heap_mb() -> int:
    """A quarter of the host's memory, between 1 and 8 GiB, for the Spark
    JVM heap: the JVM shares the host with other processes."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(8192, total_kb // 4096))


def cpu_probe(width: int) -> dict:
    """Wall time of a fixed integer loop in ``width`` simultaneous
    processes — a diagnostic of how much CPU the host gave this run, taken
    before the session starts and after the measured window, recorded and
    never used to filter or correct results."""
    procs = [subprocess.Popen([sys.executable, "-S", "-c", _PROBE_CHILD],
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
             for _ in range(width)]
    vals = []
    for p in procs:
        out, _ = p.communicate(timeout=60)
        vals.append(float(out))
    return {"width": width, "median_ms": round(statistics.median(vals), 1),
            "max_ms": round(max(vals), 1)}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _stop_jvm() -> None:
    """Stop the Spark session and wait for its JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(args: argparse.Namespace, scale=None) -> dict:
    """Run one workload; return the result object (the last stdout line)
    and print the detail line before it."""
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    cpus = host_cpus()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    probe = {"start": cpu_probe(cpus)}
    try:
        run = W.Run(work, args.seed, scale or W.Scale(), cpus, bool(args.trace), conf)
        wl = W.WORKLOADS[args.workload](run)
        wl.setup()
        deadline = time.perf_counter() + args.seconds
        try:
            wl.measure(deadline)
        except Exception as exc:  # counted in Run.operation; stop measuring
            run.problems.append(f"measurement stopped: {type(exc).__name__}: {exc}")
        run.stop_leftover_streams()
        probe["end"] = cpu_probe(cpus)
        wl.check()
        measured = wl.end_to_end()
        measured["setup_s"] = (run.setup_s(), "s", 1)
        e2e = {n: measured[n][0] for n, _, _ in W.END_TO_END}
        if args.trace:
            from perfbench.layers import layer_metrics

            values = layer_metrics(run, wl)
            units = {n: u for n, u, _ in W.PER_LAYER}
            out_dir = os.path.join(base, "out")
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            run.tracer.write(spans_path)
        else:
            values = e2e
            units = {n: u for n, u, _ in W.END_TO_END}
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "probe": probe,
            "ops": {"kind": wl.op_kind, "untraced": len(run.plain(wl.op_kind)),
                    "traced": len(run.traced(wl.op_kind)),
                    "ms": [round(o["wall_ms"], 1) for o in run.ops]},
            "metrics": {n: {"value": v, "unit": u, "n": k} for n, (v, u, k) in measured.items()},
            "setup_ms": run.setup, "problems": run.problems[:50],
            "notes": run.notes[:50],
        }
        if args.trace:
            detail["spans"] = os.path.relpath(spans_path, ROOT)
        print(json.dumps(detail))
        correct = not run.problems and run.failed == 0
        return {"correct": correct, "attempted": run.attempted, "failed": run.failed,
                "metrics": {n: {"value": values[n], "unit": units[n]} for n in units}}
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def prepare_environment(tmp: str) -> None:
    """Size the engine to this host without editing its defaults, and keep
    every scratch file (Python, JVM, Spark shuffle) under ``tmp``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{jvm_heap_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sql_cdc_spark", "__init__.py")):
        print(f"perfbench: no sql_cdc_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench", f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    prepare_environment(tmp)
    sys.path.insert(0, ROOT)
    try:
        result = run_workload(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
