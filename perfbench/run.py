"""Repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload serve|batch|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The package is imported from the working tree;
inputs are generated from the seed (perfbench/inputs.py) and cached under
.perfbench/cache. Spark runs at local[<usable cores>] with a run-private
scratch directory under .perfbench/ that is removed at the end.

With --trace 0 the result holds the end-to-end metrics named in
BENCHMARK.json; with --trace 1 the per-layer metrics, from a separate run
that records spans (written to .perfbench/spans/) around every call into
the package. The last stdout line is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}; a table
with sample counts and the run's environment is printed above it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import sys
import tempfile
import time

from spans import log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("serve", "batch", "ingest")
DRIVER_MEMORY = "1g"
INFORMATIONAL = {
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "throughput_per_s": "1/s",
    "build_turns_per_s": "turns/s",
}

# every environment override the package reads; cleared so a run measures
# the code's defaults
PACKAGE_OVERRIDES = (
    "IGD_LOCAL_KERNEL_CAP",
    "IGD_SEARCH_PRUNE_MAX_TERMS",
    "IGD_SEARCH_DRIVER_MAX_QUERIES",
    "IGD_SEARCH_DRIVER_MAX_POSTINGS",
    "IGD_SEARCH_SMALL_MAX_ROWS",
    "IGD_PACK_PARTS",
    "IGD_SPREAD_SCAN",
    "IGD_SPARK_MASTER",
    "IGD_SPARK_DRIVER_MEM",
    "IGD_SPARK_EXECUTOR_MEM",
    "SPARK_GRAFT_CPUS",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def metric_specs(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(run_dir: str) -> None:
    for k in PACKAGE_OVERRIDES:
        os.environ.pop(k, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # Python workers import the package from the working tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # JVM temp files and perf data stay inside the run directory too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def source_revision() -> str:
    """Content hash of the package sources (the checkout may not be a git
    repository)."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "igd_spark")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            h.update(name.encode())
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(f.read())
    return "igd_spark-sha1:" + h.hexdigest()[:12]


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs since boot
    (the steal column of /proc/stat; 0 where there is none)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_pid() -> int | None:
    """Pid of the driver JVM the session launched."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args, run_dir: str) -> dict:
    sys.path.insert(0, ROOT)
    from dataclasses import asdict

    from igd_spark import IndexConf
    from igd_spark.session import get_spark

    import workloads
    from inputs import Inputs

    inputs = Inputs(os.path.join(STATE, "cache"), args.seed, workloads.QUERY_SETS)
    inputs.ensure()
    log("inputs ready")
    # default conf except the salting threshold, scaled to the corpus so
    # the Zipf head is salted as it would be at full scale
    conf = IndexConf(salt_df_threshold=4_096)

    steal0, t0 = steal_s(), time.perf_counter()
    spark = get_spark(
        cores=cores(),
        app="perfbench",
        extra={
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed-size heap: no resizing, so peak RSS does not swing
            # with GC timing
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    start_s = time.perf_counter() - t0
    log(f"session started in {start_s:.2f} s")
    try:
        b = workloads.Bench(spark, conf, inputs, os.path.join(run_dir, "work"), bool(args.trace))
        if b.trace:
            b.tr.spans.append({"id": 0, "parent": None, "name": "session.get_spark",
                               "start": t0, "end": t0 + start_s})
            b.layer["session.start_s"] = start_s
        idx = b.setup_index(start_s)
        log("set-up done")
        getattr(b, args.workload)(idx, args.seconds)
        log("workload done")
        if b.trace:
            # layers off this workload's path come from short probes; the
            # ingest probe goes last because it changes the index
            if args.workload != "serve":
                b.serve(idx, None, limit=workloads.PROBE_QUERIES)
            if args.workload != "batch":
                b.batch(idx, None, limit=1)
            if args.workload != "ingest":
                b.ingest(idx, None, limit=1)
            spans_dir = os.path.join(STATE, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            b.trace_layers(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"))
        jvm = jvm_pid()
        rss = {"python": hwm_mb("self"), "jvm": hwm_mb(jvm) if jvm else 0.0}
        log(f"peak rss MB {rss}")
        b.e2e["peak_rss_mb"] = (sum(rss.values()), 1)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": spark.sparkContext.master,
            "driver_memory": DRIVER_MEMORY,
            "revision": source_revision(),
            # share of the run's CPU time the host gave to other machines
            "host_steal_frac": round(
                (steal_s() - steal0) / ((time.perf_counter() - t0) * cores()), 3),
            "conf": asdict(conf),
            "turns": {"base": len(b.base_pdf), "appends": [len(p) for p in b.append_pdfs]},
        }
    finally:
        stop_spark(spark)
        log("session stopped")

    specs = metric_specs(bool(args.trace))
    if b.trace:
        values = {k: (v, None) for k, v in b.layer.items()}
    else:
        values = dict(b.e2e)
    metrics, table = {}, []
    for name, unit in specs.items():
        v, n = values.get(name, (float("nan"), 0))
        v = float(v)
        if not math.isfinite(v):
            b.problems.append(f"metric {name} was not measured")
            v = 0.0
        metrics[name] = {"value": v, "unit": unit}
        table.append(f"  {name:32s} {v:14.6g} {unit:10s}" + (f" n={n}" if n is not None else ""))
    # measured and printed, but left out of BENCHMARK.json: their spread
    # across runs of one commit exceeds any bound it allows
    for name, unit in INFORMATIONAL.items():
        if name in values and name not in specs:
            v, n = values[name]
            table.append(f"  {name:32s} {v:14.6g} {unit:10s} n={n} (informational)")
    ops = b.ops
    print(json.dumps(info, sort_keys=True))
    print("\n".join(table))
    print(f"  {'ops_failed_frac':32s} {ops.failed / max(ops.attempted, 1):14.6g} ratio"
          f"      n={ops.attempted}")
    for p in b.problems:
        print(f"[perfbench] INCORRECT {p}", file=sys.stderr)
    return {
        "correct": not b.problems,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "igd_spark", "__init__.py")):
        print("perfbench: no igd_spark package next to perfbench/", file=sys.stderr)
        return 2
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        pin_environment(run_dir)
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
