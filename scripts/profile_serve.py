"""Profile the driver route's serve path: CPU per stage of a search request.

Builds an index over a transcript corpus parquet, then replays serve rounds
the way the benchmark's serve workload does: the same requests of 32
queries each, every round on a freshly opened index handle (so with cold
per-handle caches), every request a `search(...).collect()`. The
LocalSearcher stages are timed with process CPU (all driver threads,
including the scoring pool) and printed per query, median over the timed
rounds:

    admission   term_sets + the Σdf admission bound (dictionary excluded)
    dictionary  _lookup_terms (the dictionary probe)
    block read  _read_blocks (the pruned segment block reads)
    decode      _ensure_lists minus its block read (varint decode, grouping,
                list LRU)
    score       score_n minus its dictionary probe and list faults
    frame       the rest of the request on the driver: the admission gate,
                createDataFrame and collect
    JVM         user + system CPU of the driver JVM, from /proc/<pid>/stat

It also prints the wall time of each round's first request (cold handle)
against the rest, and the parquet row groups read per handle when the
package has a row-group store.

    python scripts/profile_serve.py --corpus CORPUS.parquet \\
        --queries QUERIES.parquet [--rounds 8] [--root CHECKOUT]

The benchmark's input cache fits both inputs:
.perfbench/cache/<key>/base.parquet and queries_serve-512.parquet (its first
512 rows make the 16 requests). --root imports the package from another
checkout (for example the parent commit) to compare the two on one input.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUEST = 32       # queries per request
REQUESTS = 16      # requests per round
WARMUP = 3         # untimed rounds: the JVM still compiles the frame path
K = 10
CORES = 4          # local[N] Spark master
# IndexConf.salt_df_threshold of the benchmark's index (perfbench/run.py)
SALT_DF_THRESHOLD = 4096
STAGES = ("admission", "dictionary", "block read", "decode", "score", "frame")


class StageClock:
    """Exclusive process CPU per stage: each wrapped method charges its
    own time to its stage, minus the time of wrapped methods it calls."""

    def __init__(self):
        self.cpu = dict.fromkeys(STAGES, 0.0)
        self._stack: list[list] = []  # [stage, start, child seconds]

    def wrap(self, cls, name: str, stage: str) -> None:
        fn = getattr(cls, name)
        clock = self

        def wrapped(*a, **kw):
            clock._stack.append([stage, time.process_time(), 0.0])
            try:
                return fn(*a, **kw)
            finally:
                st, t0, child = clock._stack.pop()
                dt = time.process_time() - t0
                clock.cpu[st] += dt - child
                if clock._stack:
                    clock._stack[-1][2] += dt

        setattr(cls, name, wrapped)

    def request(self, fn):
        """Run one request; its time outside every wrapped method is frame."""
        self._stack.append(["frame", time.process_time(), 0.0])
        try:
            return fn()
        finally:
            st, t0, child = self._stack.pop()
            self.cpu[st] += time.process_time() - t0 - child


def jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:13]) / os.sysconf("SC_CLK_TCK")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--corpus", required=True, help="transcript corpus parquet")
    ap.add_argument("--queries", required=True, help="(query_id, query_text) parquet")
    ap.add_argument("--rounds", type=int, default=8, help="timed rounds")
    ap.add_argument("--root", default=ROOT, help="checkout to import the package from")
    args = ap.parse_args()

    root = os.path.abspath(args.root)
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import pandas as pd
    from pyspark import SparkContext

    from igd_spark import IndexConf, build_index, open_index, search
    from igd_spark.local import LocalSearcher
    from igd_spark.session import get_spark

    clock = StageClock()
    for name, stage in (
        ("term_sets", "admission"), ("batch_cost", "admission"),
        ("_lookup_terms", "dictionary"), ("_read_blocks", "block read"),
        ("_ensure_lists", "decode"), ("score_n", "score"),
    ):
        clock.wrap(LocalSearcher, name, stage)

    spark = get_spark(
        cores=CORES, app="profile_serve",
        extra={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    jvm = SparkContext._gateway.proc.pid
    work = tempfile.mkdtemp(prefix="profile_serve-")
    try:
        conf = IndexConf(salt_df_threshold=SALT_DF_THRESHOLD)
        docs = spark.read.parquet(os.path.abspath(args.corpus))
        idx = build_index(spark, docs, os.path.join(work, "idx"), conf=conf, id_col=None)
        qs = pd.read_parquet(args.queries, columns=["query_id", "query_text"])
        pool = list(zip(qs["query_id"].astype(int), qs["query_text"]))[: REQUEST * REQUESTS]
        requests = [pool[j:j + REQUEST] for j in range(0, len(pool), REQUEST)]

        per_round: list[dict] = []
        for r in range(WARMUP + args.rounds):
            handle = open_index(spark, idx.path)
            clock.cpu = dict.fromkeys(STAGES, 0.0)
            cpu0, jvm0 = time.process_time(), jvm_cpu_s(jvm)
            walls = []
            for req in requests:
                t0 = time.perf_counter()
                clock.request(lambda: search(spark, handle, req, k=K).collect())
                walls.append(1000 * (time.perf_counter() - t0))
            n = len(pool)
            row = {s: 1000 * v / n for s, v in clock.cpu.items()}
            row["driver total"] = 1000 * (time.process_time() - cpu0) / n
            row["JVM"] = 1000 * (jvm_cpu_s(jvm) - jvm0) / n
            row["first request wall ms"] = walls[0]
            row["other requests wall ms"] = statistics.median(walls[1:])
            store = getattr(getattr(handle, "_local_searcher", None), "store", None)
            if store is not None:
                row["row groups read"] = sum(store.reads.values())
                row["row groups read twice"] = sum(v > 1 for v in store.reads.values())
            if r >= WARMUP:
                per_round.append(row)

        print(f"package: {root}")
        print(f"{args.rounds} rounds x {len(requests)} requests x {REQUEST} queries, "
              f"fresh handle per round; medians over rounds")
        print(f"{'stage':<24}{'CPU ms/query':>14}")
        for key in (*STAGES, "driver total", "JVM"):
            print(f"{key:<24}{statistics.median(r[key] for r in per_round):>14.3f}")
        for key in ("first request wall ms", "other requests wall ms",
                    "row groups read", "row groups read twice"):
            if key in per_round[0]:
                print(f"{key:<24}{statistics.median(r[key] for r in per_round):>14.2f}")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
