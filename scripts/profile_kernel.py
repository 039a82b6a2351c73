"""Profile the distributed search kernel (search._maxscore_kernel) in-process.

Builds an index over a transcript corpus parquet, runs ONE query batch
through the distributed cogrouped-MaxScore plan with the kernel wrapped so
that every bucket's inputs (block rows, query map), output and skip
counters are captured, then replays the captured buckets in this process
and prints kernel CPU ms per 1000 queries plus a bit-identity check of the
replayed (query_id, rank, doc_id, score) rows and counters against the
captured ones.

    python scripts/profile_kernel.py --corpus CORPUS.parquet \\
        --queries QUERIES.parquet [--reference-root CHECKOUT]

The corpus parquet has the transcript columns (conv_id, turn_idx, role,
text, ...); the query parquet has (query_id, query_text). The benchmark's
input cache (.perfbench/cache/<key>/base.parquet and
queries_batch-*.parquet) fits both; the batch is the query parquet's
first 1000 rows. Buckets are replayed task by task in their captured
order, one kernel instance per Spark task, so the kernel's task-local
caches see exactly what they saw in the workers.

--reference-root replays the same capture with the kernel of another
checkout (for example the parent commit) in a subprocess and checks ITS
rows and counters against the capture too, which compares the two
kernels bit for bit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTERS = ("blocks_decoded", "blocks_skipped", "blocks_skipped_essential")
BATCH = 1000  # queries in the captured batch
K = 10
CORES = 4  # local[N] Spark master
# IndexConf.salt_df_threshold of the built index; must match the benchmark's
# index (perfbench/run.py) for the capture to profile the benchmarked plan
SALT_DF_THRESHOLD = 4096
REPS = 5  # timed replays


class _Value:
    """Stand-in for a Spark broadcast: the kernel reads only ``.value``."""

    def __init__(self, value):
        self.value = value


def _capturing_factory(real_factory, capture_dir: str, batch: int):
    """A drop-in for search._maxscore_kernel whose kernels pickle every
    bucket's (blocks, qmap, output, counter deltas) into capture_dir,
    tagged with the Spark task (one deserialized kernel per task) and the
    bucket's position in it."""

    def factory(k, min_tf, k1, b, avgdl, stats=None, deleted_bc=None):
        params = dict(
            k=k, min_tf=min_tf, k1=k1, b=b, avgdl=avgdl, batch=batch,
            deleted=None if deleted_bc is None else deleted_bc.value,
        )
        with open(os.path.join(capture_dir, "params.pkl"), "wb") as f:
            pickle.dump(params, f)
        task_stats: dict = {}
        inner = real_factory(
            k, min_tf, k1, b, avgdl, stats=task_stats, deleted_bc=deleted_bc
        )
        task: dict = {}  # per deserialized copy: task id, buckets so far

        def kernel(pdf, qpdf):
            import uuid

            tid = task.setdefault("id", uuid.uuid4().hex)
            seq = task["n"] = task.get("n", 0) + 1
            before = dict(task_stats)
            out = inner(pdf, qpdf)
            delta = {c: task_stats[c] - before.get(c, 0) for c in COUNTERS}
            with open(os.path.join(capture_dir, f"{tid}-{seq:05d}.pkl"), "wb") as f:
                pickle.dump(
                    {"task": tid, "seq": seq, "blocks": pdf, "qmap": qpdf,
                     "out": out, "stats": delta}, f,
                )
            return out

        return kernel

    return factory


def capture(corpus: str, queries_path: str, capture_dir: str) -> None:
    """Build the index and run one batch with the capturing kernel."""
    sys.path.insert(0, ROOT)
    import importlib

    import pandas as pd

    from igd_spark import IndexConf, build_index, search
    from igd_spark.session import get_spark

    # the package re-exports search(), which shadows the submodule attribute
    search_mod = importlib.import_module("igd_spark.search")

    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(
        cores=CORES,
        app="profile_kernel",
        extra={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    work = tempfile.mkdtemp(prefix="profile_kernel-")
    try:
        conf = IndexConf(salt_df_threshold=SALT_DF_THRESHOLD)
        docs = spark.read.parquet(os.path.abspath(corpus))
        idx = build_index(spark, docs, os.path.join(work, "idx"), conf=conf, id_col=None)
        rows = pd.read_parquet(queries_path, columns=["query_id", "query_text"])
        rows = rows.iloc[:BATCH]
        queries = spark.createDataFrame(rows, "query_id long, query_text string")
        real = search_mod._maxscore_kernel
        search_mod._maxscore_kernel = _capturing_factory(real, capture_dir, len(rows))
        try:
            search(spark, idx, queries, k=K, engine="spark").collect()
        finally:
            search_mod._maxscore_kernel = real
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def load(capture_dir: str) -> tuple[dict, list[list[dict]]]:
    """(params, buckets grouped per task in captured order)."""
    with open(os.path.join(capture_dir, "params.pkl"), "rb") as f:
        params = pickle.load(f)
    tasks: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(capture_dir, "*-*.pkl"))):
        with open(path, "rb") as f:
            rec = pickle.load(f)
        rec["name"] = os.path.basename(path)
        tasks.setdefault(rec["task"], []).append(rec)
    return params, [sorted(t, key=lambda r: r["seq"]) for _, t in sorted(tasks.items())]


def replay(params: dict, tasks: list[list[dict]]) -> dict:
    """Replay every captured bucket REPS times (fresh kernels per rep):
    {"cpu_ms": [per rep, per 1000 queries], "outs": {bucket: rows},
    "stats": {bucket: counter deltas}} — outs/stats from the last rep."""
    from igd_spark.search import _maxscore_kernel

    deleted = None if params["deleted"] is None else _Value(params["deleted"])
    cpu_ms, outs, stats_out = [], {}, {}
    for _ in range(REPS):
        spent = 0.0
        for task in tasks:
            stats: dict = {}
            kernel = _maxscore_kernel(
                params["k"], params["min_tf"], params["k1"], params["b"],
                params["avgdl"], stats=stats, deleted_bc=deleted,
            )
            for rec in task:
                before = dict(stats)
                t0 = time.process_time()
                out = kernel(rec["blocks"], rec["qmap"])
                spent += time.process_time() - t0
                outs[rec["name"]] = _rows(out)
                stats_out[rec["name"]] = {
                    c: stats[c] - before.get(c, 0) for c in COUNTERS
                }
        cpu_ms.append(1000.0 * spent * 1000.0 / params["batch"])
    return {"cpu_ms": cpu_ms, "outs": outs, "stats": stats_out}


def _rows(out) -> tuple[np.ndarray, ...]:
    """(query_id, rank, doc_id, score) columns, ordered by (query_id, rank)."""
    if not len(out):
        return tuple(np.empty(0) for _ in range(4))
    q = out["query_id"].to_numpy(dtype=np.int64)
    r = out["rank"].to_numpy(dtype=np.int64)
    o = np.lexsort((r, q))
    return (q[o], r[o], out["doc_id"].to_numpy(dtype=np.int64)[o],
            out["score"].to_numpy(dtype=np.float64)[o])


def summary(params: dict, tasks: list[list[dict]], res: dict, label: str) -> bool:
    """Print a replay's CPU and counters; True when every bucket's rows
    (scores bit for bit) and counters equal the capture's."""
    recs = [r for t in tasks for r in t]
    bad = []
    for rec in recs:
        want, got = _rows(rec["out"]), res["outs"][rec["name"]]
        same = all(
            a.shape == b.shape and np.array_equal(a.view(np.uint8), b.view(np.uint8))
            for a, b in zip(want, got)
        )
        if not same or rec["stats"] != res["stats"][rec["name"]]:
            bad.append(rec["name"])
    totals = {c: sum(s[c] for s in res["stats"].values()) for c in COUNTERS}
    ms = res["cpu_ms"]
    print(
        f"{label}: kernel CPU {statistics.median(ms):.1f} ms per 1000 queries "
        f"(median of {len(ms)}, min {min(ms):.1f}, max {max(ms):.1f}); "
        f"{len(recs)} buckets in {len(tasks)} tasks, "
        f"{sum(len(r['blocks']) for r in recs)} block rows, "
        f"{params['batch']} queries; counters {json.dumps(totals)}"
    )
    print(
        f"{label}: bit-identical to the captured output: "
        + ("yes" if not bad else f"NO — {len(bad)} buckets differ: {bad[:5]}")
    )
    return not bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--corpus", help="transcript corpus parquet")
    ap.add_argument("--queries", help="(query_id, query_text) parquet")
    ap.add_argument("--reference-root",
                    help="also replay with the kernel of this checkout")
    # subprocess form: replay the capture in --replay with the kernel under
    # --root and pickle the result to --out
    ap.add_argument("--replay", help=argparse.SUPPRESS)
    ap.add_argument("--root", default=ROOT, help=argparse.SUPPRESS)
    ap.add_argument("--out", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.out:
        sys.path.insert(0, args.root)
        with open(args.out, "wb") as f:
            pickle.dump(replay(*load(args.replay)), f)
        return 0

    if not (args.corpus and args.queries):
        ap.error("--corpus and --queries are required")
    capture_dir = tempfile.mkdtemp(prefix="kernel-capture-")
    try:
        capture(args.corpus, args.queries, capture_dir)
        sys.path.insert(0, ROOT)
        params, tasks = load(capture_dir)
        ok = summary(params, tasks, replay(params, tasks), "this tree")
        if args.reference_root:
            with tempfile.NamedTemporaryFile(suffix=".pkl") as tmp:
                subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--replay", capture_dir,
                     "--root", os.path.abspath(args.reference_root), "--out", tmp.name],
                    check=True,
                )
                with open(tmp.name, "rb") as f:
                    ref = pickle.load(f)
            ok = summary(params, tasks, ref, "reference") and ok
        return 0 if ok else 1
    finally:
        shutil.rmtree(capture_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
