"""The workloads (serve, batch, ingest) and the per-layer metrics.

Every call into the package goes through `Bench.op`, which times it, counts
it as attempted, and counts an exception as a failure without stopping the
run. In a traced run every other operation of the workload loop is traced
(span + telemetry + Spark job count) and the rest run bare, so the tracing
overhead is the difference of the two medians within one warm process.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pandas as pd

import check
from inputs import Inputs
from spans import JobCounter, Ops, Tracer, log, median, pct, tree_cpu_s

K = 10
SETUP_REPS = 2            # set-ups per run; setup_s reports their median
SERVE_REQUEST = 32        # queries per serve request (the driver route admits 256)
SERVE_ROUND = 16          # requests per serve round
SERVE_WARMUP = 4          # untimed serve rounds: the JVM still compiles the frame path
BATCH_SIZE = 1_000        # > driver_search_max_queries: the distributed plan
BATCH_WARMUP = 2          # untimed batches: the first two still pay JIT
BATCH_POOL = 12           # timed batches available per run
CHECK_QUERIES = 25        # oracle-checked queries per check point
PROBE_QUERIES = 4 * SERVE_REQUEST  # queries in a traced run's serve probe
FRESH_QUERIES = 16        # single queries on each handle append_index returns
ENCODE_BLOCKS = 2_000     # blocks re-encoded by the codec probe

QUERY_SETS = {
    "serve": SERVE_REQUEST * SERVE_ROUND,
    "batch": BATCH_SIZE * (BATCH_WARMUP + BATCH_POOL),
    "fresh": FRESH_QUERIES,
}
TABLES = ("segments", "dictionary", "doc_stats")


class Bench:
    def __init__(self, spark, conf, inputs: Inputs, work_dir: str, trace: bool):
        self.spark = spark
        self.conf = conf
        self.inputs = inputs
        self.work_dir = work_dir
        self.trace = trace
        self.tr = Tracer(trace)
        self.jobs = JobCounter(spark.sparkContext)
        self.ops = Ops()
        self.e2e: dict[str, tuple[float, int]] = {}    # name -> (value, samples)
        self.layer: dict[str, float] = {}
        self.problems: list[str] = []
        # traced operations: kind -> [{"tel", "wall_ms", "jobs", "tasks"}]
        self.traced: dict[str, list[dict]] = {}
        # bare vs traced walls of the workload's main operation (ms)
        self.overhead: dict[str, list[float]] = {"bare": [], "traced": []}
        self.base_pdf = pd.read_parquet(inputs.base)
        self.append_pdfs = [pd.read_parquet(p) for p in inputs.appends]
        self._oracles: dict[int, check.Oracle] = {}
        self._ids = None
        self._dirs = 0

    # --- plumbing -----------------------------------------------------------
    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.work_dir, f"{name}-{self._dirs}", "idx")

    def op(self, name: str, fn):
        """(ok, result, seconds) of one call, inside a span named `name`."""
        with self.tr.span(name):
            return self.ops.run(name, fn)

    def must(self, name: str, fn):
        ok, out, dt = self.op(name, fn)
        if not ok:
            raise RuntimeError(f"set-up step {name} failed")
        return out, dt

    def load(self):
        """The input load of set-up: DataFrames over the cached parquet."""
        base = self.spark.read.parquet(self.inputs.base)
        return base, [self.spark.read.parquet(p) for p in self.inputs.appends]

    def queries(self, name: str) -> list[tuple[int, str]]:
        pdf = pd.read_parquet(self.inputs.queries_path(name))
        return list(zip(pdf["query_id"].astype(int), pdf["query_text"]))

    def oracle(self, n_appends: int) -> check.Oracle:
        """Oracle over the base corpus plus the first n_appends batches."""
        if n_appends not in self._oracles:
            frames = [self.base_pdf] + self.append_pdfs
            if self._ids is None:
                self._ids = check.doc_id_map(self.spark, self.conf, frames)
            self._oracles[n_appends] = check.Oracle(
                self._ids, frames[: 1 + n_appends]
            )
        return self._oracles[n_appends]

    def verify(self, idx, qs: list[tuple[int, str]], n_appends: int, where: str) -> None:
        """Oracle-check one search call over the sample queries (untimed)."""
        from igd_spark import search

        ok, rows, _ = self.ops.run(
            f"check {where}", lambda: search(self.spark, idx, qs, k=K).collect()
        )
        if not ok:
            self.problems.append(f"{where}: search raised")
            return
        self.check_rows(dict(qs), check.rows_by_query(rows), n_appends, where)

    def check_rows(self, texts: dict[int, str], results: dict, n_appends: int, where: str) -> None:
        self.problems += check.check_results(self.oracle(n_appends), texts, results, K, where)

    def search_op(self, kind: str, idx, queries, traced: bool):
        """One search call with its rows collected. kind names the
        operation (query / batch) for spans and telemetry."""
        from igd_spark import search

        if not traced:
            ok, rows, dt = self.ops.run(
                kind, lambda: search(self.spark, idx, queries, k=K).collect()
            )
            return ok, rows, dt
        tel: dict = {}

        def call():
            with self.tr.span("search.search"):
                df = search(self.spark, idx, queries, k=K, telemetry=tel)
            with self.tr.span("spark.collect"):
                return df.collect()

        t0 = time.perf_counter()
        with self.tr.span(f"op.{kind}"), self.jobs.track() as jr:
            ok, rows, _ = self.ops.run(kind, call)
        wall = time.perf_counter() - t0
        if ok:
            self.traced.setdefault(kind, []).append(
                {"tel": tel, "wall_ms": 1000 * wall, "jobs": jr["jobs"], "tasks": jr["tasks"]}
            )
        return ok, rows, wall

    def main_op(self, kind: str, idx, queries, i: int, main: bool):
        """search_op for loop iteration i: in a traced run every other
        iteration is traced; the main workload's walls feed the overhead."""
        traced = self.trace and (i % 2 == 1 or not main)
        ok, rows, wall = self.search_op(kind, idx, queries, traced)
        if ok and main and self.trace:
            self.overhead["traced" if traced else "bare"].append(1000 * wall)
        return ok, rows, wall

    # --- set-up ---------------------------------------------------------------
    def build_layers(self, docs) -> None:
        """Traced runs: time the build's layers one by one over the base
        corpus, each forced through a sink that keeps every column."""
        from igd_spark.build import build_all
        from igd_spark.corpus import assign_doc_ids
        from igd_spark.tokenizer import postings_spimi

        conf = self.conf
        _, dt = self.must("corpus.assign_doc_ids", lambda: assign_doc_ids(docs, conf)
                          .write.format("noop").mode("overwrite").save())
        self.layer["corpus.assign_doc_ids_s"] = dt
        with_ids = assign_doc_ids(docs, conf)
        n_post, dt = self.must("tokenizer.postings_spimi",
                               lambda: postings_spimi(with_ids, conf=conf).count())
        self.layer["tokenizer.postings_s"] = dt
        self.layer["tokenizer.postings"] = n_post
        parts, dt = self.must("build.build_all", lambda: build_all(with_ids, conf=conf))
        self.layer["build.build_all_s"] = dt
        n_blocks, dt = self.must("build.segments", lambda: parts["segments"].count())
        self.layer["build.segments_s"] = dt
        self.layer["build.blocks"] = n_blocks
        self.layer["build.hot_terms"] = parts["dictionary"].filter("n_salts > 1").count()
        for cached in parts["_cached"]:
            cached.unpersist()

    def setup_index(self, start_s: float):
        """Set-up: load the inputs and build the index, SETUP_REPS
        times (once when traced); setup_s = session start + median(load +
        build). The first build in a process pays JVM JIT and Python-worker
        start-up and is about three times as slow as the next, so the median
        of two is the mean of a cold and a warm set-up. Returns the last
        index."""
        from igd_spark import build_index

        reps = 1 if self.trace else SETUP_REPS
        if self.trace:
            self.build_layers(self.load()[0])
        builds, setups, idx = [], [], None
        for _ in range(reps):
            if idx is not None:
                shutil.rmtree(os.path.dirname(idx.path), ignore_errors=True)
            t0 = time.perf_counter()
            docs, _ = self.load()
            path = self.fresh_dir("index")
            idx, dt = self.must("index.build_index", lambda: build_index(
                self.spark, docs, path, conf=self.conf, id_col=None))
            builds.append(dt)
            setups.append(time.perf_counter() - t0)
        # build rate and layer time of the last build: a warm one
        self.layer["index.build_index_s"] = builds[-1]
        self.e2e["setup_s"] = (start_s + median(setups), reps)
        self.e2e["build_turns_per_s"] = (len(self.base_pdf) / builds[-1], 1)
        self.e2e["bytes_per_text_byte"] = (self.bytes_ratio(idx.path, 0), 1)
        return idx

    # --- serve ----------------------------------------------------------------
    def serve(self, idx, seconds: float | None, limit: int | None = None) -> None:
        """Closed loop, one client: search calls of SERVE_REQUEST queries
        each on a prebuilt index, in rounds of the same SERVE_ROUND
        requests, each round on a freshly opened handle (so with a cold
        decoded-list LRU), until `seconds` have passed. A request carries
        several queries because a single-query call is mostly fixed py4j and
        DataFrame round trips (about 18 of 21 ms) rather than search work.
        Every round does the same work, so the figures do not depend on how
        many rounds a run got through, and throughput is the median of the
        rounds' query rates. SERVE_WARMUP untimed rounds, each on a fresh
        handle too, warm the process first. As a traced run's probe (limit
        set) it runs the first `limit` queries once and reports layers
        only."""
        from igd_spark import open_index

        main = limit is None
        pool = self.queries("serve")[:limit]
        requests = [pool[j:j + SERVE_REQUEST] for j in range(0, len(pool), SERVE_REQUEST)]
        for r in range(SERVE_WARMUP if main else 0):
            ok, handle, _ = self.op("index.open_index", lambda: open_index(self.spark, idx.path))
            t0 = time.perf_counter()
            for req in requests:
                self.search_op("query", handle if ok else idx, req, traced=False)
            log(f"serve warm-up round {r + 1}: {time.perf_counter() - t0:.2f} s")
        sample = dict(pool[:CHECK_QUERIES])
        results: dict = {}
        lat: list[float] = []
        rates: list[float] = []
        cpu: list[float] = []      # CPU ms per query of each round
        i = 0
        t_end = time.perf_counter() + (seconds or 0)
        cpu0 = tree_cpu_s()
        while True:
            ok, handle, _ = self.op("index.open_index", lambda: open_index(self.spark, idx.path))
            if not ok:
                break
            n_ok, t0 = 0, time.perf_counter()
            for req in requests:
                ok, rows, wall = self.main_op("query", handle, req, i, main)
                i += 1
                if ok:
                    n_ok += len(req)
                    lat.append(1000 * wall)
                    got = check.rows_by_query(rows)
                    results.update({q: got.get(q, []) for q, _ in req if q in sample})
            rates.append(n_ok / (time.perf_counter() - t0))
            cpu1 = tree_cpu_s()
            if n_ok:
                cpu.append(1000 * (cpu1 - cpu0) / n_ok)
            cpu0 = cpu1
            if main:
                log(f"serve round {len(rates)}: request p50 {pct(lat[-len(requests):], 50):.1f} ms, "
                    f"{rates[-1]:.1f} queries/s, {cpu[-1]:.2f} CPU ms/query")
            i += 1  # a traced run traces each request in every other round
            if not main or time.perf_counter() >= t_end:
                break
        if main:
            self.e2e["op_p50_ms"] = (pct(lat, 50), len(lat))
            self.e2e["op_p90_ms"] = (pct(lat, 90), len(lat))
            self.e2e["cpu_ms_per_query"] = (median(cpu), len(cpu))
            self.e2e["throughput_per_s"] = (median(rates), len(rates))
            self.check_rows({q: sample[q] for q in results}, results, 0, "serve")

    # --- batch ----------------------------------------------------------------
    def batch(self, idx, seconds: float | None, limit: int | None = None) -> None:
        """One 1000-query Spark DataFrame per search call, after
        BATCH_WARMUP untimed batches. As a traced run's probe (limit set) it
        reports layers only."""
        main = limit is None
        qs = self.queries("batch")
        batches = [qs[b * BATCH_SIZE:(b + 1) * BATCH_SIZE]
                   for b in range(BATCH_WARMUP + BATCH_POOL)]

        def frame(rows):
            return self.spark.createDataFrame(
                pd.DataFrame(rows, columns=["query_id", "query_text"]),
                "query_id long, query_text string",
            )

        for rows in batches[:BATCH_WARMUP]:
            self.search_op("batch", idx, frame(rows), traced=False)
        walls: list[float] = []
        cpu: list[float] = []      # CPU ms per query of each batch
        first = None
        t_end = time.perf_counter() + (seconds or 0)
        for i, rows in enumerate(batches[BATCH_WARMUP:]):
            if (limit is not None and i >= limit) or (limit is None and time.perf_counter() >= t_end):
                break
            cpu0 = tree_cpu_s()
            qdf = frame(rows)
            ok, out, wall = self.main_op("batch", idx, qdf, i, main)
            if not ok:
                continue
            cpu.append(1000 * (tree_cpu_s() - cpu0) / BATCH_SIZE)
            walls.append(wall)
            if i == 0:
                first = (rows, out)
        if main:
            ms = [1000 * w for w in walls]
            self.e2e["op_p50_ms"] = (pct(ms, 50), len(ms))
            self.e2e["op_p90_ms"] = (pct(ms, 90), len(ms))
            self.e2e["cpu_ms_per_query"] = (median(cpu), len(cpu))
            self.e2e["throughput_per_s"] = (median([BATCH_SIZE / w for w in walls]), len(walls))
            if first is not None:
                rows, out = first
                self.check_rows(dict(rows[:CHECK_QUERIES]), check.rows_by_query(out), 0, "batch")

    # --- ingest ---------------------------------------------------------------
    def ingest(self, idx, seconds: float | None, limit: int | None = None) -> None:
        """Append batches to the set-up index while time remains, with
        FRESH_QUERIES single queries on every handle append_index returns,
        then one compaction. The index is oracle-checked over base ∪
        appended docs after the last append and after compaction. As a
        traced run's probe (limit set) it makes `limit` appends."""
        from igd_spark import append_index, compact_index, open_index

        main = limit is None
        path = idx.path
        _, adfs = self.load()
        fresh = self.queries("fresh")
        sample = self.queries("serve")[:CHECK_QUERIES]
        lat: list[float] = []
        cpu = 0.0                                  # CPU seconds of the fresh queries
        writes: list[tuple[int, float]] = []       # (turns, seconds) per commit
        i = 0
        t_end = time.perf_counter() + (seconds or 0)
        for adf, pdf in zip(adfs, self.append_pdfs):
            if (limit is not None and len(writes) >= limit) or (main and time.perf_counter() >= t_end):
                break
            ok, new, dt = self.op("index.append_index", lambda: append_index(
                self.spark, path, adf, id_col=None))
            if not ok:
                break
            writes.append((len(pdf), dt))
            idx = new
            cpu0 = tree_cpu_s()
            for q in fresh:
                ok, _, wall = self.main_op("fresh", idx, [q], i, main)
                i += 1
                if ok and main:
                    lat.append(1000 * wall)
            cpu += tree_cpu_s() - cpu0
        n_app = len(writes)
        ratio = self.bytes_ratio(path, n_app)
        if self.trace:
            self.layer["index.append_index_s"] = median([dt for _, dt in writes])
            self.layer["index.append_turns_per_s"] = median([n / dt for n, dt in writes])
            _, self.layer["index.open_index_s"] = self.must(
                "index.open_index", lambda: open_index(self.spark, path))
            self.index_layers(path)
        self.verify(idx, sample, n_app, "after last append")
        turns = len(self.base_pdf) + sum(n for n, _ in writes)
        ok, idx, dt = self.op("index.compact_index", lambda: compact_index(self.spark, path))
        if ok:
            if self.trace:
                self.layer["index.compact_index_s"] = dt
                self.layer["index.compact_turns_per_s"] = turns / dt
            self.verify(idx, sample, n_app, "after compaction")
            writes.append((turns, dt))
        if main:
            self.e2e["op_p50_ms"] = (pct(lat, 50), len(lat))
            self.e2e["op_p90_ms"] = (pct(lat, 90), len(lat))
            self.e2e["cpu_ms_per_query"] = (1000 * cpu / max(len(lat), 1), len(lat))
            self.e2e["throughput_per_s"] = (
                sum(n for n, _ in writes) / sum(dt for _, dt in writes), len(writes))
            self.e2e["bytes_per_text_byte"] = (ratio, 1)

    # --- index, codec and telemetry layers ------------------------------------
    @staticmethod
    def table_bytes(path: str) -> dict[str, int]:
        """Parquet bytes per table over the base and every append batch."""
        out = {t: 0 for t in TABLES}
        for t in TABLES:
            for root in [os.path.join(path, t)] + glob.glob(os.path.join(path, "batches", "*", t)):
                for dirpath, _, files in os.walk(root):
                    out[t] += sum(os.path.getsize(os.path.join(dirpath, f))
                                  for f in files if f.endswith(".parquet"))
        return out

    def bytes_ratio(self, path: str, n_appends: int) -> float:
        text = sum(
            int(p["text"].str.len().sum())  # generated texts are ASCII
            for p in [self.base_pdf] + self.append_pdfs[:n_appends]
        )
        return sum(self.table_bytes(path).values()) / text

    def index_layers(self, path: str) -> None:
        """Files, bytes per table and codec rates of the index at `path`."""
        for t, n in self.table_bytes(path).items():
            self.layer[f"index.bytes.{t}"] = n
        self.layer["index.files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
        )
        if self.trace:
            self.codec_layers(path)

    def codec_layers(self, path: str) -> None:
        """Decode every block's doc-id bytes with one varint_decode (as the
        driver kernel does), then re-encode the first ENCODE_BLOCKS blocks
        one encode_doc_ids call each (as blocks are written)."""
        import pyarrow.dataset as pads

        from igd_spark import codec

        dirs = [os.path.join(path, "segments")] + sorted(
            glob.glob(os.path.join(path, "batches", "*", "segments")))
        t = pads.dataset([pads.dataset(d) for d in dirs]).to_table(columns=["n", "doc_ids"])
        n = t["n"].to_numpy().astype(np.int64)
        buf = b"".join(t["doc_ids"].to_pylist())
        rates = []
        for _ in range(3):
            with self.tr.span("codec.varint_decode"):
                t0 = time.perf_counter()
                vals = codec.varint_decode(buf)
                rates.append(vals.size / (time.perf_counter() - t0))
        self.layer["codec.decode_postings_per_s"] = median(rates)
        ends = np.cumsum(n)
        c = np.cumsum(vals.astype(np.int64))
        ids = c - np.repeat(np.concatenate(([0], c))[ends - n], n)
        blocks = np.split(ids, ends[:-1])[:ENCODE_BLOCKS]
        with self.tr.span("codec.encode_doc_ids"):
            t0 = time.perf_counter()
            for b in blocks:
                codec.encode_doc_ids(b)
            dt = time.perf_counter() - t0
        self.layer["codec.encode_postings_per_s"] = sum(b.size for b in blocks) / dt

    def telemetry_layers(self) -> None:
        """Per-layer metrics from the traced search calls."""
        L = self.layer
        single = self.traced.get("query", [])
        for prefix, recs in (("query", single), ("batch", self.traced.get("batch", []))):
            L[f"search.{prefix}_spark_jobs"] = float(np.mean([r["jobs"] for r in recs]))
            L[f"search.{prefix}_tasks"] = float(np.mean([r["tasks"] for r in recs]))
            L[f"search.{prefix}_driver_route_frac"] = float(
                np.mean(["route_ms" in r["tel"] for r in recs]))
        recs = single
        drv = [r for r in recs if "lookup_ms" in r["tel"]]
        for key in ("lookup_ms", "read_decode_ms", "score_ms"):
            vals = [r["tel"][key] for r in drv]
            L[f"local.{key}_p50"] = pct(vals, 50)
            L[f"local.{key}_p99"] = pct(vals, 99)
        L["local.admission_ms"] = median([
            r["tel"]["route_ms"] - sum(r["tel"][k] for k in ("lookup_ms", "read_decode_ms", "score_ms"))
            for r in drv])
        L["local.frame_ms"] = median([r["wall_ms"] - r["tel"]["route_ms"]
                                      for r in recs if "route_ms" in r["tel"]])
        cached = sum(r["tel"].get("terms_cached", 0) for r in drv)
        read = sum(r["tel"].get("terms_read", 0) for r in drv)
        L["local.list_cache_hit_ratio"] = cached / (cached + read) if cached + read else 0.0
        L["local.postings_scored"] = median([r["tel"]["postings_scored"] for r in drv])
        brecs = self.traced.get("batch", [])
        L["search.prologue_ms"] = median([r["tel"].get("prologue_ms", 0.0) for r in brecs])
        L["search.exec_s"] = median([(r["wall_ms"] - r["tel"].get("prologue_ms", 0.0)) / 1000
                                     for r in brecs])
        for key in ("n_buckets", "n_terms", "n_shards_probed"):
            L[f"search.{key}"] = median([r["tel"].get(key, 0) for r in brecs])
        L["search.scan_pruned"] = float(np.mean([bool(r["tel"].get("scan_pruned")) for r in brecs])) if brecs else 0.0

    def trace_layers(self, spans_path: str) -> None:
        self.telemetry_layers()
        for layer, s in self.tr.self_seconds().items():
            self.layer[f"self_s.{layer}"] = s
        self.layer["trace.spans"] = len(self.tr.spans)
        self.layer["trace.overhead_ms"] = (
            median(self.overhead["traced"]) - median(self.overhead["bare"]))
        self.tr.dump(spans_path)
