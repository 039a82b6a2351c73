"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints exactly ONE JSON line to stdout.

Covers the graft's two authoritative metrics (BASELINE.json): index-build
throughput (turns/sec) and BM25 query throughput (qps, top-10) over a
deterministic synthetic transcript corpus sized to the scale factor, plus
the training-data pipeline headliners over the driver's documents/embeddings
tables. Used by scripts/scaling_bench.py at two parallelism levels for the
N→4N scaling-efficiency evidence.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 500k convs/sf → sf0.1 ≈ 50k convs ≈ 400k turns (FIXTURES.md bench scale)
CONVS_PER_SF = 500_000
# scaling runs override corpus size (longer CPU-bound runs average out the
# sandbox VM's bursty CPU allocation) and skip the non-headline entries
CONVS_OVERRIDE = int(os.environ.get("IGD_BENCH_CONVS", "0"))
HEADLINE_ONLY = os.environ.get("IGD_BENCH_HEADLINE_ONLY", "") == "1"
N_BENCH_QUERIES = 100
N_BIG_QUERIES = 1000


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def make_query_set(n: int = N_BENCH_QUERIES, seed: int = 42, n_terms: int = 10_000):
    """FIXTURES.md §2 mix: ~60% mid-frequency, 20% hot, 10% rare, 10% with an
    OOV term; 1-5 terms per query."""
    rng = np.random.default_rng(seed)
    out = []
    for qid in range(n):
        k = int(rng.integers(1, 6))
        r = rng.random()
        if r < 0.6:
            ids = rng.integers(50, 2000, size=k)
        elif r < 0.8:
            ids = rng.integers(0, 50, size=k)
        elif r < 0.9:
            ids = rng.integers(9000, n_terms, size=k)
        else:
            ids = rng.integers(50, 2000, size=k)
        terms = [f"t{int(i):05d}" for i in ids]
        if r >= 0.9:
            terms[0] = "zzoovterm"
        if qid % 10 == 0:
            terms[-1] = ["error", "timeout", "deploy"][qid % 3]
        out.append((qid, " ".join(terms)))
    return out


def bench_corpus_path(sf: float) -> str:
    tag = f"_c{CONVS_OVERRIDE}" if CONVS_OVERRIDE else ""
    return os.path.join(tempfile.gettempdir(), f"igd_bench_corpus_sf{sf}{tag}")


def materialize_corpus(spark, sf: float) -> tuple[str, int]:
    """Deterministic transcript corpus written once per sf to a temp parquet
    (reused across parallelism levels so scaling runs see identical input)."""
    from igd_spark.corpus import synth_transcripts_distributed

    path = bench_corpus_path(sf)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        n_convs = CONVS_OVERRIDE or max(int(CONVS_PER_SF * sf), 200)
        log(f"materializing corpus: {n_convs} convs → {path}")
        # partitions pinned (NOT a function of CPUS): the per-partition seed
        # scheme means the partition count determines content; scaling runs
        # at different parallelism must read byte-identical input
        df = synth_transcripts_distributed(spark, n_convs=n_convs, seed=42, partitions=64)
        df.write.mode("overwrite").parquet(path)
    spark_df = spark.read.parquet(path)
    return path, spark_df.count()


def main() -> None:
    t_all = time.perf_counter()
    from pyspark.sql import functions as F

    from igd_spark import IndexConf, build_index, search
    from igd_spark.session import get_spark

    sf = _sf_from_dir(SF_DIR)
    # shuffle partitions and shard count pinned (NOT a function of CPUS):
    # the N vs 4N scaling runs must execute the identical logical+physical
    # plan, differing only in task slots — like a real cluster resize
    spark = get_spark(cores=CPUS, app=f"igd_bench_sf{sf}", shuffle_partitions=64)
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    # --- transcript corpus (not timed: fixture materialization) -------------
    corpus_path, n_turns = materialize_corpus(spark, sf)
    docs = spark.read.parquet(corpus_path)
    conf = IndexConf(block_size=128, n_shards=32, salt_df_threshold=65_536)

    # --- index build (turns/sec) --------------------------------------------
    from igd_spark.corpus import assign_doc_ids

    with_ids = assign_doc_ids(docs, IndexConf(doc_id_method="hash"))
    # warm-up build on a small slice: first-build JIT + Python-worker spinup
    # costs 2-3x and is not steady-state throughput
    warm_path = tempfile.mkdtemp(prefix="igd_bench_warm_") + "/idx"
    build_index(spark, with_ids.limit(20_000), warm_path, conf=conf)
    shutil.rmtree(os.path.dirname(warm_path), ignore_errors=True)

    # best-of-2 full builds: the headline metric whipsawed 2-3x between
    # identical single-shot runs (VM noise protocol, BENCH.md) — the
    # recorded number must reflect the code, not the contention window
    runs = []
    idx = None
    for _ in range(2):
        idx_path = tempfile.mkdtemp(prefix="igd_bench_idx_") + "/idx"
        if idx is not None:
            shutil.rmtree(os.path.dirname(idx.path), ignore_errors=True)
        t0 = time.perf_counter()
        idx = build_index(spark, with_ids, idx_path, conf=conf)
        runs.append(time.perf_counter() - t0)
    timings["index_build"] = min(runs)
    extra["build_turns_per_sec"] = n_turns / timings["index_build"]
    log(f"built index over {n_turns} turns; runs={[round(r,1) for r in runs]}")

    # --- BM25 search, reference query set (qps) -----------------------------
    # one warm-up pass (plan compilation, dictionary cache fill), then three
    # timed passes, best taken — the sandbox VM has bursty neighbor noise and
    # throughput capability is the steady-state minimum
    # engine: the user-facing bench measures what search() actually does
    # (auto-routes small batches to the driver kernel); SCALING runs pin the
    # distributed plan — the N→4N claim is about the cluster path, and at
    # the 10^12-turn target the postings-budget admission rule would route
    # these hot Zipf batches to the cluster anyway (df ~10^9 per hot term),
    # so pinning reproduces the at-scale routing decision at sandbox scale.
    bench_engine = "spark" if HEADLINE_ONLY else "auto"
    queries = spark.createDataFrame(make_query_set(), "query_id long, query_text string")
    n_res = search(spark, idx, queries, k=10, engine=bench_engine).count()
    runs = []
    tel: dict = {}
    for _ in range(3):
        tel = {}
        t0 = time.perf_counter()
        search(spark, idx, queries, k=10, telemetry=tel, engine=bench_engine).count()
        runs.append(time.perf_counter() - t0)
    timings["bm25_search_100q"] = min(runs)
    extra["search_qps"] = N_BENCH_QUERIES / timings["bm25_search_100q"]
    # latency attribution (r4 ask #7): which engine served the batch and
    # where its time went — published so the small-batch-floor story stays
    # evidence-backed
    extra["search_100q_engine"] = tel.get("engine", "?")
    for key in ("lookup_ms", "read_decode_ms", "score_ms", "route_ms", "prologue_ms"):
        if key in tel:
            extra[f"search_100q_{key}"] = round(float(tel[key]), 1)
    log(f"searched {N_BENCH_QUERIES} queries → {n_res} rows; "
        f"runs={[round(r,2) for r in runs]}; telemetry={tel}")

    # --- 10× batch: throughput-at-scale measurement for scaling efficiency
    big = spark.createDataFrame(
        make_query_set(N_BIG_QUERIES), "query_id long, query_text string"
    )
    # best-of-4: the closing-tranche A/B measured 90/113/107/158 qps on
    # identical back-to-back runs (same session, same index, same plan) —
    # two samples under-sample that noise floor and have recorded
    # below-band numbers for unchanged code
    runs = []
    btel: dict = {}
    for _ in range(4):
        btel = {}
        t0 = time.perf_counter()
        search(spark, idx, big, k=10, telemetry=btel, engine=bench_engine).count()
        runs.append(time.perf_counter() - t0)
    timings["bm25_search_1000q"] = min(runs)
    extra["search_qps_1000q"] = N_BIG_QUERIES / timings["bm25_search_1000q"]
    extra["search_1000q_engine"] = btel.get("engine", "?")
    log(f"1000-query batch: runs={[round(r,2) for r in runs]}; engine={btel.get('engine')}")

    # --- 100× batch (opt-in, scaling runs): throughput with the fixed
    # per-batch cost amortized.  The 1000q wall at K executors fits
    # T(K) = f + p/K with f ≈ 5 s of parallelism-independent driver floor
    # (64% of the 8-executor wall at sf0.1) — a BATCH cost, independent of
    # query count, so the N→4N ratio of the 1000q number measures the
    # floor as much as the plan.  At the 10^12-turn target a throughput
    # claim is steady-state (the floor amortizes over minutes-long
    # batches); a 10k-query batch reproduces that regime at sandbox scale.
    if os.environ.get("IGD_BENCH_BIGQ", "") == "1":
        n_10k = 10 * N_BIG_QUERIES
        big10 = spark.createDataFrame(
            make_query_set(n_10k, seed=43), "query_id long, query_text string"
        )
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            search(spark, idx, big10, k=10, engine=bench_engine).count()
            runs.append(time.perf_counter() - t0)
        timings["bm25_search_10kq"] = min(runs)
        extra["search_qps_10kq"] = n_10k / timings["bm25_search_10kq"]
        log(f"10k-query batch: runs={[round(r,2) for r in runs]}")

    if HEADLINE_ONLY:
        _emit(timings, extra, sf, n_turns, t_all)
        return

    # --- driver-native query input (the reference's query-FILE shape) -------
    # same 100 queries passed as a python list: the driver route skips the
    # RDD-collect job entirely (search.py _as_local_rows) — this is the
    # latency a user holding a query file actually sees
    qlist = make_query_set()
    search(spark, idx, qlist, k=10).count()  # warm
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        search(spark, idx, qlist, k=10).count()
        runs.append(time.perf_counter() - t0)
    extra["search_qps_localq"] = N_BENCH_QUERIES / min(runs)
    log(f"100q local-input: runs={[round(r,2) for r in runs]}; "
        f"qps={extra['search_qps_localq']:.0f}")

    # --- single-query latency (driver-side path, igd_spark.local) ----------
    from igd_spark.local import local_searcher

    ls = local_searcher(idx)
    ls.search_one("error timeout deploy", k=10)  # warm dictionary cache
    lat = []
    for qid, qtext in make_query_set(24, seed=7):
        t0 = time.perf_counter()
        ls.search_one(qtext, k=10)
        lat.append(time.perf_counter() - t0)
    lat.sort()
    extra["search_one_p50_ms"] = 1000.0 * lat[len(lat) // 2]
    # second pass over the SAME queries: every posting list now sits in the
    # decoded-list LRU (r4 ask #5) — the repeated-term/warm-handle latency
    warm = []
    for qid, qtext in make_query_set(24, seed=7):
        t0 = time.perf_counter()
        ls.search_one(qtext, k=10)
        warm.append(time.perf_counter() - t0)
    warm.sort()
    extra["search_one_warm_p50_ms"] = 1000.0 * warm[len(warm) // 2]
    log(f"search_one driver path: cold p50 {extra['search_one_p50_ms']:.1f} ms "
        f"(min {1000*lat[0]:.1f}, max {1000*lat[-1]:.1f}); "
        f"warm p50 {extra['search_one_warm_p50_ms']:.2f} ms")

    # --- driver-table headliners --------------------------------------------
    import __spark_entry__ as em

    for name in (
        "bm25_topk",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "text_stats",
        "lang_id",
        "embedding_cosine_topk",
        "simhash_sketch",
        "corpus_curate",
        "events_sessionize",
        "media_features",
        "phrase_match",
        "phrase_match_indexed",
        "bool_bm25_topk_indexed",
        "near_match_indexed",
        "dedup_clusters",
        "duplicate_spans",
        "boilerplate_clean",
        "significant_terms",
        "multi_field_bm25_topk",
        "rescore_topk",
        "rank_eval",
        "context_turns_indexed",
        "dsir_weights",
        "frequent_item_sets_agg",
    ):
        fn = em.queries()[name]
        # best-of-2 (first run doubles as warm-up): single-shot timings of
        # these second-scale entries whipsaw 5-7x with the VM's bursty CPU
        # allocation — the driver-recorded number must reflect code, not
        # the contention window it landed in
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            cnt = df.count()
            runs.append(time.perf_counter() - t0)
            # entries that return persisted frames (the dedup family) must
            # not serve run 2 from run 1's cache — that recorded a cache
            # read, not the operator — nor leak storage into later entries
            df.unpersist(blocking=True)
        timings[name] = min(runs)
        log(f"{name}: {cnt} rows, runs={[round(r, 2) for r in runs]}")

    # --- r5 driver routes: proximity/bool in-process latency + A/B ----------
    # phrase_match_indexed above now measures the DEFAULT path (auto →
    # driver route); the A/B below pins the distributed positional plan so
    # the r4 double-collect regression attribution stays measurable.
    idx_g = em._built_index(spark, SF_DIR)
    from igd_spark import phrase_match_indexed as _pmi

    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        _pmi(spark, idx_g, em._phrases_df(spark), engine="spark").count()
        runs.append(time.perf_counter() - t0)
    extra["phrase_indexed_spark_sec"] = min(runs)
    lsg = local_searcher(idx_g)
    ph_rows = [(int(q), t) for q, t in em.PHRASES]
    lsg.phrase_n(ph_rows)  # warm the positional LRU
    plat = []
    for row in ph_rows:
        t0 = time.perf_counter()
        lsg.phrase_n([row])
        plat.append(time.perf_counter() - t0)
    plat.sort()
    extra["phrase_warm_p50_ms"] = 1000.0 * plat[len(plat) // 2]
    bool_rows = [(int(q), t, e) for q, t, e in em.BOOL_QUERY_SET]

    def bool_batch():  # the bool_bm25_topk_indexed driver kernel
        per_q = lsg.term_sets(bool_rows, analyzed=True)
        per_ex = lsg.term_sets([(q, e) for q, _, e in bool_rows])
        lsg.score_n(per_q, 10, round_dp=6, and_not=per_ex)

    bool_batch()  # warm
    t0 = time.perf_counter()
    bool_batch()
    extra["bool_warm_batch_ms"] = 1000.0 * (time.perf_counter() - t0)
    # search-as-you-type: per-keystroke phrase-prefix latency, warm route
    pp_rows = [(int(q), t) for q, t in em.PHRASE_PREFIX_SET]
    lsg.phrase_prefix_n(pp_rows, em.MAX_PHRASE_EXPANSIONS)  # warm caches
    pplat = []
    for row in pp_rows:
        t0 = time.perf_counter()
        lsg.phrase_prefix_n([row], em.MAX_PHRASE_EXPANSIONS)
        pplat.append(time.perf_counter() - t0)
    pplat.sort()
    extra["phrase_prefix_warm_p50_ms"] = 1000.0 * pplat[len(pplat) // 2]
    log(f"phrase_indexed spark A/B {extra['phrase_indexed_spark_sec']:.2f}s; "
        f"phrase warm p50 {extra['phrase_warm_p50_ms']:.2f} ms; "
        f"bool warm batch {extra['bool_warm_batch_ms']:.2f} ms; "
        f"phrase-prefix warm p50 {extra['phrase_prefix_warm_p50_ms']:.2f} ms")

    # --- compiled percolator: steady-state per-batch cost --------------------
    # 4 successive micro-batches against a compiled standing set — the
    # number that must stay flat across batches (queryparse.CompiledQueries)
    from igd_spark import compile_percolator, percolate

    comp = compile_percolator(spark, em.PARSED_QUERY_SET)
    pdocs = em._docs(spark, SF_DIR)
    batches = [pdocs.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    per_batch = []
    for bdf in batches:
        t0 = time.perf_counter()
        percolate(bdf, comp, round_dp=6).count()
        per_batch.append(round(time.perf_counter() - t0, 3))
    comp.unpersist()
    extra["percolate_batch_secs"] = per_batch
    timings["percolate_compiled_batch"] = per_batch[-1]
    log(f"compiled percolate per-batch secs: {per_batch}")

    # --- arrow GEMM ANN over embeddings --------------------------------------
    from igd_spark import cosine_topk_arrow

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qrows = emb.orderBy("vec_id").limit(16).collect()
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    t0 = time.perf_counter()
    cosine_topk_arrow(spark, emb, qmat, qids, k=10).count()
    timings["embedding_topk_arrow"] = time.perf_counter() - t0

    shutil.rmtree(os.path.dirname(idx_path), ignore_errors=True)
    _emit(timings, extra, sf, n_turns, t_all)


def _emit(timings: dict, extra: dict, sf: float, n_turns: int, t_all: float) -> None:
    out = {
        "metric": "suite_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "cpus": CPUS,
        "n_turns": n_turns,
        "build_turns_per_sec": round(extra["build_turns_per_sec"], 1),
        "search_qps": round(extra["search_qps"], 2),
        "search_qps_localq": round(extra.get("search_qps_localq", 0.0), 2),
        "search_qps_1000q": round(extra.get("search_qps_1000q", 0.0), 2),
        "search_qps_10kq": round(extra.get("search_qps_10kq", 0.0), 2),
        "search_one_p50_ms": round(extra.get("search_one_p50_ms", 0.0), 1),
        "search_one_warm_p50_ms": round(extra.get("search_one_warm_p50_ms", 0.0), 2),
        "phrase_indexed_spark_sec": round(extra.get("phrase_indexed_spark_sec", 0.0), 3),
        "phrase_warm_p50_ms": round(extra.get("phrase_warm_p50_ms", 0.0), 2),
        "phrase_prefix_warm_p50_ms": round(
            extra.get("phrase_prefix_warm_p50_ms", 0.0), 2
        ),
        "bool_warm_batch_ms": round(extra.get("bool_warm_batch_ms", 0.0), 2),
        "percolate_batch_secs": extra.get("percolate_batch_secs", []),
        "search_100q_engine": extra.get("search_100q_engine", "?"),
        "search_1000q_engine": extra.get("search_1000q_engine", "?"),
        "search_100q_breakdown_ms": {
            k.replace("search_100q_", "").replace("_ms", ""): v
            for k, v in extra.items()
            if k.startswith("search_100q_") and k.endswith("_ms")
        },
        "wall_secs": round(time.perf_counter() - t_all, 3),
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
