"""Correctness check against the pure-Python BM25 oracle (igd_spark.oracle).

The oracle indexes the benchmark's own generated texts. Doc ids are the
program's naming of (conv_id, turn_idx), taken once per run from
`assign_doc_ids` and checked to be collision-free; the ranking and scores are
then checked independently of the engine.
"""

from __future__ import annotations

import pandas as pd

from igd_spark import oracle

TOL = 1e-9


def doc_id_map(spark, conf, frames: list[pd.DataFrame]) -> dict[tuple[str, int], int]:
    """(conv_id, turn_idx) -> doc_id as the program assigns it."""
    from igd_spark.corpus import assign_doc_ids

    keys = pd.concat([f[["conv_id", "turn_idx"]] for f in frames], ignore_index=True)
    sdf = spark.createDataFrame(keys, "conv_id string, turn_idx int")
    ids = assign_doc_ids(sdf, conf).toPandas()
    out = dict(zip(zip(ids["conv_id"], ids["turn_idx"].astype(int)), ids["doc_id"].astype(int)))
    if len(out) != len(keys) or len(set(out.values())) != len(out):
        raise RuntimeError("doc id assignment is not one-to-one on the benchmark corpus")
    return out


class Oracle:
    def __init__(self, ids: dict[tuple[str, int], int], frames: list[pd.DataFrame]):
        docs = [
            (ids[(c, int(t))], text)
            for f in frames
            for c, t, text in zip(f["conv_id"], f["turn_idx"], f["text"])
        ]
        self.index = oracle.build_oracle_index(docs)

    def mismatch(self, query_text: str, rows: list[tuple[int, int, float]], k: int) -> str | None:
        """None if the engine's (rank, doc_id, score) rows are the oracle's
        top-k, else a description. A doc may differ from the oracle's at a
        rank only when both carry the same oracle score (a tie within TOL)."""
        full = oracle.bm25_topk(self.index, query_text, k=len(self.index.dl))
        exp = full[:k]
        got = sorted(rows)
        if len(got) != len(exp):
            return f"{len(got)} rows, oracle has {len(exp)}"
        score_of = dict(full)
        for r, ((rank, doc, score), (edoc, escore)) in enumerate(zip(got, exp), 1):
            if rank != r:
                return f"ranks are not 1..{len(exp)}"
            if abs(score - escore) > TOL:
                return f"rank {r}: score {score!r}, oracle {escore!r}"
            if doc != edoc and abs(score_of.get(doc, float("inf")) - escore) > TOL:
                return f"rank {r}: doc {doc}, oracle doc {edoc}"
        return None


def check_results(orc: Oracle, texts: dict[int, str], results: dict[int, list], k: int, where: str) -> list[str]:
    """Problems found for the sampled queries `texts` (empty list = all
    correct); a query absent from `results` returned no rows."""
    problems = []
    for qid in sorted(texts):
        why = orc.mismatch(texts[qid], results.get(qid, []), k)
        if why:
            problems.append(f"{where}: query {qid} ({texts[qid]!r}): {why}")
    return problems


def rows_by_query(rows) -> dict[int, list[tuple[int, int, float]]]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    return out
