"""Every scoring formula of the engine: BM25 (the flagship scorer) and the
alternative similarities, each written ONCE.

BM25 (fixed k1/b per BASELINE.json north_star; identical in oracle.py and
in the DuckDB oracle SQL):
    idf(t)      = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
    w(t, d)     = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl_d / avgdl))
    score(q, d) = Σ_{t ∈ distinct terms of q} w(t, d)
Ties broken (score desc, doc_id asc) — required for rank identity (Q11 analog:
the reference returns all counts, top-k is the graft addition, SURVEY §2 Q11).

The alternative similarities (`SIMILARITIES`: TF-IDF, LM Jelinek-Mercer,
LM Dirichlet, DFI, DFR-PL2, IB-LL, Axiomatic F2EXP/F2LOG, BM25+/BM25L) are
per-posting weights in plain arithmetic over tf, dl, the term's df and cf
and the corpus scalars (`SimStats`). The few other operations come from an
engine namespace (`Ops`): `SPARK_OPS` builds the Catalyst expression of the
distributed plans (querylang._sim_scored), `NUMPY_OPS` evaluates the same
expression over one decoded posting list in the driver kernel
(LocalSearcher.sim_weigher). Both engines therefore run one expression with
one grouping of operations, and 6-dp rounding never straddles them. Every
log2 is written ln·_INV_LN2 with one shared literal (as in the DuckDB
oracle SQL), so no engine-specific log2 enters either.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


class Ops(NamedTuple):
    """The non-arithmetic operations a similarity weight needs."""

    log: Callable  # natural log
    sqrt: Callable
    pos: Callable  # max(0, x)
    where: Callable  # where(cond, a, b)


SPARK_OPS = Ops(
    F.log,
    F.sqrt,
    lambda x: F.greatest(F.lit(0.0), x),
    lambda c, a, b: F.when(c, a).otherwise(b),
)
NUMPY_OPS = Ops(np.log, np.sqrt, lambda x: np.maximum(0.0, x), np.where)


def bm25_idf(o: Ops, n_docs, df):
    """BM25's idf under the engine namespace ``o``."""
    return o.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def idf_col(n_docs: Column | int, df: Column | str = "df") -> Column:
    n = F.lit(n_docs) if isinstance(n_docs, int) else n_docs
    d = F.col(df) if isinstance(df, str) else df
    return bm25_idf(SPARK_OPS, n, d)


def bm25_weight_col(
    idf: Column,
    tf: Column | str,
    dl: Column | str,
    avgdl: Column | float,
    k1: float = 1.2,
    b: float = 0.75,
) -> Column:
    tfc = F.col(tf) if isinstance(tf, str) else tf
    dlc = F.col(dl) if isinstance(dl, str) else dl
    a = F.lit(avgdl) if isinstance(avgdl, float) else avgdl
    denom = tfc + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dlc / a)
    return idf * tfc * F.lit(k1 + 1.0) / denom


# 1/ln2 and 2π as shared double literals (the DuckDB oracle SQL uses the
# same two).
_INV_LN2 = 1.4426950408889634
_TWO_PI = 6.283185307179586
# Axiomatic s: the length-normalization constant shared by F2EXP and F2LOG
# (Fang & Zhai 2005 fix s=0.5; Lucene's AxiomaticF2EXP/F2LOG default).
# Fixed rather than a parameter so the one scalar slot carries F2EXP's k.
_AX_S = 0.5
# Paper defaults (Lv & Zhai 2011): BM25+ delta = 1.0, BM25L delta = 0.5
_BM25_VARIANT_DELTA = {"plus": 1.0, "l": 0.5}


class SimStats(NamedTuple):
    """The corpus scalars a similarity weight reads."""

    n_docs: int
    avgdl: float
    sum_dl: int  # total corpus tokens
    k1: float
    b: float


# Each weight is w(o, tf, dl, df, cf, st, p): o an `Ops`, tf/dl a posting
# list's term and document lengths, df/cf the term's document and
# collection frequency over its complete (tombstone-filtered) list, st the
# `SimStats`, p the model's one scalar parameter.


def _tfidf(o, tf, dl, df, cf, st, p):
    """Lucene ClassicSimilarity post-7.0 (no coord, no queryNorm; neither
    affects ranking): sqrt(tf)·idf²/sqrt(dl), idf = 1 + ln(N/(df+1))."""
    idf = 1.0 + o.log(float(st.n_docs) / (df + 1.0))
    return o.sqrt(tf) * idf * idf / o.sqrt(dl)


def _lm_jm(o, tf, dl, df, cf, st, lam):
    """Lucene LMJelinekMercerSimilarity: ln(1 + ((1-λ)·tf/dl)/(λ·cf/total))
    — always positive for tf > 0, no clamp needed."""
    return o.log(1.0 + ((1.0 - lam) * tf / dl) / (lam * (cf / float(st.sum_dl))))


def _lm_dir(o, tf, dl, df, cf, st, mu):
    """Zhai-Lafferty Dirichlet-prior smoothing with Lucene's non-negative
    clamp: max(0, ln(1 + tf/(μ·cf/total)) + ln(μ/(dl+μ))). Clamping per
    TERM keeps the sum order-independent."""
    pc = cf / float(st.sum_dl)
    return o.pos(o.log(1.0 + tf / (mu * pc)) + o.log(mu / (dl + mu)))


def _dfi(o, tf, dl, df, cf, st, p):
    """Lucene DFISimilarity, standardized independence (Kocabaş, Dinçer &
    Karaoğlan 2014): e = (cf+1)·dl/(total+1) is the expected tf under
    term-document independence (Lucene's +1-smoothed expectation); the
    weight is log2(1 + (tf−e)/√e) when tf > e, else 0 — terms no more
    frequent than chance contribute nothing, which doubles as the
    non-negativity clamp that keeps the sum order-independent."""
    e = (cf + 1.0) * dl / float(st.sum_dl + 1)
    return o.where(tf > e, _INV_LN2 * o.log(1.0 + (tf - e) / o.sqrt(e)), 0.0)


def _h2_tfn(o, tf, dl, st, c):
    """DFR/IB normalization H2: tfn = tf·log2(1 + c·avgdl/dl) — the
    within-document frequency normalized to a document of average length
    (Amati & van Rijsbergen 2002). c·avgdl folds to one double."""
    return tf * _INV_LN2 * o.log(1.0 + (c * st.avgdl) / dl)


def _pl2(o, tf, dl, df, cf, st, c):
    """DFR-PL2 (Poisson basic model, Laplace after-effect, H2 — the Terrier
    default): λ = cf/N, weight (tfn·log2(tfn/λ) + (λ−tfn)·log2(e) +
    ½·log2(2π·tfn)) / (tfn+1), clamped at 0 per TERM (a term as dense in
    the collection as in the document carries no information)."""
    tfn = _h2_tfn(o, tf, dl, st, c)
    lam = cf / float(st.n_docs)
    return o.pos(
        _INV_LN2
        * (tfn * o.log(tfn / lam) + (lam - tfn) + 0.5 * o.log(_TWO_PI * tfn))
        / (tfn + 1.0)
    )


def _ib_ll(o, tf, dl, df, cf, st, c):
    """Lucene IBSimilarity, log-logistic, λ from df, H2 (Clinchant &
    Gaussier 2010): λ = (df+1)/(N+1), weight −log2(λ/(λ+tfn)) =
    log2(1 + tfn/λ), always ≥ 0 for tf ≥ 1."""
    lam = (df + 1.0) / float(st.n_docs + 1)
    return _INV_LN2 * o.log(1.0 + _h2_tfn(o, tf, dl, st, c) / lam)


def _ax_tf(tf, dl, st):
    """The F2 primitive weighting tf/(tf + s + s·dl/avgdl): saturating in
    tf, linear length penalty (Fang & Zhai 2005)."""
    return tf / (tf + _AX_S + _AX_S * dl / st.avgdl)


def _ax_f2exp(o, tf, dl, df, cf, st, k):
    """Lucene AxiomaticF2EXP: growth ((N+1)/df)^k (k=0.35 standard)."""
    return _ax_tf(tf, dl, st) * (float(st.n_docs + 1) / df) ** k


def _ax_f2log(o, tf, dl, df, cf, st, p):
    """Lucene AxiomaticF2LOG: growth ln((N+1)/df)."""
    return _ax_tf(tf, dl, st) * o.log(float(st.n_docs + 1) / df)


def bm25_saturation(tf, dl, avgdl, k1, b):
    """BM25's per-posting weight before idf, tf·(k1+1)/(tf + k1·(1−b+b·dl/
    avgdl)), in numpy: the one copy behind the packer's stored block bounds,
    the MaxScore kernel's loose bounds and weights and the driver kernel's
    weights, so a stored bound and a scored weight round identically."""
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _bm25_tfn(tf, dl, st):
    """tf/(1−b+b·dl/avgdl): the length-normalized tf that the classic BM25
    denominator factors out."""
    return tf / ((1.0 - st.b) + st.b * dl / st.avgdl)


def _bm25_plus(o, tf, dl, df, cf, st, delta):
    """BM25+ (Lv & Zhai 2011): idf·((k1+1)·tfn/(k1+tfn) + δ) — δ floors
    every match, so one match in a long document outscores none."""
    tfn = _bm25_tfn(tf, dl, st)
    return bm25_idf(o, st.n_docs, df) * ((st.k1 + 1.0) * tfn / (st.k1 + tfn) + delta)


def _bm25_l(o, tf, dl, df, cf, st, delta):
    """BM25L (Lv & Zhai 2011): idf·(k1+1)·(tfn+δ)/(k1+tfn+δ) — δ shifts
    the saturation."""
    tfn = _bm25_tfn(tf, dl, st)
    return bm25_idf(o, st.n_docs, df) * (
        (st.k1 + 1.0) * (tfn + delta) / (st.k1 + tfn + delta)
    )


def _check_lambda(lam: float) -> None:
    if not (0.0 < lam < 1.0):
        raise ValueError(f"lambda must be in (0, 1), got {lam}")


def _check_h2_c(c: float) -> None:
    # a non-positive c makes tfn ≤ 0 and every log NaN: NaN-scored rows
    # would sort to the bottom on some engines and the top on others
    if not c > 0.0:
        raise ValueError(f"H2 normalization c must be > 0, got {c}")


def _check_delta(delta: float) -> None:
    if not delta >= 0.0:
        raise ValueError(f"delta must be >= 0, got {delta}")


class Similarity(NamedTuple):
    weight: Callable
    check: Callable[[float], None] | None = None
    sum_dl: bool = False  # reads the exact total token count
    driver: bool = True  # LocalSearcher.sim_weigher serves it


SIMILARITIES = {
    "tfidf": Similarity(_tfidf),
    "lm_jm": Similarity(_lm_jm, _check_lambda, sum_dl=True),
    "dfi": Similarity(_dfi, sum_dl=True),
    "pl2": Similarity(_pl2, _check_h2_c),
    "ib_ll": Similarity(_ib_ll, _check_h2_c),
    "ax_f2exp": Similarity(_ax_f2exp),
    "ax_f2log": Similarity(_ax_f2log),
    "bm25_plus": Similarity(_bm25_plus, _check_delta),
    "bm25_l": Similarity(_bm25_l, _check_delta),
    "lm_dir": Similarity(_lm_dir, sum_dl=True, driver=False),
}
_VARIANTS = {"ax": ("f2exp", "f2log"), "bm25": tuple(_BM25_VARIANT_DELTA)}


def similarity(model: str, p: float, driver: bool = False) -> Similarity:
    """``model``'s table entry after its parameter check — the one
    validation of every engine (``driver``: the driver kernel's models)."""
    sim = SIMILARITIES.get(model)
    if sim is None or (driver and not sim.driver):
        names = "|".join(m for m, s in SIMILARITIES.items() if s.driver)
        raise ValueError(f"model must be {names}, got {model!r}")
    if sim.check is not None:
        sim.check(p)
    return sim


def variant_model(family: str, variant: str) -> str:
    """The model name of an axiomatic ("ax") or BM25 ("bm25") variant."""
    names = _VARIANTS[family]
    if variant not in names:
        raise ValueError(f"variant must be {'|'.join(names)}, got {variant!r}")
    return f"{family}_{variant}"


def index_sim_stats(meta: dict, conf, model: str) -> SimStats:
    """A persisted index's `SimStats` from its frozen metadata and its
    conf — the one source of both engines' index-side statistics."""
    c = meta["corpus"]
    st = SimStats(
        int(c["n_docs"]), float(c["avgdl"]), int(c.get("sum_dl", 0)),
        conf.k1, conf.b,
    )
    if SIMILARITIES[model].sum_dl and st.sum_dl <= 0:
        raise ValueError(
            "index metadata lacks exact sum_dl (pre-v2 layout?) — rebuild "
            "or use the corpus-scan scorer"
        )
    return st
