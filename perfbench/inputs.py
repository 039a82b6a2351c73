"""Seeded transcript corpus and query sets for the benchmark.

Everything here depends only on the seed and the size constants below, never
on the package under test, so a change to the program cannot change its own
inputs. Generated parquet is cached under the run-state directory, keyed by
(generator version, seed, sizes), so generation stays out of every timed
region and out of repeated runs with the same seed.

Corpus shape (one row per conversation turn): conv_id, turn_idx, role, text,
tool, ts. Text is 5-120 tokens drawn from a Zipf(s=1.2) vocabulary of 10 000
terms, about 1 % of turns are empty, and the probe terms `error`, `timeout`
and `deploy` are injected at fixed positions.

Query mix: 1-5 terms (each count on a fifth of each class's queries); 60 %
mid-frequency, 20 % hot, 10 % rare and 10 % with one out-of-vocabulary term;
each class's terms spread evenly over its Zipf-rank range.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

GEN_VERSION = 3
VOCAB_SIZE = 10_000
ZIPF_S = 1.2
MIN_TOKENS, MAX_TOKENS = 5, 120
MIN_TURNS, MAX_TURNS = 2, 12
EMPTY_TURN_P = 0.01
PROBES = ("error", "timeout", "deploy")
ROLES = ("user", "assistant", "tool")
TOOLS = tuple(f"tool{i}" for i in range(10))

# corpus sizes (conversations); ~7 turns per conversation on average
BASE_CONVS = 1_000
APPEND_CONVS = 150
N_APPENDS = 4

# Zipf-rank ranges of the query classes
HOT_RANKS = (0, 50)
MID_RANKS = (50, 2_000)
RARE_RANKS = (9_000, VOCAB_SIZE)


def vocab() -> np.ndarray:
    return np.array([f"w{i:05d}" for i in range(VOCAB_SIZE)])


def _zipf_cdf() -> np.ndarray:
    pmf = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(pmf)
    return cdf / cdf[-1]


def make_conversations(rng: np.random.Generator, conv_lo: int, n_convs: int) -> pd.DataFrame:
    """n_convs conversations with ids conv_lo.. — vectorized except for the
    final per-turn string join."""
    n_turns = rng.integers(MIN_TURNS, MAX_TURNS + 1, size=n_convs)
    total = int(n_turns.sum())
    conv = np.repeat(np.arange(conv_lo, conv_lo + n_convs), n_turns)
    first = np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    turn = np.arange(total) - first
    n_tok = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=total)
    n_tok[rng.random(total) < EMPTY_TURN_P] = 0
    ids = np.searchsorted(_zipf_cdf(), rng.random(int(n_tok.sum())), side="right")
    words = vocab()[np.minimum(ids, VOCAB_SIZE - 1)].tolist()
    ends = np.cumsum(n_tok)
    starts = ends - n_tok
    texts = []
    for i in range(total):
        toks = words[starts[i]:ends[i]]
        if toks and (conv[i] + turn[i]) % 17 == 0:
            toks[turn[i] % len(toks)] = PROBES[(conv[i] + turn[i]) % 3]
        texts.append(" ".join(toks))
    tool_pick = rng.integers(0, len(TOOLS), size=total)
    has_tool = rng.random(total) >= 0.7
    base_ts = np.datetime64("2026-01-01T00:00:00", "s")
    return pd.DataFrame(
        {
            "conv_id": [f"conv{c:08d}" for c in conv],
            "turn_idx": turn.astype(np.int32),
            "role": [ROLES[t % 3] for t in turn],
            "text": texts,
            "tool": [TOOLS[p] if h else None for p, h in zip(tool_pick, has_tool)],
            "ts": base_ts + (conv * 1000 + turn).astype("timedelta64[s]"),
        }
    )


def make_queries(rng: np.random.Generator, n: int, qid0: int = 0) -> pd.DataFrame:
    """(query_id, query_text) in the hot/mid/rare/OOV mix. The class mix, the
    1-5 term counts within each class and the Zipf ranks each class draws
    (evenly spaced over its rank range) are in exact proportions; only how
    they pair up into queries, and the queries' order, are random. Sets
    drawn from different seeds thus cost alike."""
    voc = vocab()
    # class quantiles: [0, .6) mid, [.6, .8) hot, [.8, .9) rare, [.9, 1) OOV
    q = (np.arange(n) + 0.5) / n
    classes = (
        (q < 0.6, MID_RANKS, False),
        ((0.6 <= q) & (q < 0.8), HOT_RANKS, False),
        ((0.8 <= q) & (q < 0.9), RARE_RANKS, False),
        (q >= 0.9, MID_RANKS, True),
    )
    queries = []
    for mask, (lo, hi), oov in classes:
        lengths = rng.permutation(np.arange(int(mask.sum())) % 5 + 1)
        m = int(lengths.sum())
        ranks = lo + ((rng.permutation(m) + 0.5) * (hi - lo) / m).astype(np.int64)
        for terms in np.split(voc[ranks], np.cumsum(lengths)[:-1]):
            terms = terms.tolist()
            if oov:
                terms[int(rng.integers(0, len(terms)))] = "oov" + "".join(
                    rng.choice(list("abcdefghij"), size=6)
                )
            queries.append(" ".join(terms))
    order = rng.permutation(len(queries))
    return pd.DataFrame({
        "query_id": np.arange(qid0, qid0 + n, dtype=np.int64),
        "query_text": [queries[i] for i in order],
    })


class Inputs:
    """Paths of one seed's cached inputs: the base corpus, N_APPENDS append
    batches (conversation ids continue after the base) and the query sets
    named in `query_sets` (name -> number of queries)."""

    def __init__(self, cache_root: str, seed: int, query_sets: dict[str, int]):
        self.seed = seed
        self.query_sets = query_sets
        self.dir = os.path.join(
            cache_root,
            f"v{GEN_VERSION}-s{seed}-b{BASE_CONVS}-a{APPEND_CONVS}x{N_APPENDS}",
        )
        self.base = os.path.join(self.dir, "base.parquet")
        self.appends = [
            os.path.join(self.dir, f"append{i}.parquet") for i in range(N_APPENDS)
        ]

    def queries_path(self, name: str) -> str:
        return os.path.join(self.dir, f"queries_{name}-{self.query_sets[name]}.parquet")

    def ensure(self) -> None:
        """Generate whatever is missing. Each part draws from its own child
        of the seed, so sizes of one part never shift another's content."""
        os.makedirs(self.dir, exist_ok=True)
        part_ss = np.random.SeedSequence(self.seed).spawn(1 + N_APPENDS)
        _cached(self.base, lambda: make_conversations(
            np.random.default_rng(part_ss[0]), 0, BASE_CONVS))
        for i, path in enumerate(self.appends):
            lo = BASE_CONVS + i * APPEND_CONVS
            _cached(path, lambda rng=np.random.default_rng(part_ss[1 + i]), lo=lo:
                    make_conversations(rng, lo, APPEND_CONVS))
        for name, n in sorted(self.query_sets.items()):
            # the query set's name (not its position) picks its seed stream
            qss = np.random.SeedSequence([self.seed, GEN_VERSION, *name.encode()])
            _cached(self.queries_path(name),
                    lambda qss=qss, n=n: make_queries(np.random.default_rng(qss), n))


def _cached(path: str, make) -> None:
    if os.path.exists(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    make().to_parquet(tmp, index=False)
    os.replace(tmp, path)
