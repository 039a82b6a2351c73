"""Engine configuration.

Analog of the reference's create/search CLI knobs (src/igd_create.c:436-501,
src/igd_search.c:889-971): bin size `-b` → block_size, data type `-s` →
store_positions, plus the Spark-specific partitioning knobs the reference
doesn't need (it is single-process).
"""

from __future__ import annotations

import re
from dataclasses import dataclass


@dataclass(frozen=True)
class IndexConf:
    """Build/query configuration.

    block_size: postings per block — the analog of IGD's tile width ``nbp``
        (default 16384 coordinate units, src/igd_create.c:450). A block bins
        the *docID axis per term*: fixed-count rather than fixed-width because
        posting lists are dense in rank, sparse in doc_id.
    n_shards: number of term-hash range shards (analog of contigs as
        independent coordinate spaces, src/igd_base.h:70-74). Physical
        partition key of the segment table.
    salt_df_threshold: postings count above which a term is "hot" and gets
        salted across ``ceil(df / salt_df_threshold)`` sub-shards (capped at
        ``max_salts``). Replaces IGD's interval-duplication across tiles
        (src/igd_base.c:162-172): there, one record lands in many bins; here,
        one heavy term's postings land in many shards, re-merged at query
        time (the dedup analog of the first-tile-only rule,
        src/igd_search.c:496-530, is the salt-union in the scorer).
    k1, b: BM25 parameters, fixed per BASELINE.json north_star.
    batch_rows: per-task SPIMI accumulator cap — analog of ``maxCount``
        = 268,435,456 records (src/igd_base.h:37); bounds executor memory in
        the block-packing kernel.
    """

    block_size: int = 128
    n_shards: int = 32
    salt_df_threshold: int = 262_144
    max_salts: int = 16
    k1: float = 1.2
    b: float = 0.75
    batch_rows: int = 4_000_000
    # tokenizer spec shared with the oracle (FIXTURES.md §5): lowercase,
    # split on non-alphanumeric runs, drop empties; the analyzer fields
    # below optionally filter the resulting token stream (no stemming).
    token_split_re: str = r"[^a-z0-9]+"
    # analyzer options (the Lucene analysis-chain surface, term layer only):
    # stopwords are removed AFTER tokenization from postings/tf/dl and
    # therefore never enter the index; min_token_len drops shorter tokens.
    # Positions (the phrase/NEAR stream) deliberately keep the RAW token
    # stream — phrase semantics stay literal, independent of the analyzer.
    stopwords: tuple[str, ...] = ()
    min_token_len: int = 1
    # persist the positional sibling of the segment table at build time
    # (the gType axis-layout choice made at create time, src/igd_base.c:408-409,
    # dispatch src/igd_create.c:490-497): phrase queries then run against
    # position blocks with the same shard/term pruning as search, instead
    # of re-tokenizing the raw corpus per call. Costs one extra shuffle at
    # build (occurrence-level) and ~|occurrences| varint bytes of storage.
    store_positions: bool = False
    # B8 input-bounds guard (the s>=e / out-of-range record drop at insert,
    # src/igd_create.c:188 analog): documents whose text exceeds this many
    # CHARACTERS are dropped at build/append time — one absurd 100 MB turn
    # otherwise inflates a block row and skews dl stats. Dropped counts are
    # recorded in the build lineage and meta (never silent). 0 disables.
    max_text_chars: int = 1_048_576
    # doc id assignment: "hash" (default — stateless full-63-bit
    # xxhash64(conv_id, turn_idx); no global sort, append-safe, the
    # 10^12-turn scale path, SURVEY §7.3c) or "dense" (exact global rank
    # via distributed range sort; compact ids, batch/test mode).
    doc_id_method: str = "hash"
    # --- search-path routing knobs (were env vars pre-r4; env still
    # overrides for ops tuning without re-opening the index handle) --------
    # query batches whose optimizer row estimate is below this take the
    # one-collect prologue (driver-derived shard/term prune sets); above it
    # the fully-distributed unbounded plan runs (no per-query driver state)
    search_small_max_rows: int = 200_000
    # past this many distinct query terms the In(term_id)/In(shard) scan
    # filters are dropped: a Zipf batch this wide touches every row group
    # anyway, and giant literal In lists evaluate without pruning
    # (measured ~25% slower at 1000q)
    search_prune_max_terms: int = 512
    # auto-routing to the DRIVER kernel (LocalSearcher.score_n — zero
    # Spark jobs, erases the ~2.5-3 s per-batch scheduling floor): taken
    # only when the batch has ≤ max_queries queries AND the scoring work
    # Σ_q Σ_{t∈q} df(t) — known exactly from the dictionary BEFORE reading
    # any block — is ≤ max_postings. The postings budget is the 100 TB
    # guard: it bounds both driver IO (≤ budget postings ≈ 2 B/posting of
    # block bytes) and driver CPU (scoring touches exactly that many
    # postings), so a hot-term batch over a trillion-turn index routes to
    # the cluster no matter how few queries it has. 0 disables the route.
    driver_search_max_queries: int = 256
    driver_search_max_postings: int = 33_554_432

    def validate(self) -> "IndexConf":
        if self.block_size < 8 or self.block_size > 1 << 16:
            raise ValueError("block_size out of range [8, 65536]")
        if self.n_shards < 1:
            raise ValueError("n_shards must be >= 1")
        if self.doc_id_method not in ("dense", "hash"):
            raise ValueError("doc_id_method must be 'dense' or 'hash'")
        _validate_split_re(self.token_split_re)
        if (
            not isinstance(self.min_token_len, int)
            or isinstance(self.min_token_len, bool)  # bool IS an int subclass
            or self.min_token_len < 1
        ):
            # a float would desync the engines: the Arrow kernel truncates
            # via int() while the JVM path compares length >= x directly
            raise ValueError("min_token_len must be an int >= 1")
        for s in self.stopwords:
            if not s or s != s.lower() or re.search(self.token_split_re, s):
                raise ValueError(
                    f"stopword {s!r} is not a single lowercase token under "
                    "token_split_re — it could never match and would silently "
                    "do nothing"
                )
        return self


def _validate_split_re(pattern: str) -> None:
    """Reject token_split_re patterns outside the RE2-compatible subset.

    The build path splits with Arrow's RE2 (`split_pattern_regex`, the
    zero-pandas SPIMI kernel) while query/stats columns split with JVM Java
    regex on the SAME pattern string; both must tokenize identically or dl
    desyncs from tf silently. RE2 has no lookaround/backreferences (those
    fail loudly) but also quietly diverges from Java on some \\p classes —
    so constructs outside the shared subset are refused here, at conf
    construction, instead of corrupting an index later."""
    import re as _re

    for bad, why in (
        (r"\(\?=|\(\?!|\(\?<=|\(\?<!", "lookaround (unsupported by RE2)"),
        (r"\\[1-9]", "backreference (unsupported by RE2)"),
        (r"\\p\{|\\P\{", "unicode property class (RE2/Java semantics differ)"),
    ):
        if _re.search(bad, pattern):
            raise ValueError(
                f"token_split_re contains {why}: {pattern!r}; the build "
                "(Arrow RE2) and query (Java regex) engines would diverge"
            )
    try:
        _re.compile(pattern)
    except _re.error as e:
        raise ValueError(f"invalid token_split_re {pattern!r}: {e}") from e


DEFAULT_CONF = IndexConf()
