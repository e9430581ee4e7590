"""Deterministic cross-engine integer hashing for dedup operators.

The reference relies on engine-private hash structures (HashSet dedup in
repetition penalty, crates/core/src/sampling.rs:112-130; ngram history map
:132-149). For a *distributed* dedup whose results must be reproducible by
any engine (our DuckDB oracle, a future Trino audit job…), we instead pin
an explicit polynomial hash:

    word_key(w) = fold(chars of w, acc0=7, acc -> (acc*31 + codepoint) % P)
    hash_i(x)   = (A_i * x + B_i) % P          (universal-hash family)

P = 2^31 - 1 (Mersenne). All intermediates < 2^62 — no int64 overflow in
either engine. Tokens are lowercase ASCII runs ([a-z0-9]+), so codepoint
semantics agree across engines.

Both a Spark SQL expression and a DuckDB SQL expression are generated from
the same constants; tests and the driver's CORRECTNESS gate hold them equal.
"""

from __future__ import annotations

P = 2147483647  # 2^31 - 1
KEY_INIT = 7
KEY_MULT = 31

# Universal-hash parameters for MinHash: k=8 functions from a fixed LCG
# (seed pinned; regenerating is a schema change).
_N_HASHES = 8


def _lcg_params(n: int) -> list[tuple[int, int]]:
    state = 88172645463325252
    out = []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = state % (P - 2) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % P
        out.append((a, b))
    return out


MINHASH_PARAMS: list[tuple[int, int]] = _lcg_params(_N_HASHES)
MINHASH_BANDS = 4           # 4 bands × 2 rows — LSH banding
MINHASH_ROWS_PER_BAND = 2

SIMHASH_BITS = 24           # bits of word_key voted into the fingerprint


# ---------------------------------------------------------------------------
# Tokenization (shared by all text-dedup operators)

TOKEN_REGEX = "[a-z0-9]+"


def tokens_duckdb(text_col: str) -> str:
    return f"list_distinct(regexp_extract_all(lower({text_col}), '{TOKEN_REGEX}'))"


def shingles_spark(text_col: str, n: int) -> str:
    """Spark SQL: distinct word n-gram shingles (space-joined strings)."""
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_REGEX}', 0)"
    return (
        f"array_distinct(transform(sequence(1, greatest(size({toks}) - {n - 1}, 0)), "
        f"i -> array_join(slice({toks}, i, {n}), ' ')))"
    )


def shingles_duckdb(text_col: str, n: int) -> str:
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_REGEX}')"
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


# ---------------------------------------------------------------------------
# Polynomial word key

def word_key_spark(word_var: str = "w") -> str:
    return (
        f"aggregate(sequence(1, length({word_var})), cast({KEY_INIT} as bigint), "
        f"(acc, i) -> (acc * {KEY_MULT} + ascii(substr({word_var}, i, 1))) % {P})"
    )


def word_key_duckdb(word_var: str = "w") -> str:
    return (
        f"list_reduce(list_prepend(cast({KEY_INIT} as bigint), "
        f"list_transform(range(1, length({word_var}) + 1), "
        f"i -> cast(ascii(substr({word_var}, i, 1)) as bigint))), "
        f"(a, b) -> (a * {KEY_MULT} + b) % {P})"
    )


def keys_duckdb(text_col: str, shingle_n: int = 1) -> str:
    src = tokens_duckdb(text_col) if shingle_n == 1 else shingles_duckdb(text_col, shingle_n)
    return f"list_transform({src}, w -> {word_key_duckdb('w')})"


# ---------------------------------------------------------------------------
# MinHash signature: array of k minima (NULL-safe: empty docs → NULL sig)

def minhash_duckdb(keys_expr: str) -> str:
    mins = ", ".join(
        f"list_min(list_transform({keys_expr}, k -> ({a} * k + {b}) % {P}))"
        for a, b in MINHASH_PARAMS
    )
    return f"[{mins}]"


def band_key_spark(sig_col: str, band: int) -> str:
    lo = band * MINHASH_ROWS_PER_BAND
    parts = ", ".join(f"{sig_col}[{lo + r}]" for r in range(MINHASH_ROWS_PER_BAND))
    return f"concat_ws(':', {band}, {parts})"


def band_key_duckdb(sig_col: str, band: int) -> str:
    # duckdb lists are 1-indexed
    lo = band * MINHASH_ROWS_PER_BAND + 1
    parts = ", ".join(f"{sig_col}[{lo + r}]" for r in range(MINHASH_ROWS_PER_BAND))
    return f"concat_ws(':', {band}, {parts})"


# ---------------------------------------------------------------------------
# SimHash: per-bit majority vote over word keys (multiplicity-weighted
# integer votes — order-independent, hence engine-independent)

def simhash_spark(text_col: str) -> str:
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_REGEX}', 0)"
    keys = f"transform({toks}, w -> {word_key_spark('w')})"
    bits = " + ".join(
        f"(case when aggregate({keys}, cast(0 as bigint), "
        f"(acc, k) -> acc + ((shiftright(k, {j}) & 1) * 2 - 1)) > 0 "
        f"then cast({1 << j} as bigint) else 0 end)"
        for j in range(SIMHASH_BITS)
    )
    return f"({bits})"


def simhash_duckdb(text_col: str) -> str:
    toks = f"regexp_extract_all(lower({text_col}), '{TOKEN_REGEX}')"
    keys = (
        f"list_transform({toks}, w -> {word_key_duckdb('w')})"
    )
    bits = " + ".join(
        f"(case when list_sum(list_transform({keys}, "
        f"k -> (((k >> {j}) & 1) * 2 - 1))) > 0 "
        f"then cast({1 << j} as bigint) else 0 end)"
        for j in range(SIMHASH_BITS)
    )
    return f"coalesce({bits}, 0)"
