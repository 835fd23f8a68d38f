"""Cross-engine deterministic hashing: Spark Column + DuckDB SQL + pure Python.

crc32/xxhash are not available in DuckDB, so every hash the dedup/similarity
operators rely on is plain polynomial arithmetic over character codepoints.
The same value is computed three ways from one set of constants:

- a Spark Column expression (JVM-side higher-order functions, no UDF) — the
  100 TB hot path;
- a DuckDB SQL snippet — the driver's independent oracle execution;
- pure Python — the pytest property oracles.

Every intermediate stays below 2^63: HASH_MOD < 2^30, so
``acc * CHAR_MULT + c < 2^37`` and ``(h % MOD) * SHINGLE_MULT + h < 2^60``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

CHAR_MULT = 131
HASH_MOD = 1_000_000_007  # prime < 2^30
SHINGLE_MULT = 1_000_003  # prime combining token hashes into shingle hashes
BIT_MIX = 2_654_435_761  # Knuth multiplicative constant (public domain)
BIT_MOD = 4_294_967_296  # 2^32: spread the <2^30 hash over full 32 bits

TOKEN_RE = "[a-z0-9]+"


# ---- Spark Column builders ---------------------------------------------------


def let(bound: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``bound`` ONCE and pass
    it to ``body`` as a higher-order-function lambda variable.

    Catalyst inlines (rather than CSEs) an expression tree at every
    reference inside HOF lambdas, so e.g. ``element_at(big_expr, i)``
    executed per element re-evaluates ``big_expr`` per element — measured
    80 s vs 2 s for the shingle chain at sf0.1. Wrapping the big expression
    as the sole element of an array and binding it through one transform
    makes every inner reference a cheap lambda-variable read. Purely an
    evaluation-strategy change; the value is identical.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def char_hash(col: Column) -> Column:
    """Polynomial hash over the characters of a string column (long)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.ascii(F.substring(col, i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * CHAR_MULT + c) % HASH_MOD,
    )


def tokens(text_col: Column) -> Column:
    """array<string> of the TOKEN_RE tokens of the lowercased text."""
    return F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_RE), 0)


def token_hashes(text_col: Column) -> Column:
    """array<long> of per-token polynomial hashes (lowercased TOKEN_RE)."""
    return F.transform(tokens(text_col), char_hash)


def shingle_hashes(tok_hash_col: Column, k: int = 3) -> Column:
    """Distinct k-token shingle hashes from a token-hash array.

    The token-hash array is let-bound (see :func:`let`): it is referenced
    k times per shingle position plus twice for sizing, and without the
    binding each reference re-evaluates the whole upstream tokenize+hash
    chain per element.
    """

    def _build(hs: Column) -> Column:
        n = F.size(hs)

        def _sh(i):
            h = F.element_at(hs, i)
            for j in range(1, k):
                h = (h * SHINGLE_MULT + F.element_at(hs, i + j)) % HASH_MOD
            return h

        out = F.when(
            n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), _sh)
        ).otherwise(F.array().cast("array<long>"))
        return F.array_distinct(out)

    return let(tok_hash_col, _build)


def mix32(col: Column) -> Column:
    """Spread a (<2^30) hash over 32 independent-looking bits."""
    return (col * F.lit(BIT_MIX)) % F.lit(BIT_MOD)


# ---- DuckDB SQL builders (identical arithmetic) ------------------------------


def sql_char_hash(var: str = "t") -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(range(1, length({var})+1),"
        f" i -> CAST(ascii({var}[i]) AS BIGINT))),"
        f" (acc, c) -> (acc * {CHAR_MULT} + c) % {HASH_MOD})"
    )


def sql_tokens(text_expr: str, regex: str = TOKEN_RE) -> str:
    """:func:`tokens` as DuckDB SQL; the oracles also count stopword and
    punctuation matches of the lowercased text through ``regex``."""
    return f"regexp_extract_all(lower({text_expr}), '{regex}')"


def sql_token_hashes(text_expr: str) -> str:
    return f"list_transform({sql_tokens(text_expr)}, t -> {sql_char_hash('t')})"


def sql_shingle_hashes(hs: str = "hs", k: int = 3) -> str:
    expr = f"{hs}[i]"
    for j in range(1, k):
        expr = f"(({expr}) * {SHINGLE_MULT} + {hs}[i+{j}]) % {HASH_MOD}"
    return (
        f"list_distinct(CASE WHEN len({hs}) >= {k} THEN"
        f" list_transform(range(1, len({hs}) - {k - 1} + 1), i -> {expr})"
        f" ELSE []::BIGINT[] END)"
    )


def sql_mix32(expr: str) -> str:
    return f"(({expr}) * {BIT_MIX}) % {BIT_MOD}"


# ---- pure-Python reference (pytest oracles) ----------------------------------


def py_char_hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * CHAR_MULT + ord(ch)) % HASH_MOD
    return h


def py_token_hashes(text: str) -> list[int]:
    return [py_char_hash(t) for t in re.findall(TOKEN_RE, text.lower())]


def py_shingle_hashes(text: str, k: int = 3) -> list[int]:
    hs = py_token_hashes(text)
    out = []
    for i in range(len(hs) - k + 1):
        h = hs[i]
        for j in range(1, k):
            h = (h * SHINGLE_MULT + hs[i + j]) % HASH_MOD
        out.append(h)
    return sorted(set(out))


def py_mix32(h: int) -> int:
    return (h * BIT_MIX) % BIT_MOD
