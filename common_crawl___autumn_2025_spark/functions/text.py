"""Text fingerprint functions.

SimHash's production path is a pure-JVM Catalyst expression
(``simhash64_sql_expr`` — higher-order functions over a per-token
``xxhash64``, zero Python, zero shuffle); ``simhash64`` below is its
bit-exact Python mirror (same XXH64 seed-42 hash as the rest of the
engine, via ``crawl.hashing``), kept for property tests and as the
reference semantics. The rolling fingerprint stays a pandas UDF (the
sanctioned slow path — still ~100× faster than row-at-a-time Python
thanks to Arrow batching).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..crawl.hashing import xxh64


def simhash64(text: str) -> int:
    """Classic 64-bit SimHash: per-token XXH64 (Spark's ``xxhash64``,
    seed 42), bitwise voting. Tokens are ``split(' ')`` with empties
    dropped — identical to the JVM expression's
    ``filter(split(text, ' '), t -> t <> '')``."""
    votes = [0] * 64
    for tok in (text or "").split(" "):
        if not tok:
            continue
        h = xxh64(tok.encode("utf-8"))
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i in range(64):
        if votes[i] > 0:
            out |= 1 << i
    if out >= 1 << 63:  # signed int64 for Spark LongType
        out -= 1 << 64
    return out


def simhash64_sql_expr(text_col: str) -> str:
    """SimHash as a single Catalyst expression over ``text_col`` —
    the 100 TB path: per-token ``xxhash64`` inside ``transform``,
    bit votes accumulated with ``zip_with`` over a 64-long array,
    the signed fingerprint assembled in the ``aggregate`` finish
    lambda (``shiftleft(1L, 63)`` IS Long.MIN_VALUE, so bit 63 needs
    no special case). Pure JVM, no Python workers, no shuffle; NULL
    text → NULL, token-free text → 0 — exactly ``simhash64``."""
    return f"""
    aggregate(
      transform(filter(split({text_col}, ' '), t -> t <> ''),
                t -> xxhash64(t)),
      array_repeat(cast(0 as bigint), 64),
      (acc, h) -> zip_with(acc,
          transform(sequence(0, 63), i -> (shiftright(h, i) & 1L) * 2L - 1L),
          (a, v) -> a + v),
      acc -> aggregate(sequence(0, 63), cast(0 as bigint),
          (s, i) -> s + if(acc[i] > 0, shiftleft(1L, i), 0L))
    )"""


def rolling_fingerprint(text: str, window: int = 8, mod: int = (1 << 61) - 1) -> int:
    """Winnowing-style document fingerprint: min of rolling polynomial
    hashes over character windows (deterministic, order-sensitive)."""
    s = text or ""
    if len(s) < window:
        s = s.ljust(window, "\x00")
    base = 257
    power = pow(base, window - 1, mod)
    h = 0
    best = None
    for i, ch in enumerate(s):
        h = (h * base + ord(ch)) % mod
        if i >= window - 1:
            best = h if best is None or h < best else best
            h = (h - ord(s[i - window + 1]) * power) % mod
    return int(best if best is not None else h)


@F.pandas_udf(T.LongType())
def rolling_fingerprint_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: rolling_fingerprint(t) if t is not None else None)
