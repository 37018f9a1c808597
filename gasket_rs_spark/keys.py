"""The cross-engine keys: the one Spark-side spelling of the tokenizer,
of its adjacent-token k-grams and of the md5 hex-prefix integer.

All three are data formats the DuckDB oracles reproduce row for row:

- a document's tokens are ``split(text, ' ')``, which the oracle SQL
  spells ``string_split(text, ' ')``. Spark's split pattern is a regex
  while DuckDB's separator is a literal, so the two agree only on a
  regex-inert separator such as the single space;
- the k-grams of a token list ``t`` are its ``len(t) - k + 1`` windows
  of ``k`` adjacent tokens joined by single spaces, in position order
  and with repeats kept, which the oracle SQL spells
  ``t[i] || ' ' || t[i + 1] || ...``;
- an md5 hex prefix of ``d`` digits becomes an integer as
  ``conv(substring(h, s, d), 16, 10)`` cast to bigint, which the oracle
  spells ``('0x' || substr(h, s, d))::BIGINT``. Sixteen digits can
  exceed BIGINT (a first digit of 8-f), and under ANSI mode Spark's cast
  then fails, so a prefix has at most 15 digits.

The oracle SQL keeps spelling these rules out (USAGE.md, "Keys").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_HEX_DIGITS = 15


def tokens(col: str = "text") -> Column:
    """The whitespace tokens of string column ``col``."""
    return F.split(F.col(col), " ")


def _join(head: Column, tail: Column) -> Column:
    return F.concat(head, F.lit(" "), tail)


def grams(toks: Column, k: int, pair=_join) -> Column:
    """The ``k``-token windows of array column ``toks``, ``k >= 2``:
    ``pair(head, tail)`` of each window's first token and the ``k - 1``
    tokens after it joined by ``' '``. ``pair`` defaults to the joined
    window ``concat(head, ' ', tail)``; a ``struct`` keeps the parts.

    Built as ``zip_with`` over ``k`` shifted slices, never as a
    ``transform`` whose lambda reads ``toks[i]``: an array expression
    used inside a higher-order-function lambda is evaluated again for
    each element (project-collapse inlines ``split`` back into it), so
    the indexed spelling re-splits the text once per window, O(tokens²)
    per document. A list shorter than ``k`` gives ``[]``: each slice
    length is ``greatest(size(toks) - (k - 1), 0)``.
    """
    if k < 2:
        raise ValueError(f"grams needs k >= 2, got {k}")
    n = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    tail = F.slice(toks, k, n)
    for i in range(k - 1, 1, -1):
        tail = F.zip_with(F.slice(toks, i, n), tail, _join)
    return F.zip_with(F.slice(toks, 1, n), tail, pair)


def hex_int(hex_col, digits: int, start: int = 1) -> Column:
    """The bigint value of ``digits`` hex digits of ``hex_col`` from
    1-based position ``start``."""
    if not 1 <= digits <= MAX_HEX_DIGITS:
        raise ValueError(
            f"hex_int digits must be 1..{MAX_HEX_DIGITS}, got {digits}: "
            "a longer prefix can exceed BIGINT"
        )
    return F.conv(F.substring(hex_col, start, digits), 16, 10).cast("bigint")
