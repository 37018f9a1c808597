"""The cross-engine keys: the one Spark-side spelling of the tokenizer
and of the md5 hex-prefix integer.

Both are data formats the DuckDB oracles reproduce row for row:

- a document's tokens are ``split(text, ' ')``, which the oracle SQL
  spells ``string_split(text, ' ')``. Spark's split pattern is a regex
  while DuckDB's separator is a literal, so the two agree only on a
  regex-inert separator such as the single space;
- an md5 hex prefix of ``d`` digits becomes an integer as
  ``conv(substring(h, s, d), 16, 10)`` cast to bigint, which the oracle
  spells ``('0x' || substr(h, s, d))::BIGINT``. Sixteen digits can
  exceed BIGINT (a first digit of 8-f), and under ANSI mode Spark's cast
  then fails, so a prefix has at most 15 digits.

The oracle SQL keeps spelling both rules out (USAGE.md, "Keys").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_HEX_DIGITS = 15


def tokens(col: str = "text") -> Column:
    """The whitespace tokens of string column ``col``."""
    return F.split(F.col(col), " ")


def hex_int(hex_col, digits: int, start: int = 1) -> Column:
    """The bigint value of ``digits`` hex digits of ``hex_col`` from
    1-based position ``start``."""
    if not 1 <= digits <= MAX_HEX_DIGITS:
        raise ValueError(
            f"hex_int digits must be 1..{MAX_HEX_DIGITS}, got {digits}: "
            "a longer prefix can exceed BIGINT"
        )
    return F.conv(F.substring(hex_col, start, digits), 16, 10).cast("bigint")
