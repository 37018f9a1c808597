"""gasket_rs_spark.keys against DuckDB, value for value.

The oracle SQL spells the tokenizer ``string_split(text, ' ')``, its
k-grams ``t[i] || ' ' || t[i + 1] || ...`` and the md5 hex-prefix
integer ``('0x' || substr(md5(k), s, d))::BIGINT``; ``tokens``,
``grams`` and ``hex_int`` must give the same lists and integers on
edge-case texts, on seeded texts and keys (the empty key included) and
at every prefix length the module allows."""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from gasket_rs_spark import keys

_TEXTS = ["a b", "a  b", " a", "a ", "", "  ", "naïve café 東京 x", None]


def _keys() -> list[str]:
    rng = random.Random(13)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 :-é東"
    return [""] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 24)))
        for _ in range(239)
    ]


def _texts() -> list[str | None]:
    """The edge-case texts, then 240 seeded ones with runs of spaces."""
    rng = random.Random(14)
    words = ["a", "b", "ab", "", "é", "東京", "the"]
    return _TEXTS + ["a", "a b c", "東京 é"] + [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 9)))
        for _ in range(240)
    ]


def _duck(sql: str, rows: list[tuple]) -> list[tuple]:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, k VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    return con.execute(sql).fetchall()


def test_tokens_match_duckdb_string_split(spark):
    rows = list(enumerate(_TEXTS))
    got = (
        spark.createDataFrame(rows, "i bigint, text string")
        .select("i", keys.tokens().alias("toks"))
        .orderBy("i")
        .collect()
    )
    want = _duck("SELECT i, string_split(k, ' ') FROM t ORDER BY i", rows)
    assert [(r["i"], r["toks"]) for r in got] == [(i, t) for i, t in want]
    assert got[1]["toks"] == ["a", "", "b"]  # no run collapsing
    assert got[7]["toks"] is None


def test_hex_int_matches_duckdb_for_every_digit_count(spark):
    ks = _keys()
    rows = list(enumerate(ks))
    digits = range(1, keys.MAX_HEX_DIGITS + 1)
    got = (
        spark.createDataFrame(rows, "i bigint, k string")
        .select(
            "i",
            *[keys.hex_int(F.md5("k"), d).alias(f"d{d}") for d in digits],
            keys.hex_int(F.md5("k"), 1, start=9).alias("nib9"),
        )
        .orderBy("i")
        .collect()
    )
    cols = ", ".join(f"('0x' || substr(md5(k), 1, {d}))::BIGINT" for d in digits)
    want = _duck(
        f"SELECT i, {cols}, ('0x' || substr(md5(k), 9, 1))::BIGINT FROM t ORDER BY i",
        rows,
    )
    assert len(got) == len(want) == len(ks) >= 200
    for r, w in zip(got, want):
        assert tuple(r) == w, ks[r["i"]]
    # the 15-digit prefix reaches past 2^59 for a key whose md5 starts 8-f
    assert max(r["d15"] for r in got) >= 8 << 56


@pytest.mark.parametrize("digits", [0, 16])
def test_hex_int_rejects_digits_outside_1_to_15(digits):
    """Raised while the plan is built: no Column is made, no job runs."""
    with pytest.raises(ValueError, match="1..15"):
        keys.hex_int("h", digits)


def _duck_grams(k: int) -> str:
    window = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return f"list_transform(range(1, len(t) - {k} + 2), i -> {window})"


def test_grams_match_duckdb_adjacent_token_windows(spark):
    texts = _texts()
    rows = list(enumerate(texts))
    got = (
        spark.createDataFrame(rows, "i bigint, text string")
        .select(
            "i",
            keys.grams(keys.tokens(), 2).alias("g2"),
            keys.grams(keys.tokens(), 3).alias("g3"),
            keys.grams(
                keys.tokens(), 2, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
            ).alias("p2"),
        )
        .orderBy("i")
        .collect()
    )
    want = _duck(
        f"SELECT i, {_duck_grams(2)}, {_duck_grams(3)},"
        " list_transform(range(1, len(t)), i -> (t[i], t[i + 1]))"
        " FROM (SELECT i, string_split(k, ' ') AS t FROM t) ORDER BY i",
        rows,
    )
    assert len(got) == len(want) == len(texts) >= 200
    for r, (i, g2, g3, p2) in zip(got, want):
        assert (r["i"], r["g2"], r["g3"]) == (i, g2, g3), texts[i]
        pairs = None if r["p2"] is None else [(p["w1"], p["w2"]) for p in r["p2"]]
        assert pairs == p2, texts[i]
    by_text = {texts[r["i"]]: r for r in got}
    assert by_text["a  b"]["g2"] == ["a ", " b"]  # the empty token is kept
    assert by_text["a b"]["g3"] == by_text["a"]["g2"] == []
    assert by_text["a b c"]["g3"] == ["a b c"]
    assert by_text[None]["g2"] is None


def test_grams_needs_two_tokens_per_window():
    """Raised while the plan is built: no Column is made, no job runs."""
    with pytest.raises(ValueError, match="k >= 2"):
        keys.grams("toks", 1)


def test_shingles_are_empty_for_short_and_null_text(spark):
    from gasket_rs_spark.operators.dedup import _shingles

    rows = [(0, None), (1, ""), (2, "a b"), (3, "a b c"), (4, "a b a b a")]
    got = (
        spark.createDataFrame(rows, "i bigint, text string")
        .select("i", _shingles().alias("sh"))
        .orderBy("i")
        .collect()
    )
    assert [r["sh"] for r in got] == [[], [], [], ["a b c"], ["a b a", "b a b"]]
