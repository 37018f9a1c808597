"""scripts/capture_plans.py normalizes a plan so that two captures of the
same tree compare equal: Spark's distinct-aggregate rewrite prints its
Expand groups (and the keys after it) in a per-session order, and the
normalized text must not depend on it. No JVM."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from capture_plans import normalize  # noqa: E402

PLAN = """\
(3) Expand
Input [2]: [lang#42, source#43]
Arguments: [[{g1}, 1], [{g2}, 2]], [{o1}#44, {o2}#45, gid#46]

(4) HashAggregate
Input [3]: [{o1}#44, {o2}#45, gid#46]
Keys [3]: [{o1}#44, {o2}#45, gid#46]
Results [3]: [{o1}#44, {o2}#45, gid#46]

(5) Exchange
Arguments: hashpartitioning({o1}#44, {o2}#45, gid#46, 8), ENSURE_REQUIREMENTS, [plan_id=15]

(6) HashAggregate
Functions [2]: [partial_count(lang#{lang}) FILTER (WHERE (gid#46 = {glang})), \
partial_count(source#{source}) FILTER (WHERE (gid#46 = {gsource}))]
Results [2]: [count(lang#{lang})#51L AS r#53L, count(source#{source})#52L AS c#54L]
"""


def test_expand_groups_in_either_order_normalize_to_one_text():
    lang_first = PLAN.format(
        g1="lang#42, null", g2="null, source#43", o1="lang", o2="source",
        lang=44, source=45, glang=1, gsource=2,
    )
    source_first = PLAN.format(
        g1="source#43, null", g2="null, lang#42", o1="source", o2="lang",
        lang=45, source=44, glang=2, gsource=1,
    )
    assert lang_first != source_first
    assert normalize(lang_first) == normalize(source_first)
    assert normalize(normalize(source_first)) == normalize(source_first)
    # the aggregates keep their order; only ids and gid numbers follow
    assert "partial_count(lang#3) FILTER (WHERE (gid#5 = 1)), " in normalize(source_first)


def test_session_dependent_names_are_normalized():
    """Spark names higher-order-function variables from a session-wide
    counter (the same plan built after more lambdas reads x_120, not
    x_7), and a checkpoint RDD's call site varies by session."""
    plan = (
        "aggregate(zip_with(vec#{a}, qvec#{b}, lambdafunction((lambda x_{x} * lambda y_{y}), "
        "lambda x_{x}, lambda y_{y}, false)), 0.0, lambdafunction((lambda acc_{z} + lambda x_{w})\n"
        "Arguments: [vec#{a}], MapPartitionsRDD[{r}] at localCheckpoint at {site}:0, ExistingRDD"
    )
    early = plan.format(a=4, b=5, x=7, y=8, z=9, w=10, r=3, site="<unknown>")
    late = plan.format(a=40, b=41, x=120, y=121, z=122, w=123, r=9, site="NativeMethodAccessorImpl.java")
    assert normalize(early) == normalize(late)
    assert "lambda v1 * lambda v2" in normalize(late)


BIGRAM = (
    "(2) Project [codegen id : 1]\n"
    "Output [2]: [doc_id#{d}L, bigram#{g}]\n"
    "Input [2]: [doc_id#{d}L, text#{t}]\n"
    "Arguments: [doc_id#{d}L, zip_with(slice(split(text#{t},  , -1), 1, "
    "greatest((size(split(text#{t},  , -1), false) - 1), 0)), "
    "slice(split(text#{t},  , -1), 2, greatest((size(split(text#{t},  , -1), false) - 1), 0)), "
    "lambdafunction(concat(lambda {first},  , lambda {second}), "
    "lambda {a}, lambda {b}, false)) AS bigram#{g}]\n"
)


def test_sql_and_python_lambdas_of_one_structure_normalize_to_one_text():
    """A bigram ``zip_with`` spelled in SQL (``(a, b) -> concat(a, ' ',
    b)``, variables ``lambda a#15``) and with a Python lambda (PySpark
    names ``lambda x_5#20``) is one plan; swapping the ``concat``
    arguments is another."""
    sql = BIGRAM.format(d=0, t=1, g=14, a="a#15", b="b#16", first="a#15", second="b#16")
    col = BIGRAM.format(
        d=3, t=4, g=19, a="x_5#20", b="y_6#21", first="x_5#20", second="y_6#21"
    )
    swapped = BIGRAM.format(
        d=3, t=4, g=19, a="x_5#20", b="y_6#21", first="y_6#21", second="x_5#20"
    )
    assert sql != col
    assert normalize(sql) == normalize(col)
    assert "concat(lambda v1#4,  , lambda v2#5), lambda v1#4, lambda v2#5" in normalize(sql)
    assert normalize(swapped) != normalize(col)
    assert normalize(normalize(col)) == normalize(col)
