"""scripts/dup_report.py counts copy-pasted code, not repeated prose or
oracle SQL: five identical code lines in two functions are reported, and
so are five identical lines of a Spark SQL string passed to ``F.expr``;
the same five lines inside a docstring or an oracle SQL string are not.
No JVM."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from dup_report import scan  # noqa: E402

# Duplicated code lines in the package. The budget only goes down: lower
# it to the new count when a change removes copies; raising it needs a
# reason in CHANGES.md.
DUP_BUDGET = 14

BODY = [
    "a = load(x)",
    "b = a.where(a.v > 1)",
    "c = b.groupBy('k').count()",
    "d = c.join(b, 'k')",
    "e = d.select('k', 'count')",
]


def _write(tmp_path, name, text):
    path = tmp_path / name
    path.write_text(text)
    return str(tmp_path)


def test_same_five_code_lines_in_two_functions_are_reported(tmp_path):
    body = "".join(f"    {line}\n" for line in BODY)
    root = _write(
        tmp_path,
        "m.py",
        f"def f(x):\n{body}    return e\n\n\ndef g(x):\n{body}    return e + 1\n",
    )
    per_group, n_dup, total = scan([root])
    assert per_group == {frozenset({"m.py:f", "m.py:g"}): 10}
    assert (n_dup, total) == (10, 14)


def test_same_five_lines_of_spark_sql_in_two_functions_are_reported(tmp_path):
    """A Spark SQL string is code: five shared lines of an ``F.expr``,
    ``where``, ``filter`` or ``sql`` argument are duplication, and they
    match whether the string is written in implicitly concatenated
    pieces or as one triple-quoted literal."""
    pieces = "".join(f'        "{line} "\n' for line in BODY)
    quoted = '        """\n' + "".join(f"        {line}\n" for line in BODY) + '        """\n'
    root = _write(
        tmp_path,
        "m.py",
        f"def f(x):\n    return F.expr(\n{pieces}    )\n\n\n"
        f"def g(x):\n    return x.where(\n{pieces}    )\n\n\n"
        f"def h(x):\n    return x.filter(\n{quoted}    )\n\n\n"
        f"def k(x):\n    return spark.sql(\n{quoted}    )\n",
    )
    per_group, n_dup, total = scan([root])
    # all four share the five SQL lines and the closing paren
    assert per_group == {frozenset({"m.py:f", "m.py:g", "m.py:h", "m.py:k"}): 24}
    assert (n_dup, total) == (24, 32)


def test_shared_import_lists_are_not_reported(tmp_path):
    """Import statements are not code lines: two modules with the same
    import block, and two functions with the same local imports, share
    nothing the scan reports."""
    names = "".join(f"    {n},\n" for n in ["DoubleType", "LongType", "StringType", "StructField"])
    prologue = f"import math\n\nfrom pyspark.sql.types import (\n{names})\n\n\n"
    local = "    import datetime as _dt\n    import math\n    import re\n    import os\n    import sys\n"
    _write(tmp_path, "a.py", f"{prologue}def f(x):\n{local}    return x\n")
    root = _write(tmp_path, "b.py", f"{prologue}def g(x):\n{local}    return x + 1\n")
    per_group, n_dup, total = scan([root])
    assert per_group == {}
    assert (n_dup, total) == (0, 4)


def test_same_lines_in_docstring_or_sql_string_are_not_reported(tmp_path):
    body = "".join(f"    {line}\n" for line in BODY)
    text = "".join(f"        {line}\n" for line in BODY)
    root = _write(
        tmp_path,
        "m.py",
        f"def f(x):\n{body}    return e\n\n\n"
        f'def g(x):\n    """Doc.\n\n{text}    """\n    return x\n\n\n'
        f'ORACLES = {{\n    "q": """\n{text}    """,\n}}\n',
    )
    per_group, n_dup, total = scan([root])
    assert per_group == {}
    assert n_dup == 0
    # f's seven code lines, g's def and return, and what is left of the
    # ORACLES dict around its string — none of the prose or SQL
    assert total == 13


def test_package_duplication_within_budget():
    """The package holds at most ``DUP_BUDGET`` duplicated code lines
    (``python scripts/dup_report.py`` lists them by family). The budget
    only goes down; raising it needs a reason in CHANGES.md."""
    _, n_dup, _ = scan([os.path.join(REPO, "gasket_rs_spark")])
    assert n_dup <= DUP_BUDGET, (
        f"{n_dup} duplicated code lines > budget {DUP_BUDGET}: call the "
        "existing builder instead of copying (see scripts/dup_report.py)"
    )
