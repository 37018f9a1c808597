"""Capture .explain('formatted') for the headline queries into
plans/r<N>/ where N = the upcoming round (max committed CORRECTNESS
round + 1, same derivation as bench.py's close-detail name).

Usage: python scripts/capture_plans.py before|after [--full] [query ...]

Writes plans/r<N>/<query>_<tag>.txt for each headline query (or the
named subset). Plans are captured at $SPARK_GRAFT_SF_DIR (default
sf0.1) — the same data the bench times — so Exchange counts / join
strategies / pushed filters in the files match the bench's plan shapes.

--full additionally writes <query>_<tag>_full.txt: the result plan,
then the plan of each DataFrame the query passed to the storage seam
(``store.materialize``), in call order, each under a
``== localCheckpoint #i (eager=...) site=<label> ==`` header naming the
call site. A checkpoint truncates the visible result plan at a Scan
ExistingRDD (VERDICT r21 #4); the recorded inputs keep scan counts and
join strategies below every checkpoint auditable. The checkpoints still
run, so an iterative witness's plan stays bounded. ``recording`` wraps
``store.materialize`` for the length of the capture; operators are
untouched.

Every file is written normalized: the session-global counters Spark
prints (expression ids ``name#<n>``, exchange ``plan_id=<n>``,
checkpoint ``RDD[<n>]``) are renumbered per file in order of first
appearance, every lambda variable (PySpark's ``lambda x_12#7``, SQL's
``lambda a#7``) is renamed ``v<k>`` in the same way, the groups of each
distinct-aggregate Expand are put into a canonical order, and the
checkpoint RDD's call site (``<unknown>:0`` or a JVM frame, by session)
and file_source_roundtrip's temp-dir name are blanked, so two captures
of the same tree compare equal file for file, and a SQL lambda compares
equal to a Python lambda of the same structure.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from gasket_rs_spark import store  # noqa: E402


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _split_top(s: str) -> list[str]:
    """``s`` split at its top-level ``", "`` separators."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0 and s[i + 1 : i + 2] == " ":
            parts.append(s[start:i])
            start = i + 2
    return parts + [s[start:]]


def _map_lists(s: str, fn) -> str:
    """``s`` with ``fn(elements)`` applied to the elements of every
    bracketed or parenthesized list, innermost first."""
    out, i = [], 0
    while i < len(s):
        if s[i] in "([":
            depth, j = 0, i
            while j < len(s):
                depth += s[j] in "(["
                depth -= s[j] in ")]"
                if depth == 0:
                    break
                j += 1
            if j < len(s):
                inner = _map_lists(s[i + 1 : j], fn)
                out.append(s[i] + ", ".join(fn(_split_top(inner))) + s[j])
                i = j + 1
                continue
        out.append(s[i])
        i += 1
    return "".join(out)


def _ids(s: str) -> set[str]:
    return set(re.findall(r"(?<=\S)#(\d+)", s))


def _id(s: str) -> str:
    return re.search(r"(?<=\S)#(\d+)", s).group(1)


def _strip_ids(s: str) -> str:
    return re.sub(r"(?<=\S)#\d+", "", s)


_EXPAND = re.compile(r"^(\(\d+\) Expand\nInput .*\nArguments: )(\[\[.*)$", re.M)


def _canonical_expand(text: str, m: re.Match) -> str:
    """``text`` with the Expand at ``m`` in canonical form.

    Spark's distinct-aggregate rewrite emits one projection group per
    distinct aggregate, ordered by a hash that varies per session, so the
    same plan prints its groups, the distinct columns before ``gid`` and
    the ``gid`` numbers in different orders. This sorts the distinct
    columns by name and the groups by content, renumbers ``gid`` to the
    sorted order, and reorders every key list that carries the distinct
    columns followed by ``gid`` (Input, Keys, Results, partitioning,
    sort order) to match."""
    head, lists = _split_top(m.group(2))
    groups = [_split_top(g[1:-1]) for g in _split_top(head[1:-1])]
    outs = _split_top(lists[1:-1])
    gid_pos = next((p for p, o in enumerate(outs) if re.fullmatch(r"gid#\d+", o)), None)
    if gid_pos is None or any(
        len(g) != len(outs) or not g[gid_pos].isdigit() for g in groups
    ):
        return text
    gid_id = _id(outs[gid_pos])
    perm = [p for p in range(gid_pos) if any(g[p] == "null" for g in groups)]
    canon = sorted(perm, key=lambda p: (_strip_ids(outs[p]), p))
    order = list(range(len(outs)))
    for p, c in zip(perm, canon):
        order[p] = c
    groups = [[g[c] for c in order] for g in groups]
    ranked = sorted(
        groups,
        key=lambda g: _strip_ids(", ".join(e for p, e in enumerate(g) if p != gid_pos)),
    )
    gid_map = {
        g[gid_pos]: str(new) for g, new in zip(ranked, sorted(int(g[gid_pos]) for g in groups))
    }
    for g in ranked:
        g[gid_pos] = gid_map[g[gid_pos]]
    expand = m.group(1) + "[{}], [{}]".format(
        ", ".join("[" + ", ".join(g) + "]" for g in ranked),
        ", ".join(outs[c] for c in order),
    )
    perm_ids = [_id(outs[p]) for p in perm]
    target = dict(zip(perm_ids, [_id(outs[c]) for c in canon]))

    def reorder(elems: list[str]) -> list[str]:
        refs = [_ids(e) & set(perm_ids) for e in elems]
        at = [k for k, r in enumerate(refs) if r]
        run = [next(iter(refs[k])) for k in at]
        if (
            run != perm_ids
            or at != list(range(at[0], at[0] + len(at)))
            or any(len(refs[k]) > 1 for k in at)
            or at[-1] + 1 >= len(elems)
            or _ids(elems[at[-1] + 1]) != {gid_id}
        ):
            return elems
        by_id = {next(iter(refs[k])): elems[k] for k in at}
        return elems[: at[0]] + [by_id[target[i]] for i in perm_ids] + elems[at[-1] + 1 :]

    rest = text[: m.start()] + "\0" + text[m.end() :]
    rest = "\n".join(
        _map_lists(line, reorder) if _ids(line) & set(perm_ids) else line
        for line in rest.split("\n")
    )
    rest = re.sub(
        rf"(gid#{gid_id}(?!\d) = )(\d+)", lambda g: g.group(1) + gid_map[g.group(2)], rest
    )
    return rest.replace("\0", expand)


def normalize(text: str) -> str:
    """Put each Expand into canonical order (``_canonical_expand``), then
    rename each lambda variable (one name and id) ``v<k>`` and renumber
    the counters in ``text`` per kind, each from 1 in order of first
    appearance (one id keeps one number throughout the file), and blank
    the checkpoint call site and the round-trip temp dir. A ``#`` after
    a space is a section header's index, not an expression id, and is
    kept."""
    for k in range(len(_EXPAND.findall(text))):
        text = _canonical_expand(text, list(_EXPAND.finditer(text))[k])
    lambdas: dict[tuple[str, str], int] = {}

    def rename(m: re.Match) -> str:
        k = lambdas.setdefault(m.groups(""), len(lambdas) + 1)
        return f"lambda v{k}{m.group(2) or ''}"

    text = re.sub(r"\blambda ([A-Za-z]\w*)(#\d+)?", rename, text)
    seen: dict[tuple[str, str], int] = {}
    kinds: dict[str, int] = {}

    def renumber(m: re.Match) -> str:
        key = m.groups()
        if key not in seen:
            seen[key] = kinds[key[0]] = kinds.get(key[0], 0) + 1
        return f"{key[0]}{seen[key]}"

    text = re.sub(r"((?<=\S)#|plan_id=|RDD\[)(\d+)", renumber, text)
    text = re.sub(r"(RDD\[\d+\] at \w+ at )\S+:\d+", r"\1<callsite>", text)
    return re.sub(r"gasket_roundtrip_\w+", "gasket_roundtrip_<tmp>", text)


@contextlib.contextmanager
def recording(inputs: list[str]):
    """Inside the block, each ``store.materialize`` call appends its input
    frame's formatted plan to ``inputs`` under a ``== localCheckpoint #i
    (eager=...) site=<label> ==`` header, then materializes as usual."""
    orig = store.materialize

    def recorded(df, site, *, eager):
        inputs.append(
            f"== localCheckpoint #{len(inputs) + 1} (eager={eager}) site={site} ==\n"
            + _formatted(df)
        )
        return orig(df, site, eager=eager)

    store.materialize = recorded
    try:
        yield
    finally:
        store.materialize = orig


def main() -> None:
    tag = sys.argv[1]
    args = sys.argv[2:]
    full = "--full" in args
    names = [a for a in args if a != "--full"] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from gen_registry_order import available_rounds

    rnd = max(available_rounds()) + 1
    out_dir = os.path.join(repo, "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)

    from gasket_rs_spark.registry import all_queries
    from gasket_rs_spark.session import get_session

    spark = get_session("gasket-plans")
    queries = all_queries()

    def write(name: str, suffix: str, text: str) -> None:
        with open(os.path.join(out_dir, f"{name}_{tag}{suffix}.txt"), "w") as f:
            f.write(normalize(text))
        print(f"wrote {name}_{tag}{suffix}.txt ({len(text)} chars)")

    inputs: list[str] = []
    with recording(inputs) if full else contextlib.nullcontext():
        for name in names:
            inputs.clear()
            plan = _formatted(queries[name](spark, sf_dir))
            write(name, "", plan)
            if full:
                write(name, "_full", "\n".join([plan, *inputs]))
    spark.stop()


if __name__ == "__main__":
    main()
