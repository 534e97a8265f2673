"""Round-11 optimization-pass structural tests.

VERDICT r10 #1: an explicit ``F.broadcast`` hint bypasses Spark's size
check, so a hint on a data-proportional table (customer is ~15 B rows at
100 TB TPC-H scale; supplier/part/orders likewise grow with SF) OOMs
every executor at scale. The r11 pass removed every such hint (AQE and
the 10 MB auto-threshold still broadcast those sides at local SFs where
they actually fit); this test keeps them out.
"""

from __future__ import annotations

import ast
import os
import re

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "manipula_o_de_dataframes_spark")

# Names that, throughout this codebase, hold data-proportional frames
# (base TPC-H tables or frames derived 1:1 from them); a
# ``read_table*`` scan of any table but nation or region seeds the
# same way, whatever name it is bound to. The AST pass
# below walks each function in statement order: a seed name holds an
# unbounded frame unless it is bound to a literal or a one-row
# reduction, and any other name holds one when it is bound to an
# expression over an unbounded name (``cn = c.join(n, ...)``). A loop
# variable is not a frame inside its loop only, and after a branch a
# name is unbounded if any path left it so. Bounded reductions are
# ``limit`` and an ``agg``/``count`` with no grouping before it in the
# chain, optionally followed by row-preserving calls; a keyed
# aggregate, ``distinct`` or ``dropDuplicates`` keeps one row per key,
# which grows with the data unless the key's domain is fixed. Such a
# fixed-domain hint states its bound on its line (``# bounded: 5
# regions``); that and ``F.broadcast(x) if broadcast_dim else x`` (the
# joins helpers' documented opt-in) are the only exemptions.
_UNBOUNDED = frozenset({
    "c", "s", "p", "o", "li", "of", "dim", "dims", "dimk", "sn", "versioned",
    "customer", "supplier", "part", "orders", "lineitem",
})
_GROUPING = frozenset({"groupBy", "groupby", "rollup", "cube"})
_KEEPS_ROWS = frozenset({
    "select", "filter", "where", "withColumn", "withColumns",
    "withColumnRenamed", "drop", "alias",
})
_GENERATORS = ("explode", "inline", "stack")
# Every ``read_table*`` scan is a data-proportional frame, whatever name
# it is bound to, unless each table it reads is one of these.
_BOUNDED_TABLES = frozenset({"nation", "region"})
_BOUNDED_TAG = re.compile(r"#\s*bounded:\s*\S")
# The line patterns of the first version of this guard, kept as a floor:
# F.broadcast(c) / F.broadcast(customer, ...), and F.broadcast(c.select(...)).
_SEED_RE = r"(?:" + "|".join(sorted(_UNBOUNDED)) + r")"
_FORBIDDEN = [
    re.compile(r"F\.broadcast\(\s*" + _SEED_RE + r"\s*[),]"),
    re.compile(r"F\.broadcast\(\s*" + _SEED_RE + r"\.select"),
]


def _names(target):
    if isinstance(target, ast.Name):
        yield target.id
    elif isinstance(target, (ast.Tuple, ast.List)):
        for elt in target.elts:
            yield from _names(elt)
    elif isinstance(target, ast.Starred):
        yield from _names(target.value)


def _method(expr):
    if isinstance(expr, ast.Call) and isinstance(expr.func, ast.Attribute):
        return expr.func.attr
    return None


def _reduces(expr) -> bool:
    """True when ``expr``'s row count does not grow with the data: its
    outermost call is ``limit`` or a global ``agg``/``count`` (one row),
    after stripping calls that keep the row count (a select without a
    generator, a filter, ...)."""
    while _method(expr) in _KEEPS_ROWS and not any(
        g in ast.unparse(a) for a in expr.args + expr.keywords for g in _GENERATORS
    ):
        expr = expr.func.value
    if _method(expr) == "limit":
        return True
    if _method(expr) not in ("agg", "count"):
        return False
    link = expr.func.value
    while isinstance(link, (ast.Call, ast.Attribute)):
        if isinstance(link, ast.Attribute) and link.attr in _GROUPING:
            return False
        link = link.func if isinstance(link, ast.Call) else link.value
    return True


def _scans_table(expr) -> bool:
    """True when ``expr`` is a ``read_table*`` call whose table names are
    not all constants in ``_BOUNDED_TABLES``."""
    func = expr.func if isinstance(expr, ast.Call) else None
    name = getattr(func, "id", None) or getattr(func, "attr", "")
    if not name.startswith("read_table"):
        return False
    tables = expr.args[2:] if name == "read_tables" else expr.args[2:3]
    tables += [k.value for k in expr.keywords if k.arg == "name"]
    return not tables or not all(
        isinstance(t, ast.Constant) and t.value in _BOUNDED_TABLES for t in tables
    )


def _over(expr, unbounded) -> bool:
    """True when ``expr`` scans an unbounded table or reads an unbounded
    name (not one a comprehension inside it binds), and does not reduce."""
    if _reduces(expr):
        return False
    nodes = list(ast.walk(expr))
    local = {nm for n in nodes if isinstance(n, ast.comprehension) for nm in _names(n.target)}
    return any(
        (isinstance(n, ast.Name) and n.id in unbounded - local) or _scans_table(n)
        for n in nodes
    )


def _bind(target, value, unbounded) -> None:
    if (isinstance(target, (ast.Tuple, ast.List)) and isinstance(value, (ast.Tuple, ast.List))
            and len(target.elts) == len(value.elts)):
        for t, v in zip(target.elts, value.elts):
            _bind(t, v, unbounded)
        return
    for name in _names(target):
        seeded = name in _UNBOUNDED and not (isinstance(value, ast.Constant) or _reduces(value))
        if seeded or _over(value, unbounded):
            unbounded.add(name)
        else:
            unbounded.discard(name)


def _check(expr, unbounded, fn, hits) -> None:
    nodes = list(ast.walk(expr))
    opted_in = {id(n.body) for n in nodes if isinstance(n, ast.IfExp)
                and isinstance(n.test, ast.Name) and n.test.id == "broadcast_dim"}
    hits += [
        (fn, n.lineno, ast.unparse(n.args[0]))
        for n in nodes
        if _method(n) == "broadcast" and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "F" and n.args and id(n) not in opted_in
        and _over(n.args[0], unbounded)
    ]


def _scan(stmts, unbounded, fn, hits) -> None:
    """Walk ``stmts`` in order, updating ``unbounded`` in place. Each
    block of a compound statement starts from the state before it, and a
    name any block leaves unbounded is unbounded after the statement."""
    for st in stmts:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inner = set(unbounded)
            for a in st.args.posonlyargs + st.args.args + st.args.kwonlyargs:
                (inner.add if a.arg in _UNBOUNDED else inner.discard)(a.arg)
            _scan(st.body, inner, st.name, hits)
            unbounded.discard(st.name)
            continue
        if isinstance(st, ast.ClassDef):
            _scan(st.body, set(unbounded), fn, hits)
            continue
        for child in ast.iter_child_nodes(st):
            if isinstance(child, ast.expr):
                _check(child, unbounded, fn, hits)
            elif isinstance(child, ast.withitem):
                _check(child.context_expr, unbounded, fn, hits)
        if isinstance(st, ast.Assign):
            for t in st.targets:
                _bind(t, st.value, unbounded)
        elif isinstance(st, ast.AnnAssign) and st.value is not None:
            _bind(st.target, st.value, unbounded)
        elif isinstance(st, ast.AugAssign) and _over(st.value, unbounded):
            unbounded.update(_names(st.target))
        elif isinstance(st, (ast.With, ast.AsyncWith)):
            for item in st.items:
                if item.optional_vars is not None:
                    _bind(item.optional_vars, item.context_expr, unbounded)
        before = set(unbounded)
        for field in ("body", "orelse", "finalbody", "handlers"):
            for block in ([h.body for h in getattr(st, "handlers", [])]
                          if field == "handlers" else [getattr(st, field, None)]):
                if not block:
                    continue
                state = set(before)
                if field == "body" and isinstance(st, (ast.For, ast.AsyncFor)):
                    state -= set(_names(st.target))
                _scan(block, state, fn, hits)
                unbounded |= state


def unbounded_broadcasts(source: str) -> list[tuple[str, int, str]]:
    """(function, line, argument or line text) of every ``F.broadcast``
    whose argument may grow with the data: the AST pass above, plus the
    first version's line patterns. A line tagged ``# bounded: <why>``
    is exempt from both."""
    hits: list = []
    _scan(ast.parse(source).body, set(_UNBOUNDED), "<module>", hits)
    lines = source.splitlines()
    seen = {line for _fn, line, _arg in hits}
    hits += [
        ("<line>", i, text.strip()) for i, text in enumerate(lines, 1)
        if i not in seen and "broadcast_dim" not in text
        and any(pat.search(text) for pat in _FORBIDDEN)
    ]
    return sorted((h for h in hits if not _BOUNDED_TAG.search(lines[h[1] - 1])),
                  key=lambda h: h[1])


def _py_sources():
    for root, _dirs, files in os.walk(_PKG):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def test_no_broadcast_hints_on_unbounded_tables():
    hits = []
    for path in _py_sources():
        with open(path) as fh:
            for fn, lineno, arg in unbounded_broadcasts(fh.read()):
                hits.append(f"{os.path.relpath(path, _REPO)}:{lineno}: {fn}: F.broadcast({arg})")
    assert not hits, (
        "explicit broadcast hints on data-proportional frames (OOM at "
        "100 TB — VERDICT r10 #1; let the size-checked planner/AQE "
        "decide instead):\n" + "\n".join(hits)
    )


def test_broadcast_guard_follows_assignments():
    src = """
def q(spark, sf_dir, cols):
    chunk_w, dims = 64, 8
    c = read_table(spark, sf_dir, "customer")
    cn = c.join(F.broadcast(n), "k")
    tot = c.agg(F.count("k")).select("__n")
    per_nat = c.groupBy("nation").agg(F.count("k"))
    keys = c.select("k").distinct()
    grid = [F.col(f"s{c}") for c in range(dims)]
    a = o.join(F.broadcast(cn), "k").crossJoin(F.broadcast(tot))
    b = o.join(F.broadcast(per_nat), "k").join(F.broadcast(keys), "k")
    d = o.join(F.broadcast(per_nat), "k")  # bounded: 25 nations
    for c in cols:
        g = F.col(c)
    if cols:
        x = F.broadcast(grid)
    else:
        x = keys
    e = o.join(F.broadcast(c), "k").join(F.broadcast(x), "k")
    h = o.join(F.broadcast(c.limit(5)), "k")
    f = o.join(F.broadcast(c.select("k")), "k")  # bounded:
    return F.broadcast(dim) if broadcast_dim else dim
"""
    assert sorted((line, arg) for _fn, line, arg in unbounded_broadcasts(src)) == [
        (10, "cn"), (11, "keys"), (11, "per_nat"), (19, "c"), (19, "x"), (21, "c.select('k')"),
    ]


def test_broadcast_guard_seeds_table_scans():
    src = """
def q(spark, sf_dir, t):
    ev = read_table(spark, sf_dir, "events")
    n = read_table(spark, sf_dir, "nation")
    per_type = ev.groupBy("event_type").agg(F.count("k"))
    a = x.join(F.broadcast(per_type), "k").join(F.broadcast(n), "k")
    b = x.join(F.broadcast(read_table_parallel(spark, sf_dir, t)), "k")
    d = x.join(F.broadcast(per_type), "k")  # bounded: 5 event types
    return x.crossJoin(F.broadcast(ev.agg(F.count("k"))))
"""
    assert [(line, arg) for _fn, line, arg in unbounded_broadcasts(src)] == [
        (6, "per_type"), (7, "read_table_parallel(spark, sf_dir, t)"),
    ]


def test_broadcast_guard_keeps_the_first_versions_lines():
    src = "def q(c):\n    c = 1\n    return x.join(F.broadcast(c), 'k')\n"
    assert [line for _fn, line, _arg in unbounded_broadcasts(src)] == [3]


@pytest.mark.parametrize(
    "name", ["join_order_audit", "association_rules", "hyperball_2hop", "ltv_cohorts"]
)
def test_rewritten_queries_match_oracle_at_sf0_01(spark, name):
    """Oracle rows at sf0.01 for the queries whose plans changed:
    ``join_order_audit`` lost its hint on customer⋈nation,
    ``association_rules`` its hints on the per-part item census, and
    ``hyperball_2hop`` counts its degree over the spooled HyperBall input,
    and ``ltv_cohorts`` lost its hint on the per-cohort-week sizes
    (sf0.001 is covered by the parity suite)."""
    from manipula_o_de_dataframes_spark.oracles import ORACLES
    from manipula_o_de_dataframes_spark.parity import compare, run_oracle
    from manipula_o_de_dataframes_spark.queries import QUERIES

    from .conftest import SF_CORRECT

    issues = compare(QUERIES[name](spark, SF_CORRECT), run_oracle(ORACLES[name], SF_CORRECT))
    assert not issues, f"{name}: " + " | ".join(issues)


def test_global_ranks_scaled_rejects_bad_specs():
    import pytest

    from manipula_o_de_dataframes_spark.operators.windows import global_ranks_scaled

    # validation fires before any Spark work, so no session is needed
    with pytest.raises(ValueError, match="non-empty"):
        global_ranks_scaled(None, ())
    with pytest.raises(ValueError, match="duplicate out_col"):
        global_ranks_scaled(
            None,
            (("a", "rank", True, ()), ("b", "rank", False, ())),
        )
