"""Emitted SQL text quotes what it splices in.

``common.sql_str`` quotes a string literal and ``common.sql_ident`` an
identifier. The AST guard below walks ``ilogtail_spark/`` and flags any
f-string reaching ``F.expr``/``expr``/``selectExpr``/``spark.sql``
whose substitutions are not built from those two, ints, string
literals or module constants.
"""

from __future__ import annotations

import ast
import os

import pandas as pd
from pyspark.sql import functions as F

from ilogtail_spark.common import sql_ident
from ilogtail_spark.operators.transform import log_to_metric

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "ilogtail_spark")

SQL_SINKS = {"expr", "selectExpr", "sql"}
SAFE_CALLS = {"sql_str", "sql_ident", "int", "len"}
UNKNOWN = object()  # a binding the guard cannot see into (argument, loop target, unpacking)


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _bindings(scope: ast.AST) -> dict[str, list]:
    """Every value a name is given in ``scope`` (a module or function)."""
    out: dict[str, list] = {}
    for node in ast.walk(scope):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        out.setdefault(n.id, []).append(
                            node.value if isinstance(t, ast.Name) else UNKNOWN)
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)) and isinstance(node.target, ast.Name):
            out.setdefault(node.target.id, []).append(node.value or UNKNOWN)
        elif isinstance(node, ast.arguments):
            for a in node.posonlyargs + node.args + node.kwonlyargs + [node.vararg, node.kwarg]:
                if a is not None:
                    out.setdefault(a.arg, []).append(UNKNOWN)
        elif isinstance(node, (ast.For, ast.comprehension, ast.NamedExpr)):
            for n in ast.walk(node.target):
                if isinstance(n, ast.Name):
                    out.setdefault(n.id, []).append(UNKNOWN)
    return out


def _module_constants(tree: ast.Module) -> set[str]:
    return {
        t.id for node in tree.body if isinstance(node, ast.Assign)
        for t in node.targets if isinstance(t, ast.Name) and t.id.lstrip("_").isupper()
    }


class _Guard:
    def __init__(self, tree: ast.Module) -> None:
        self.consts = _module_constants(tree)
        self.local: dict[str, list] = {}

    def safe(self, node, seen=frozenset()) -> bool:
        if isinstance(node, ast.Constant):
            return isinstance(node.value, (str, int)) and not isinstance(node.value, bool)
        if isinstance(node, ast.JoinedStr):
            return all(isinstance(v, ast.Constant) or self.safe(v.value, seen) for v in node.values)
        if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
            return self.safe(node.left, seen) and self.safe(node.right, seen)
        if isinstance(node, ast.IfExp):
            return self.safe(node.body, seen) and self.safe(node.orelse, seen)
        if isinstance(node, ast.Call):
            if _callee(node) in SAFE_CALLS:
                return True
            # "<sep>".join(<safe items>)
            f = node.func
            if (isinstance(f, ast.Attribute) and f.attr == "join" and isinstance(f.value, ast.Constant)
                    and len(node.args) == 1):
                arg = node.args[0]
                if isinstance(arg, (ast.GeneratorExp, ast.ListComp)):
                    return self.safe(arg.elt, seen)
                if isinstance(arg, (ast.List, ast.Tuple)):
                    return all(self.safe(e, seen) for e in arg.elts)
            return False
        if isinstance(node, ast.Name):
            if node.id in self.local:
                if node.id in seen:
                    return True  # a cycle adds no new value
                vals = self.local[node.id]
                return all(v is not UNKNOWN and self.safe(v, seen | {node.id}) for v in vals)
            return node.id in self.consts
        return False

    def is_fstring(self, node, seen=frozenset()) -> bool:
        if isinstance(node, ast.JoinedStr):
            return True
        if isinstance(node, ast.BinOp):
            return self.is_fstring(node.left, seen) or self.is_fstring(node.right, seen)
        if isinstance(node, ast.Name) and node.id in self.local and node.id not in seen:
            return any(v is not UNKNOWN and self.is_fstring(v, seen | {node.id})
                       for v in self.local[node.id])
        return False


def unquoted_sql(source: str, filename: str = "<src>") -> list[str]:
    """``file:line: <argument>`` for each f-string passed to an SQL sink
    with a substitution the guard cannot show to be quoted."""
    tree = ast.parse(source, filename)
    guard = _Guard(tree)
    bad = []

    def visit(scope: ast.AST, local: dict[str, list]) -> None:
        for node in ast.iter_child_nodes(scope):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                visit(node, {**local, **_bindings(node)})
                continue
            if isinstance(node, ast.Call) and _callee(node) in SQL_SINKS:
                guard.local = local
                for arg in node.args:
                    if guard.is_fstring(arg) and not guard.safe(arg):
                        bad.append(f"{filename}:{node.lineno}: {ast.unparse(arg)}")
            visit(node, local)

    visit(tree, {})
    return bad


def test_guard_flags_unquoted_substitutions():
    bad = '''
from pyspark.sql import functions as F
def f(df, keys, n, name):
    args = ", ".join(f"'{k}', `{k}`" for k in keys)
    q = f"select {name}"
    df.selectExpr(f"x + {n}")
    spark.sql(q)
    return F.expr(f"stack({len(keys)}, {args})")
'''
    assert len(unquoted_sql(bad)) == 3
    good = '''
from pyspark.sql import functions as F
from ilogtail_spark.common import sql_ident
_T = "array<string>"
def f(df, keys, n, flag):
    args = ", ".join(f"{sql_str(k)}, {sql_ident(k)}" for k in keys)
    op = "AND" if flag else "OR"
    cond = f"a {op} b"
    cond += f" AND c < {int(n)}"
    df.selectExpr(f"cast(array() as {_T})", f"{cond}")
    return F.expr(f"stack({len(keys)}, {args})")
'''
    assert unquoted_sql(good) == []


def test_package_sql_fstrings_are_quoted():
    bad = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as fh:
                    bad += unquoted_sql(fh.read(), os.path.relpath(path, PKG))
    assert bad == [], "unquoted SQL substitutions:\n" + "\n".join(bad)


def test_sql_ident_round_trip(spark):
    names = ["plain", "x`y", "``", "a'b", "c\\d", "延迟 ms"]
    df = spark.range(1).select(*[F.lit(i).alias(n) for i, n in enumerate(names)])
    got = df.selectExpr(*[sql_ident(n) for n in names]).collect()[0]
    assert list(got) == list(range(len(names)))


KEYS = ["a'b", "c\\d", "x`y", "latência_延迟"]


def test_log_to_metric_quotes_value_keys(spark):
    """Each value key reaches ``__name__`` unchanged and its column is
    read, compared with a twin built from ``Column`` calls."""
    df = spark.createDataFrame(pd.DataFrame({
        "host": ["h1", "h2", "h3"],
        "ts": [1, 2, 3],
        KEYS[0]: ["1.5", None, "9"],
        KEYS[1]: ["2", "3", None],
        KEYS[2]: ["4", "5", "6"],
        KEYS[3]: [None, "7.25", "8"],
    }))
    got = log_to_metric(df, ["host"], KEYS, "ts")

    positional = df.toDF("host", "ts", *[f"v{i}" for i in range(len(KEYS))])
    twin = None
    for i, k in enumerate(KEYS):
        part = positional.select(
            "host", "ts", F.lit(k).alias("__name__"),
            F.col(f"v{i}").cast("double").alias("__value__"),
        ).filter(F.col("__value__").isNotNull())
        twin = part if twin is None else twin.unionByName(part)

    assert got.columns == twin.columns
    assert sorted(got.collect()) == sorted(twin.collect())
    assert {r["__name__"] for r in got.collect()} == set(KEYS)

