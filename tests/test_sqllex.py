"""The one SQL lexer (functions/sqllex.py): its rule, and an AST guard
that keeps every other statement scan on it (no JVM needed)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from amazonredshift_blueprints_spark.functions import sqllex

_PKG = Path(__file__).resolve().parent.parent / "amazonredshift_blueprints_spark"
_SCANNING_MODULES = [
    "sqlrun.py",
    "timetravel.py",
    "functions/redshift_compat.py",
    "functions/procedures.py",
    "functions/prepared.py",
    "functions/dml_statements.py",
    "functions/copy_unload.py",
]


@pytest.mark.parametrize(
    "text, i, end",
    [
        ("'it''s' x", 0, 7),
        ('"a""b" x', 0, 6),
        ("'open", 0, 5),
        ("-- c\nx", 0, 4),
        ("/* a /* b */ c */ x", 0, 17),
        ("/* open", 0, 7),
        ("$$a;b$$ x", 0, 7),
        ("$f$ $$ ; $f$ x", 0, 12),
        ("$1 + $2", 0, 0),
        ("$1$", 0, 0),
        ("x", 0, 0),
    ],
)
def test_skip(text, i, end):
    assert sqllex.skip(text, i) == end


def test_top_level_find_split_and_close_paren():
    sql = "SELECT f(a, ')'), \"b,c\" /* , */ FROM t -- , FROM"
    assert sqllex.split(sql[7:]) == ["f(a, ')')", '"b,c" /* , */ FROM t -- , FROM']
    assert [m.start() for m in sqllex.finditer(sql, re.compile("FROM"))] == [32]
    assert sqllex.close_paren(sql, 8) == 15
    assert sqllex.close_paren("f((a)", 1) is None
    assert sqllex.split("  ") == []


def test_sub_rewrites_code_only():
    pat = re.compile(r"\bx\b")
    assert sqllex.sub(pat, "y", "x 'x' \"x\" -- x\nx /* x */") == (
        "y 'x' \"x\" -- x\ny /* x */"
    )


def test_code_span_and_statement():
    sql = "/* lead */ -- more\n  SELECT 'a -- b' -- tail\n"
    start, end = sqllex.code_span(sql)
    assert sql[start:end] == "SELECT 'a -- b'"
    assert sqllex.code_span("-- only") == (7, 7)
    assert sqllex.statement("a ';' ; b", 0) == ("a ';'", 7)
    assert sqllex.statement("a ';' ; b", 7) == ("b", 9)


def _lexical(node: ast.AST) -> bool:
    """True when a comparison operand spells a quote, a paren or a
    comment opener (alone, or as a tuple/set/list of them)."""
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return any(_lexical(e) for e in node.elts)
    if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
        return False
    s = node.value
    return bool(s) and (
        set(s) <= {"'", '"'} or set(s) <= {"(", ")"} or s in ("--", "/*")
    )


_LOOPS = (ast.For, ast.While, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _violations(source: str) -> list[str]:
    tree = ast.parse(source)
    found = set()
    for loop in ast.walk(tree):
        if not isinstance(loop, _LOOPS):
            continue
        for node in ast.walk(loop):
            if isinstance(node, ast.Compare) and any(
                _lexical(x) for x in [node.left, *node.comparators]
            ):
                found.add(f"{node.lineno}: loop compares a character with a quote/paren")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "re"
            and node.func.attr in ("split", "finditer")
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and "[^'" in str(node.args[0].value)
        ):
            found.add(f"{node.lineno}: re.{node.func.attr} on a quoted-literal pattern")
    return sorted(found)


@pytest.mark.parametrize("module", _SCANNING_MODULES)
def test_one_lexer(module):
    """Outside sqllex, no loop tells code from literals by comparing
    characters with quotes or parens, and no regex splits text on a
    quoted-literal pattern: every such scan calls the lexer."""
    assert _violations((_PKG / module).read_text()) == []


def test_one_lexer_guard_catches_a_scanner():
    scanner = (
        "def f(s):\n"
        "    for ch in s:\n"
        "        if ch in (\"'\", '\"'):\n"
        "            pass\n"
        "    return re.split(r\"('(?:[^']|'')*')\", s)\n"
    )
    assert len(_violations(scanner)) == 2
