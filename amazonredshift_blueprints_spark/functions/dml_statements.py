"""Statement-face DELETE / UPDATE / MERGE parsing.

Reference basis: Redshift DML statements arrive verbatim through the
reference's pass-through site (execute_sql.py:77). Spark SQL refuses
DELETE/UPDATE/MERGE against v1 parquet catalog tables (those verbs
belong to table formats), so without this shim a migrated Redshift
script's DML dies in the analyzer. The parsers below recognize the
standard statement shapes and lower them onto the copy-on-write
implementations in ``dml.py`` (delete_from / update_table /
merge_into) — same semantics, same per-table writer lock, same
transaction-buffer routing (the dml functions resolve the staged table
themselves via ``transactions.resolve_active``).

Deliberately strict: only shapes whose semantics the dml layer
faithfully implements are accepted; anything else raises ``ValueError``
naming the unsupported construct (DELETE ... USING, UPDATE ... FROM,
non-wholesale MERGE arms) rather than mis-executing it. The regexes are
``^``-anchored, and every split point and rewrite goes through the
:mod:`.sqllex` rule, the same conservatism as redshift_compat.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from . import sqllex

_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([`\w.]+)\s*(?:WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_USING_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+[`\w.]+\s+USING\b", re.IGNORECASE
)
_DELETE_USING_FULL_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([`\w.]+)\s+USING\s+([`\w.]+)"
    r"(?:\s+(?:AS\s+)?(?!WHERE\b)(\w+))?\s+WHERE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_FROM_SRC_RE = re.compile(
    r"^\s*([`\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s*$", re.IGNORECASE
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+([`\w.]+)\s+SET\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHERE_RE = re.compile(r"\bWHERE\b", re.IGNORECASE)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+([`\w.]+)\s+USING\s+([`\w.]+)"
    r"(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+(.+?)\s+"
    r"(WHEN\s+(?:NOT\s+)?MATCHED\b.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# an arm can only start at WHEN [NOT] MATCHED: a CASE WHEN inside an
# arm's expression stays in that arm
_WHEN_SPLIT_RE = re.compile(r"\bWHEN\s+(?=(?:NOT\s+)?MATCHED\b)", re.IGNORECASE)
_AND_RE = re.compile(r"\bAND\b", re.IGNORECASE)
_FROM_WORD_RE = re.compile(r"\bFROM\b", re.IGNORECASE)
_MATCHED_UPDATE_RE = re.compile(
    r"^MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_MATCHED_DELETE_RE = re.compile(
    r"^MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+DELETE\s*$",
    re.IGNORECASE | re.DOTALL,
)
_NOT_MATCHED_INSERT_RE = re.compile(
    r"^NOT\s+MATCHED\s+THEN\s+INSERT\s*(?:\(([^)]*)\)\s*)?"
    r"VALUES\s*\((.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ON_PAIR_RE = re.compile(
    r"^\s*(\w+)\.([`\w]+)\s*=\s*(\w+)\.([`\w]+)\s*$"
)


def _strip_alias(col: str) -> str:
    return col.strip().strip("`")


def _dequalify(expr: str, alias: str) -> str:
    """Rewrite ``alias.col`` → ``col`` — merge_into evaluates its
    delete_condition against the RAW source row, where the statement's
    source alias does not exist (Spark would parse ``s.col`` as
    struct-field extraction on a column ``s``)."""
    pat = re.compile(rf"\b{re.escape(alias)}\.(\w+)", re.IGNORECASE)
    return sqllex.sub(pat, r"\1", expr)


def _requalify_update(
    expr: str, src_alias: str, target: str, t_short: str, keys: list[str]
) -> str:
    """Rewrite a MERGE UPDATE-arm expression into merge_into's joined-
    row namespace: ``<src_alias>.col`` →
    ``_src_col`` (the aliased source columns — except the join keys,
    which ride the USING join under their own names; on a matched row
    the source key equals the target key, so ``s.k`` → ``k`` is exact)
    and ``<target>.col`` / ``<t_short>.col`` → ``col`` (target columns
    keep their own names after the join)."""
    key_set = {k.lower() for k in keys}
    src_pat = re.compile(rf"\b{re.escape(src_alias)}\.(\w+)", re.IGNORECASE)
    tgt_names = {t_short, target.strip("`"), target.split(".")[-1].strip("`")}
    tgt_pats = [
        re.compile(rf"\b{re.escape(t)}\.(\w+)", re.IGNORECASE)
        for t in tgt_names
        if t
    ]

    def sub_src(m: re.Match) -> str:
        col = m.group(1)
        return col if col.lower() in key_set else f"_src_{col}"

    expr = sqllex.sub(src_pat, sub_src, expr)
    for tp in tgt_pats:
        expr = sqllex.sub(tp, r"\1", expr)
    return expr


def _requalify_insert(
    expr: str, src_alias: str, target: str, t_short: str, keys: list[str]
) -> str:
    """Rewrite a MERGE INSERT-arm VALUES expression into merge_into's
    joined-row namespace: ``<src_alias>.col`` → ``_src_col`` (join keys
    → their own ridden-through names, as in the update arm). Target
    references REFUSE by name — every target column is NULL on an
    insert row, so ``t.col`` in VALUES can only be a mistake."""
    key_set = {k.lower() for k in keys}
    src_pat = re.compile(rf"\b{re.escape(src_alias)}\.(\w+)", re.IGNORECASE)
    tgt_names = {t_short, target.strip("`"), target.split(".")[-1].strip("`")}
    tgt_pats = [
        re.compile(rf"\b{re.escape(t)}\.(\w+)", re.IGNORECASE)
        for t in tgt_names
        if t and t.lower() != src_alias.lower()
    ]

    def sub_src(m: re.Match) -> str:
        col = m.group(1)
        return col if col.lower() in key_set else f"_src_{col}"

    if any(sqllex.find(expr, tp, top=False) for tp in tgt_pats):
        raise ValueError(
            "MERGE INSERT VALUES cannot reference the target "
            "(all target columns are NULL on an insert row): "
            f"{expr.strip()!r}"
        )
    return sqllex.sub(src_pat, sub_src, expr)


def _parse_on_keys(on: str, target: str, src_alias: str) -> list[str]:
    """``t.k = s.k [AND ...]`` → the merge key column list. Only
    same-named equality conjunctions qualify (merge_into joins on
    shared column names); anything else is refused."""
    t_short = target.split(".")[-1].strip("`").lower()
    keys = []
    for clause in sqllex.split(on, _AND_RE):
        m = _ON_PAIR_RE.match(clause)
        if not m:
            raise ValueError(
                f"MERGE ON supports only alias.col = alias.col equality "
                f"conjunctions, got {clause.strip()!r}"
            )
        a_al, a_col, b_al, b_col = (
            m.group(1).lower(),
            _strip_alias(m.group(2)),
            m.group(3).lower(),
            _strip_alias(m.group(4)),
        )
        aliases = {a_al, b_al}
        if not aliases <= {t_short, src_alias.lower()}:
            raise ValueError(
                f"MERGE ON references unknown alias in {clause.strip()!r} "
                f"(target {t_short!r}, source {src_alias!r})"
            )
        if a_col.lower() != b_col.lower():
            raise ValueError(
                "MERGE lowers onto a shared-column-name key join; "
                f"ON pairs different columns: {clause.strip()!r}"
            )
        keys.append(a_col)
    return keys


def maybe_handle(spark: SparkSession, query: str) -> bool:
    """Recognize and execute DELETE / UPDATE / MERGE; True if handled."""
    if _DELETE_USING_RE.match(query):
        # Redshift's join-delete (r16; previously a named refusal):
        # DELETE FROM t USING s [AS a] WHERE <cond over both> — target
        # rows matching ANY source row under the condition leave.
        # Source references must be alias-qualified (a.col); target
        # references may be qualified or bare.
        m = _DELETE_USING_FULL_RE.match(query)
        if not m:
            raise ValueError(
                "DELETE ... USING shape not lowered: supported form is "
                "DELETE FROM t USING src [AS a] WHERE <condition> "
                "(single table source; subqueries need a staged table "
                "or dml.delete_using)"
            )
        target, source, src_alias, cond = m.groups()
        src_alias = (src_alias or source.split(".")[-1]).strip("`")
        t_short = target.split(".")[-1].strip("`").lower()
        from ..dml import delete_using

        delete_using(
            spark,
            target,
            spark.table(source),
            _requalify_update(cond, src_alias, target, t_short, []),
        )
        return True
    m = _DELETE_RE.match(query)
    if m:
        from ..dml import delete_from

        # bare DELETE (no WHERE) removes every row
        delete_from(spark, m.group(1), m.group(2) or "true")
        return True
    m = _UPDATE_RE.match(query)
    if m:
        table, set_clause = m.groups()
        cond = None
        where = sqllex.find(set_clause, _WHERE_RE)
        if where:
            set_clause, cond = (
                set_clause[: where.start()].strip(),
                set_clause[where.end() :].strip(),
            )
            if not cond:
                raise ValueError("UPDATE ... WHERE needs a condition")
        from_m = sqllex.find(set_clause, _FROM_WORD_RE)
        if from_m:
            # Redshift's joined update (r16; previously a named
            # refusal): UPDATE t SET ... FROM src [AS a] WHERE
            # t.k = a.k [AND extra...] — the key-equality conjunctions
            # become the join, everything else rides as an extra match
            # condition; SET expressions see target columns bare and
            # source columns as a.col
            src_spec = set_clause[from_m.end() :]
            sets_text = set_clause[: from_m.start()]
            ms = _FROM_SRC_RE.match(src_spec)
            if not ms or cond is None:
                raise ValueError(
                    "UPDATE ... FROM shape not lowered: supported form "
                    "is UPDATE t SET ... FROM src [AS a] WHERE "
                    "t.k = a.k [AND ...] (single table source; "
                    "subqueries need a staged table or dml.update_from)"
                )
            source, src_alias = ms.groups()
            src_alias = (src_alias or source.split(".")[-1]).strip("`")
            t_short = table.split(".")[-1].strip("`").lower()
            keys, extras = [], []
            for clause in filter(None, sqllex.split(cond, _AND_RE)):
                mp = _ON_PAIR_RE.match(clause)
                if mp:
                    a_al, a_col, b_al, b_col = (
                        mp.group(1).lower(),
                        _strip_alias(mp.group(2)),
                        mp.group(3).lower(),
                        _strip_alias(mp.group(4)),
                    )
                    # different column names are the NORM here
                    # (o_custkey = c_custkey) — any target↔source
                    # equality becomes a join-key pair
                    if {a_al, b_al} == {t_short, src_alias.lower()}:
                        keys.append(
                            (a_col, b_col) if a_al == t_short
                            else (b_col, a_col)
                        )
                        continue
                extras.append(clause)
            if not keys:
                raise ValueError(
                    "UPDATE ... FROM needs at least one t.k = a.k "
                    "key equality in WHERE to join on; got "
                    f"{cond.strip()!r}"
                )
            # ALL source columns (keys included) live as _src_<name>
            # in update_from's joined namespace → keys=[] here
            assignments = {}
            for part in sqllex.split(sets_text):
                k, eq, v = part.partition("=")
                if not eq or not k.strip() or not v.strip():
                    raise ValueError(
                        f"unparseable SET assignment {part.strip()!r}"
                    )
                lhs = _strip_alias(k).lower().removeprefix(f"{t_short}.")
                assignments[lhs] = _requalify_update(
                    v.strip(), src_alias, table, t_short, []
                )
            extra = (
                " AND ".join(
                    f"({_requalify_update(e, src_alias, table, t_short, [])})"
                    for e in extras
                )
                or None
            )
            from ..dml import update_from

            update_from(
                spark,
                table,
                spark.table(source),
                keys,
                assignments,
                extra_condition=extra,
            )
            return True
        assignments = {}
        for part in sqllex.split(set_clause):
            k, _, v = part.partition("=")
            if not _ or not k.strip() or not v.strip():
                raise ValueError(f"unparseable SET assignment {part!r}")
            assignments[_strip_alias(k)] = v.strip()
        from ..dml import update_table

        update_table(spark, table, assignments, cond or "true")
        return True
    if re.match(r"^\s*MERGE\s+INTO\b", query, re.IGNORECASE) and not _MERGE_RE.match(
        query
    ):
        raise ValueError(
            "MERGE shape not lowered: supported form is MERGE INTO t USING "
            "src [AS a] ON t.k = a.k [AND ...] WHEN MATCHED [AND cond] THEN "
            "DELETE / WHEN MATCHED THEN UPDATE SET ... / WHEN NOT MATCHED "
            "THEN INSERT ... (table source only; subqueries need a staged "
            "table or dml.merge_into)"
        )
    m = _MERGE_RE.match(query)
    if m:
        target, source, src_alias, on, arms_text = m.groups()
        src_alias = (src_alias or source.split(".")[-1]).strip("`")
        keys = _parse_on_keys(on, target, src_alias)
        delete_condition = None
        update_exprs = None
        insert_exprs = None
        saw_update = saw_insert = False
        arms = [a for a in sqllex.split(arms_text, _WHEN_SPLIT_RE) if a]
        t_short = target.split(".")[-1].strip("`").lower()
        for arm in arms:
            mu = _MATCHED_UPDATE_RE.match(arm)
            md = _MATCHED_DELETE_RE.match(arm)
            mi = _NOT_MATCHED_INSERT_RE.match(arm)
            if mu:
                # the UPDATE arm: wholesale (col = <alias>.col for every
                # column) keeps the classic upsert plan; anything else —
                # a PARTIAL column list or expression-valued assignments
                # (Redshift allows both, r16) — lowers to merge_into's
                # update_exprs over the joined row. Join keys may only
                # be assigned their own value (a no-op Redshift also
                # permits; an actual key change would re-key the join).
                exprs: dict[str, str] = {}
                wholesale = True
                for part in sqllex.split(mu.group(1)):
                    k, eq, v = part.partition("=")
                    if not eq or not k.strip() or not v.strip():
                        raise ValueError(
                            f"unparseable MERGE SET assignment {part.strip()!r}"
                        )
                    lhs = _strip_alias(k).lower().removeprefix(f"{t_short}.")
                    rhs = v.strip()
                    if rhs.lower() != f"{src_alias.lower()}.{lhs}":
                        wholesale = False
                    translated = _requalify_update(
                        rhs, src_alias, target, t_short, keys
                    )
                    if lhs in (x.lower() for x in keys):
                        norm = translated.lower().replace(" ", "")
                        if norm not in (f"_src_{lhs}", lhs):
                            raise ValueError(
                                "MERGE cannot change a join key: "
                                f"{part.strip()!r}"
                            )
                        continue  # a no-op key self-assignment
                    exprs[lhs] = translated
                tgt_cols = [
                    c.lower()
                    for c in spark.table(target).columns
                    if c.lower() not in (x.lower() for x in keys)
                ]
                update_exprs = (
                    None
                    if wholesale and sorted(exprs) == sorted(tgt_cols)
                    else exprs
                )
                saw_update = True
            elif md:
                delete_condition = (
                    _dequalify(md.group(1), src_alias) if md.group(1) else None
                )
            elif mi:
                # two lowerings (r16): VALUES listing the source columns
                # verbatim in source order keeps the classic wholesale
                # upsert plan; anything else — a PARTIAL/reordered
                # column list or expression VALUES (Redshift allows
                # both) — lowers to merge_into's insert_exprs over the
                # joined row, with unlisted non-key columns inserting
                # NULL (the no-column-default parquet reading of
                # Redshift's DEFAULT)
                vals = sqllex.split(mi.group(2))
                src_cols = [c.lower() for c in spark.table(source).columns]
                tgt_all = [c.lower() for c in spark.table(target).columns]
                if mi.group(1):
                    cols = [
                        _strip_alias(c).lower()
                        for c in mi.group(1).split(",")
                        if c.strip()
                    ]
                else:
                    # no column list: one value per target column in
                    # declared order (Redshift's own rule)
                    cols = tgt_all
                if len(cols) != len(vals):
                    raise ValueError(
                        f"MERGE INSERT arm lists {len(cols)} column(s) "
                        f"but {len(vals)} value(s)"
                    )
                unknown = [c for c in cols if c not in tgt_all]
                if unknown:
                    raise ValueError(
                        "MERGE INSERT arm names unknown target "
                        f"column(s): {unknown}"
                    )
                if len(set(cols)) != len(cols):
                    raise ValueError(
                        "MERGE INSERT arm assigns a column twice"
                    )
                wholesale_ins = cols == src_cols and [
                    v.lower() for v in vals
                ] == [f"{src_alias.lower()}.{c}" for c in src_cols]
                if not wholesale_ins:
                    insert_exprs = {
                        c: _requalify_insert(
                            v, src_alias, target, t_short, keys
                        )
                        for c, v in zip(cols, vals)
                    }
                saw_insert = True
            else:
                raise ValueError(f"unsupported MERGE arm: WHEN {arm[:60]!r}")
        if not (saw_update and saw_insert):
            raise ValueError(
                "MERGE requires both WHEN MATCHED THEN UPDATE and WHEN NOT "
                "MATCHED THEN INSERT arms (Redshift's own rule)"
            )
        from ..dml import merge_into

        merge_into(
            spark,
            target,
            spark.table(source),
            keys,
            delete_condition=delete_condition,
            # statement face = Redshift MERGE semantics: the delete arm
            # only sees MATCHED rows; unmatched delete-marked rows insert
            insert_unmatched_deletes=True,
            update_exprs=update_exprs,
            insert_exprs=insert_exprs,
        )
        return True
    return False
