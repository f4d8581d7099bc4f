"""SQL-text DML front over :class:`LakeTable` (MERGE / DELETE / UPDATE /
TRUNCATE).

The reference drives its upserts with SQL MERGE statements over temp
views (``/root/reference/jobs/merge_orders_silver.py:135-147`` for the
3-clause CDC merge, ``:156-165`` for the scalar checkpoint merge with a
``USING (SELECT ...)`` subquery source). This module parses exactly
that statement family and executes it through the programmatic merge —
textual parity for S7→J1 without a full SQL grammar:

    MERGE INTO <table> [AS] t
    USING (<subquery>) | <view> [AS] s
    ON t.k = s.k [AND t.k2 = s.k2 ...]
    [WHEN MATCHED [AND <cond>] THEN DELETE]
    [WHEN MATCHED [AND <cond>] THEN UPDATE SET col = expr, ...]
    [WHEN NOT MATCHED [AND <cond>] THEN INSERT (cols) VALUES (exprs)]
    [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE]
    [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET col = expr, ...]

Aliases are free (normalized to the ``t``/``s`` the executor uses);
conditions and expressions are arbitrary Spark SQL scalars. The parser
is deliberately strict — a clause it cannot map onto the supported
clauses raises rather than mis-executing. WHEN MATCHED clauses honor
STATEMENT order (SQL fires the first matching clause): when UPDATE is
written before DELETE, the delete condition is masked with
``NOT coalesce(update_cond, false)`` before reaching the executor,
whose fixed evaluation order is delete-then-update; the NOT MATCHED BY
SOURCE pair (Delta's retention-delete/mark-stale clauses) gets the
same masking, and its conditions/assignments must reference only
target columns (a source reference raises).

Scale note: execution inherits the programmatic merge's plan contract
(three BroadcastHashJoins, target never shuffled; optional
``partition_filter`` scopes the copy-on-write).

:func:`sql_dml` extends the front to the rest of the DML a
Trino/Spark-SQL user of the reference would run against its Iceberg
tables — ``DELETE FROM ... [WHERE]``, ``UPDATE ... SET ... [WHERE]``,
``TRUNCATE TABLE`` — routed onto the LakeTable copy-on-write ops
(which preserve snapshot isolation + time travel), with MERGE
statements dispatched to :func:`sql_merge`.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.tables import LakeTable


class MergeSqlError(ValueError):
    """The statement does not fit the supported MERGE shape."""


def _resolve_table(name: str, tables: dict[str, LakeTable]) -> LakeTable:
    """Resolve a (possibly catalog-qualified) table name: exact match
    first, then a 3-part name by its last two segments (the reference's
    ``{CATALOG}.schema.table`` needs no rewrite)."""
    t = tables.get(name)
    if t is None and name.count(".") == 2:
        t = tables.get(name.split(".", 1)[1])
    if t is None:
        raise MergeSqlError(f"unknown DML target {name!r}")
    return t


def _scan(text: str):
    """Yield (index, char, depth, in_quote) with quote- and
    backslash-escape-aware paren tracking — THE one tokenizer every
    statement-splitting helper in this module shares (a helper that
    forgets quotes or escapes mis-splits valid SQL; review findings
    showed three independent copies drifting)."""
    depth, quote = 0, None
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if quote:
            if ch == "\\" and i + 1 < n:  # Spark SQL backslash escape
                yield i, ch, depth, True
                i += 1
                yield i, text[i], depth, True
                i += 1
                continue
            if ch == quote:
                quote = None
                yield i, ch, depth, True
                i += 1
                continue
            yield i, ch, depth, True
            i += 1
            continue
        if ch in "'\"":
            quote = ch
            yield i, ch, depth, True
        elif ch == "(":
            depth += 1
            yield i, ch, depth, False
        elif ch == ")":
            depth -= 1
            yield i, ch, depth, False
        else:
            yield i, ch, depth, False
        i += 1


def _strip_parens_source(rest: str) -> tuple[str, str] | None:
    """If ``rest`` starts with a parenthesized subquery, return
    (subquery_text, remainder) — paren balancing is quote-aware, so a
    ``')'`` inside a string literal can't truncate the subquery."""
    if not rest.startswith("("):
        return None
    for i, ch, depth, in_quote in _scan(rest):
        if ch == ")" and depth == 0 and not in_quote:
            return rest[1:i], rest[i + 1 :]
    raise MergeSqlError("unbalanced parentheses in USING subquery")


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses and quotes (backslash
    escapes inside strings respected)."""
    parts, last = [], 0
    for i, ch, depth, in_quote in _scan(text):
        if ch == sep and depth == 0 and not in_quote:
            parts.append(text[last:i].strip())
            last = i + 1
    parts.append(text[last:].strip())
    return [p for p in parts if p]


_HEAD_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>[\w.`]+)"
    r"(?:\s+(?:AS\s+)?(?P<talias>(?!USING\b)\w+))?\s+"
    r"USING\s+(?P<rest>.+)$",
    re.I | re.S,
)

_CLAUSE_RE = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED(?P<bysrc>\s+BY\s+SOURCE)?"
    r"(?:\s+AND\s+(?P<cond>.*?))?\s+THEN\s+"
    r"(?P<action>DELETE|UPDATE\s+SET\s+.*?|INSERT\s*\(.*?\)\s*VALUES\s*\(.*?\))"
    r"\s*(?=WHEN\s+(?:NOT\s+)?MATCHED|\Z)",
    re.I | re.S,
)

_ON_CONJUNCT_RE = re.compile(
    r"^\s*(\w+)\.(\w+)\s*(=|<=>)\s*(\w+)\.(\w+)\s*$"
)


def _normalize_aliases(expr: str, talias: str | None, salias: str) -> str:
    """Rewrite ``<talias>.`` → ``t.`` and ``<salias>.`` → ``s.`` —
    case-insensitively (SQL aliases are), and ONLY outside string
    literals (an alias-shaped prefix inside a quoted value like
    ``'o.box 3'`` must never be rewritten — that would silently commit
    corrupted data)."""
    mapping = {salias.lower(): "s."}
    if talias:
        if talias.lower() == salias.lower():
            raise MergeSqlError(
                f"target and source aliases collide: {talias!r} / {salias!r}"
            )
        mapping[talias.lower()] = "t."
    # Single-pass alternation: each alias token is rewritten exactly once,
    # so a target aliased 's'/'S' (or replacement output like 's.') can
    # never be re-rewritten by a later substitution pass.
    alt = "|".join(
        re.escape(a) for a in sorted(mapping, key=len, reverse=True)
    )
    alias_re = re.compile(rf"\b({alt})\s*\.", re.I)
    # split into quoted/unquoted segments via the shared scanner
    out = []
    seg_start = 0
    segments: list[tuple[str, bool]] = []
    prev_quote = False
    for i, ch, depth, in_quote in _scan(expr):
        if in_quote != prev_quote:
            segments.append((expr[seg_start:i], prev_quote))
            seg_start = i
            prev_quote = in_quote
    segments.append((expr[seg_start:], prev_quote))
    for seg, quoted in segments:
        if quoted:
            out.append(seg)
        else:
            out.append(
                alias_re.sub(lambda m: mapping[m.group(1).lower()], seg)
            )
    return "".join(out)


def _assert_target_only(expr: str, clause: str) -> str:
    """A NOT MATCHED BY SOURCE clause sees only the target row — a
    lingering ``s.`` reference (post-normalization) would resolve to
    nothing or, worse, to an unrelated column. Refuse it loudly."""
    for seg_start, seg in _unquoted_segments(expr):
        if re.search(r"\bs\s*\.", seg, re.I):
            raise MergeSqlError(
                f"{clause} may reference only target columns, got source "
                f"reference in: {expr!r}"
            )
    return expr


def _unquoted_segments(expr: str):
    """Yield (start, text) for the unquoted spans of ``expr`` using the
    shared quote-aware scanner."""
    seg_start = 0
    prev_quote = False
    for i, ch, depth, in_quote in _scan(expr):
        if in_quote != prev_quote:
            if not prev_quote:
                yield seg_start, expr[seg_start:i]
            seg_start = i
            prev_quote = in_quote
    if not prev_quote:
        yield seg_start, expr[seg_start:]


def parse_merge(statement: str) -> dict:
    """Parse a MERGE statement into its components (pure, testable)."""
    m = _HEAD_RE.match(statement.strip().rstrip(";"))
    if not m:
        raise MergeSqlError("statement does not start with MERGE INTO ... USING")
    target = m.group("target").replace("`", "")
    talias = m.group("talias")
    rest = m.group("rest").strip()

    sub = _strip_parens_source(rest)
    if sub is not None:
        source_sql, rest = sub
        source_view = None
    else:
        vm = re.match(r"([\w.`]+)\s+(.*)$", rest, re.S)
        if not vm:
            raise MergeSqlError("missing USING source")
        source_view, source_sql, rest = vm.group(1).replace("`", ""), None, vm.group(2)
    rest = rest.strip()
    am = re.match(r"AS\s+(.*)$", rest, re.S | re.I)
    if am:
        rest = am.group(1)
    sm = re.match(r"(\w+)\s+(.*)$", rest, re.S)
    if not sm:
        raise MergeSqlError("missing source alias or ON clause")
    salias, on_and_clauses = sm.group(1), sm.group(2).strip()

    if not re.match(r"ON\s", on_and_clauses, re.I):
        raise MergeSqlError("missing ON clause")
    on_text_and_clauses = on_and_clauses[2:].strip()
    first_when = re.search(r"\bWHEN\s+(NOT\s+)?MATCHED", on_text_and_clauses, re.I)
    if not first_when:
        raise MergeSqlError("no WHEN clauses")
    on_text = on_text_and_clauses[: first_when.start()].strip()
    clause_text = on_text_and_clauses[first_when.start() :]

    keys = []
    ops = set()
    for conj in re.split(r"\s+AND\s+", on_text, flags=re.I):
        cm = _ON_CONJUNCT_RE.match(conj)
        if not cm:
            raise MergeSqlError(f"unsupported ON conjunct: {conj!r}")
        a1, c1, op, a2, c2 = cm.groups()
        if talias is not None:
            aliases_ok = {a1, a2} == {talias, salias}
        else:
            # alias-less target: one side must be the source alias, the
            # other is taken as the target reference (its table name)
            aliases_ok = (a1 == salias) != (a2 == salias)
        if not aliases_ok or c1 != c2:
            raise MergeSqlError(
                f"ON conjunct must equate the same column across the two "
                f"sides: {conj!r}"
            )
        keys.append(c1)
        ops.add(op)
    if len(ops) > 1:
        raise MergeSqlError(
            f"mixed =/<=> operators in ON clause are unsupported: {on_text!r}"
        )

    out = {
        "target": target,
        "source_view": source_view,
        "source_sql": source_sql,
        "keys": keys,
        # '=' in SQL never matches NULL=NULL; '<=>' does. The executor
        # must honor the statement's operator, not silently upgrade to
        # null-safe (a NULL-keyed target row would be deleted/updated
        # where SQL MERGE leaves it alone).
        "null_safe_on": ops == {"<=>"},
        "delete_cond": None,
        "update_cond": None,
        "update_sets": None,
        "insert_cond": None,
        "insert_cols": None,
        "insert_vals": None,
        "nmbs_delete_cond": None,
        "nmbs_update_cond": None,
        "nmbs_update_sets": None,
        # WHEN MATCHED clause kinds in statement order ("delete"/"update")
        # — SQL fires the FIRST matching clause, so the executor call
        # must mask the later clause's condition with the earlier one's.
        "matched_order": [],
        # same contract for the WHEN NOT MATCHED BY SOURCE clause pair
        "nmbs_order": [],
    }
    # Strict-parser contract: every WHEN clause must be consumed by the
    # clause regex. finditer silently SKIPS unmatchable spans, so an
    # unsupported clause (UPDATE missing SET, a malformed INSERT)
    # alongside one valid clause would otherwise silently not
    # execute — count the WHEN heads and require full tiling.
    n_clause_heads = len(
        re.findall(r"\bWHEN\s+(?:NOT\s+)?MATCHED\b", clause_text, flags=re.I)
    )
    consumed = 0
    for cm in _CLAUSE_RE.finditer(clause_text):
        consumed += 1
        unmatched = bool(cm.group("not"))
        by_source = bool(cm.group("bysrc"))
        if by_source and not unmatched:
            raise MergeSqlError("WHEN MATCHED BY SOURCE is not a SQL clause")
        cond = cm.group("cond")
        cond = (
            _normalize_aliases(cond.strip(), talias, salias) if cond else None
        )
        action = cm.group("action").strip()
        au = action.upper()
        if au == "DELETE":
            if by_source:
                if out["nmbs_delete_cond"] is not None:
                    raise MergeSqlError(
                        "duplicate NOT MATCHED BY SOURCE DELETE clause"
                    )
                out["nmbs_delete_cond"] = _assert_target_only(
                    cond or "true", "WHEN NOT MATCHED BY SOURCE DELETE"
                )
                out["nmbs_order"].append("delete")
                continue
            if unmatched:
                raise MergeSqlError("WHEN NOT MATCHED THEN DELETE unsupported")
            if out["delete_cond"] is not None:
                raise MergeSqlError("duplicate DELETE clause")
            out["delete_cond"] = cond or "true"
            out["matched_order"].append("delete")
        elif au.startswith("UPDATE"):
            if not by_source and unmatched:
                raise MergeSqlError("WHEN NOT MATCHED THEN UPDATE unsupported")
            if by_source and out["nmbs_update_sets"] is not None:
                raise MergeSqlError(
                    "duplicate NOT MATCHED BY SOURCE UPDATE clause"
                )
            if not by_source and out["update_sets"] is not None:
                raise MergeSqlError("duplicate UPDATE clause")
            sets = {}
            body = re.sub(r"^UPDATE\s+SET\s+", "", action, flags=re.I | re.S)
            for assign in _split_top_level(body):
                col, eq, expr = assign.partition("=")
                if not eq:
                    raise MergeSqlError(f"bad assignment: {assign!r}")
                sets[col.strip().replace("`", "")] = _normalize_aliases(
                    expr.strip(), talias, salias
                )
            if by_source:
                for e in sets.values():
                    _assert_target_only(e, "WHEN NOT MATCHED BY SOURCE UPDATE")
                if cond is not None:
                    _assert_target_only(
                        cond, "WHEN NOT MATCHED BY SOURCE UPDATE"
                    )
                out["nmbs_update_sets"] = sets
                out["nmbs_update_cond"] = cond
                out["nmbs_order"].append("update")
                continue
            out["update_sets"] = sets
            out["update_cond"] = cond
            out["matched_order"].append("update")
        else:  # INSERT
            if by_source:
                raise MergeSqlError(
                    "WHEN NOT MATCHED BY SOURCE THEN INSERT is not a SQL clause"
                )
            if not unmatched:
                raise MergeSqlError("WHEN MATCHED THEN INSERT unsupported")
            if out["insert_cols"] is not None:
                raise MergeSqlError("duplicate INSERT clause")
            im = re.match(
                r"INSERT\s*\((?P<cols>.*?)\)\s*VALUES\s*\((?P<vals>.*)\)\s*$",
                action,
                re.I | re.S,
            )
            if not im:
                raise MergeSqlError(f"bad INSERT clause: {action!r}")
            cols = [c.strip().replace("`", "") for c in _split_top_level(im.group("cols"))]
            vals = [
                _normalize_aliases(v, talias, salias)
                for v in _split_top_level(im.group("vals"))
            ]
            if len(cols) != len(vals):
                raise MergeSqlError("INSERT column/value count mismatch")
            out["insert_cols"] = cols
            out["insert_vals"] = vals
            out["insert_cond"] = cond
    if consumed == 0:
        raise MergeSqlError("no parseable WHEN clauses")
    if consumed != n_clause_heads:
        raise MergeSqlError(
            f"{n_clause_heads - consumed} WHEN clause(s) could not be "
            f"parsed onto the supported DELETE/UPDATE/INSERT shapes — "
            f"refusing to execute a statement partially"
        )
    return out


def sql_merge(
    spark: SparkSession,
    statement: str,
    tables: dict[str, LakeTable],
    partition_filter: str | None = None,
    write_change_data: bool = False,
) -> int:
    """Execute a MERGE statement against LakeTables.

    ``tables`` maps qualified names to LakeTables; a 3-part reference
    name (``demo.silver.orders_current``) also resolves by its last two
    segments, so the reference's ``{CATALOG}.`` prefix needs no rewrite.
    The source resolves as a temp view (``createOrReplaceTempView``
    before calling — the reference's own protocol) or an inline
    ``(SELECT ...)`` subquery. ``write_change_data=True`` records the
    commit's Change Data Feed (``LakeTable.read_changes``).
    """
    p = parse_merge(statement)
    target = _resolve_table(p["target"], tables)

    source = (
        spark.sql(p["source_sql"])
        if p["source_sql"] is not None
        else spark.table(p["source_view"])
    )

    tgt_schema = target.schema()
    tgt_cols = [f.name for f in tgt_schema.fields]
    insert_values = None
    if p["insert_cols"] is not None:
        listed = dict(zip(p["insert_cols"], p["insert_vals"]))
        unknown = set(listed) - set(tgt_cols)
        if unknown:
            raise MergeSqlError(f"INSERT columns not in target: {sorted(unknown)}")
        # SQL semantics: unlisted target columns become NULL (the
        # programmatic default would pull same-named source columns).
        schema = {f.name: f.dataType for f in tgt_schema.fields}
        insert_values = {
            c: (
                F.expr(listed[c])
                if c in listed
                else F.lit(None).cast(schema[c])
            )
            for c in tgt_cols
        }

    update_values = (
        {c: F.expr(e) for c, e in p["update_sets"].items()}
        if p["update_sets"]
        else None
    )

    # No UPDATE clause at all → matched, non-deleted rows stay UNCHANGED
    # (SQL fall-through); the programmatic default would overwrite them
    # with source values, so pin the update condition to never-fire.
    if p["update_cond"] is not None:
        upd_cond = F.expr(p["update_cond"])
    elif p["update_sets"] is None:
        upd_cond = F.lit(False)
    else:
        upd_cond = None

    # SQL MERGE fires the FIRST matching WHEN MATCHED clause in
    # statement order; the executor always evaluates DELETE before
    # UPDATE. When the statement writes UPDATE before DELETE, a row
    # satisfying both conditions must be UPDATED — mask the delete
    # condition with NOT(update fired). NULL update-cond → clause not
    # fired (coalesce false) → delete still eligible.
    delete_cond = p["delete_cond"]
    if p["matched_order"] == ["update", "delete"]:
        if p["update_cond"] is None:
            delete_cond = None  # unconditional UPDATE shadows DELETE
        else:
            delete_cond = (
                f"({delete_cond}) AND NOT coalesce(({p['update_cond']}), false)"
            )

    # No WHEN NOT MATCHED clause at all → unmatched source rows are
    # IGNORED (SQL semantics); the executor's default insert_condition
    # is always-true, so pin it to never-fire (the symmetric twin of
    # the no-UPDATE pin above — round-5 review: a delete/update-only
    # CDC statement was silently inserting every unmatched row).
    if p["insert_cond"] is not None:
        ins_cond = F.expr(p["insert_cond"])
    elif p["insert_cols"] is None:
        ins_cond = F.lit(False)
    else:
        ins_cond = None

    # WHEN NOT MATCHED BY SOURCE pair: the engine evaluates DELETE
    # before UPDATE; when the statement writes UPDATE first, a row
    # satisfying both must be UPDATED — mask the delete condition
    # (mirror of the matched_order masking above).
    nmbs_delete_cond = p["nmbs_delete_cond"]
    if p["nmbs_order"] == ["update", "delete"]:
        if p["nmbs_update_cond"] is None:
            nmbs_delete_cond = None  # unconditional UPDATE shadows DELETE
        else:
            nmbs_delete_cond = (
                f"({nmbs_delete_cond}) AND NOT "
                f"coalesce(({p['nmbs_update_cond']}), false)"
            )
    nmbs_update_values = (
        {c: F.expr(e) for c, e in p["nmbs_update_sets"].items()}
        if p["nmbs_update_sets"]
        else None
    )
    nmbs_update_cond = (
        F.expr(p["nmbs_update_cond"]) if p["nmbs_update_cond"] is not None else None
    )

    return target.merge(
        source,
        keys=p["keys"],
        matched_delete=F.expr(delete_cond) if delete_cond else None,
        matched_update_condition=upd_cond,
        update_values=update_values,
        insert_condition=ins_cond,
        insert_values=insert_values,
        not_matched_by_source_delete=(
            F.expr(nmbs_delete_cond) if nmbs_delete_cond else None
        ),
        not_matched_by_source_update_condition=nmbs_update_cond,
        not_matched_by_source_update_values=nmbs_update_values,
        partition_filter=partition_filter,
        null_safe_keys=p["null_safe_on"],
        write_change_data=write_change_data,
    )


_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+(?P<target>[\w.`]+)\s*;?\s*$", re.I
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<target>[\w.`]+)\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?"
    r"(?P<body>(?:SELECT|VALUES)\b.+?)\s*;?\s*$",
    re.I | re.S,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<target>[\w.`]+)"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
    re.I | re.S,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<target>[\w.`]+)\s+SET\s+(?P<rest>.+?)\s*;?\s*$",
    re.I | re.S,
)
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<target>[\w.`]+)"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?"
    r"(?:\s+ZORDER\s+BY\s*\((?P<cols>[^)]+)\))?\s*;?\s*$",
    re.I | re.S,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(?P<target>[\w.`]+)"
    r"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS)?\s*;?\s*$",
    re.I,
)
_DESC_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+(?P<target>[\w.`]+)\s*;?\s*$", re.I
)
_SELECT_VERSION_RE = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+(?P<target>[\w.`]+)\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+(?P<ts>\d+(?:\.\d+)?))\s*;?\s*$",
    re.I,
)
_TABLE_CHANGES_RE = re.compile(
    r"^\s*(?:SELECT\s+\*\s+FROM\s+)?TABLE_CHANGES\s*\(\s*"
    r"(?P<target>[\w.`]+)\s*,\s*(?P<start>\d+)"
    r"(?:\s*,\s*(?P<end>\d+))?\s*\)\s*;?\s*$",
    re.I,
)
_DESC_DETAIL_RE = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+(?P<target>[\w.`]+)\s*;?\s*$", re.I
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(?P<target>[\w.`]+)\s+"
    r"(?:TO\s+)?VERSION\s+AS\s+OF\s+(?P<v>\d+)\s*;?\s*$",
    re.I,
)
_SET_TBLPROPS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<target>[\w.`]+)\s+"
    r"(?P<unset>UNSET|SET)\s+TBLPROPERTIES\s*\((?P<props>.+)\)\s*;?\s*$",
    re.I | re.S,
)
_SET_PARTITIONING_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<target>[\w.`]+)\s+SET\s+PARTITIONED\s+BY\s*"
    r"\(\s*(?P<cols>[\w.`,\s]*)\)\s*;?\s*$",
    re.I,
)
_ADD_CONSTRAINT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<target>[\w.`]+)\s+ADD\s+CONSTRAINT\s+"
    r"(?P<name>\w+)\s+CHECK\s*\((?P<expr>.+)\)\s*;?\s*$",
    re.I | re.S,
)
_DROP_CONSTRAINT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<target>[\w.`]+)\s+DROP\s+CONSTRAINT\s+"
    r"(?P<name>\w+)\s*;?\s*$",
    re.I,
)


def split_statements(script: str) -> list[str]:
    """Split a SQL script on TOP-LEVEL semicolons (outside quotes and
    parentheses) into non-empty statements — the reference ships its
    DDL/DML as ;-separated scripts (``postgres/init/01_init.sql``).
    Lines whose first non-blank token is ``--`` are dropped (full-line
    comments; inline comment parsing is deliberately out of scope)."""
    decommented = "\n".join(
        line
        for line in script.splitlines()
        if not line.lstrip().startswith("--")
    )
    out, start = [], 0
    for i, ch, depth, in_quote in _scan(decommented):
        if ch == ";" and depth == 0 and not in_quote:
            stmt = decommented[start:i].strip()
            if stmt:
                out.append(stmt)
            start = i + 1
    tail = decommented[start:].strip()
    if tail:
        out.append(tail)
    return out


def sql_script(
    spark: SparkSession,
    script: str,
    tables: dict[str, LakeTable],
    partition_filter: str | None = None,
) -> list:
    """Execute a ;-separated DML script in statement order against
    LakeTables (each statement through :func:`sql_dml`); returns the
    per-statement results (versions / counts / DataFrames)."""
    return [
        sql_dml(spark, stmt, tables, partition_filter)
        for stmt in split_statements(script)
    ]


def _split_on_where(text: str) -> tuple[str, str | None]:
    """Split ``text`` at the first TOP-LEVEL ``WHERE`` keyword — outside
    quotes and parentheses — so a ``'... where ...'`` string literal or
    a subquery's own WHERE never truncates the SET list."""
    for i, ch, depth, in_quote in _scan(text):
        if (
            not in_quote
            and depth == 0
            and text[i : i + 5].upper() == "WHERE"
        ):
            before_ok = i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_")
            after = text[i + 5 : i + 6]
            after_ok = after == "" or not (after.isalnum() or after == "_")
            if before_ok and after_ok:
                return text[:i].strip(), text[i + 5 :].strip() or None
    return text.strip(), None


def _unquote_prop(text: str) -> str:
    t = text.strip()
    if len(t) >= 2 and t[0] == t[-1] and t[0] in ("'", '"'):
        return t[1:-1]
    return t


def sql_dml(
    spark: SparkSession,
    statement: str,
    tables: dict[str, LakeTable],
    partition_filter: str | None = None,
) -> int | DataFrame:
    """Execute one DML statement against LakeTables.

    Supported: ``MERGE INTO ...`` (dispatched to :func:`sql_merge`),
    ``DELETE FROM t [WHERE pred]``, ``UPDATE t SET c = expr, ...
    [WHERE pred]``, ``TRUNCATE TABLE t``, ``INSERT INTO t SELECT ...``
    / ``INSERT INTO t VALUES ...`` (append — Spark evaluates the body,
    columns reconciled by name). Predicates and assignment expressions
    are arbitrary Spark SQL scalars over the target's columns. Returns
    the new table version.

    Delta-SQL maintenance verbs (round 6): ``OPTIMIZE t [ZORDER BY
    (a, b)]`` → :meth:`LakeTable.compact` (returns the new version);
    ``VACUUM t [RETAIN n VERSIONS]`` → :meth:`LakeTable.vacuum`
    (returns the number of reclaimed dirs — vacuum commits nothing);
    ``DESCRIBE HISTORY t`` → the commit log as a DataFrame;
    ``SELECT * FROM TABLE_CHANGES(t, start[, end])`` → the Change Data
    Feed as a DataFrame (Delta's CDF table-valued function; ``end``
    defaults to the current version); ``SELECT * FROM t VERSION AS OF
    n`` / ``TIMESTAMP AS OF epoch`` → time-travel reads (general
    SELECTs belong to ``spark.sql`` over registered views; these are
    the row-returning statements, like Spark's own DESCRIBE);
    ``ALTER TABLE t SET/UNSET TBLPROPERTIES (...)`` →
    :meth:`LakeTable.set_properties` (versioned metadata-only commit —
    the route that turns on per-file bloom-filter indexes via
    ``'bloom.columns'``); ``RESTORE TABLE t [TO] VERSION AS OF n`` →
    :meth:`LakeTable.restore` (zero-copy re-reference commit).

    All four routes are snapshot-commits on the copy-on-write table
    layer: DELETE/UPDATE rewrite (optionally ``partition_filter``-
    scoped, the at-scale path), TRUNCATE is an O(1) log action, and
    prior versions stay time-travelable until ``vacuum``. A WHERE-less
    DELETE deliberately stays a rewrite (it must evaluate NULL-predicate
    semantics on zero rows kept) — use TRUNCATE for the O(1) form.
    """
    s = statement.strip()
    if re.match(r"^\s*MERGE\b", s, re.I):
        return sql_merge(spark, s, tables, partition_filter)
    m = _OPTIMIZE_RE.match(s)
    if m:
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        cols = (
            [c.strip().replace("`", "") for c in m.group("cols").split(",")]
            if m.group("cols")
            else None
        )
        return target.compact(
            cluster_by=cols,
            zorder=bool(cols) and len(cols) > 1,
            partition_filter=(
                m.group("pred").strip() if m.group("pred") else None
            ),
        )
    m = _VACUUM_RE.match(s)
    if m:
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        retain = int(m.group("n")) if m.group("n") else 1
        return len(target.vacuum(retain_last=retain))
    m = _DESC_DETAIL_RE.match(s)
    if m:
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        d = target.detail()
        return spark.createDataFrame(
            [
                (
                    d["location"],
                    d["version"],
                    ",".join(d["partition_by"]),
                    d["n_data_dirs"],
                    d["n_files"],
                    d["size_bytes"],
                    d["n_dirs_with_excludes"],
                    d["has_change_data"],
                    json.dumps(d["properties"], sort_keys=True),
                )
            ],
            "location string, version long, partition_by string, "
            "n_data_dirs long, n_files long, size_bytes long, "
            "n_dirs_with_excludes long, has_change_data boolean, "
            "properties string",
        )
    m = _DESC_HISTORY_RE.match(s)
    if m:
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        hist = target.history()
        return spark.createDataFrame(
            [
                (
                    h["version"],
                    h["op"],
                    float(h["ts"]) if h["ts"] is not None else None,
                    h["n_data_dirs"],
                    ",".join(h["partition_by"]),
                )
                for h in hist
            ],
            "version long, op string, ts double, n_data_dirs long, "
            "partition_by string",
        )
    m = _SELECT_VERSION_RE.match(s)
    if m:
        # Delta-SQL time travel: SELECT * FROM t VERSION AS OF n /
        # TIMESTAMP AS OF epoch — a row-returning statement like the
        # CDF TVF (general SELECTs belong to spark.sql over registered
        # views; only the time-travel form needs the table layer).
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        if m.group("v") is not None:
            return target.read(version=int(m.group("v")))
        return target.read(version=target.version_as_of(float(m.group("ts"))))
    m = _TABLE_CHANGES_RE.match(s)
    if m:
        # Delta-SQL parity: SELECT * FROM table_changes(t, start[, end])
        # — the Change Data Feed as a DataFrame (the second
        # row-returning statement, like DESCRIBE HISTORY). end defaults
        # to the current version.
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        end = (
            int(m.group("end"))
            if m.group("end")
            else target.current_version()
        )
        return target.read_changes(int(m.group("start")), end)
    m = _RESTORE_RE.match(s)
    if m:
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        return target.restore(int(m.group("v")))
    m = _SET_PARTITIONING_RE.match(s)
    if m:
        # Iceberg partition evolution: ALTER TABLE t SET PARTITIONED BY
        # (a, b) — empty parens drop partitioning for future writes.
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        cols = [
            c.strip().replace("`", "")
            for c in m.group("cols").split(",")
            if c.strip()
        ]
        return target.set_partitioning(cols)
    m = _ADD_CONSTRAINT_RE.match(s)
    if m:
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        return target.add_check_constraint(m.group("name"), m.group("expr").strip())
    m = _DROP_CONSTRAINT_RE.match(s)
    if m:
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        return target.drop_check_constraint(m.group("name"))
    m = _SET_TBLPROPS_RE.match(s)
    if m:
        # Delta-SQL parity: ALTER TABLE t SET TBLPROPERTIES ('k' = 'v',
        # ...) / UNSET TBLPROPERTIES ('k', ...). Values are quoted
        # strings; 'bloom.columns' accepts a comma-separated list,
        # numeric-looking values coerce to int (bloom.bits / bloom.k).
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        props: dict = {}
        if m.group("unset").upper() == "UNSET":
            for item in _split_top_level(m.group("props")):
                props[_unquote_prop(item)] = None
        else:
            for item in _split_top_level(m.group("props")):
                key, eq, val = item.partition("=")
                if not eq:
                    raise MergeSqlError(f"bad TBLPROPERTIES item: {item!r}")
                k = _unquote_prop(key)
                v: object = _unquote_prop(val)
                if k == "bloom.columns":
                    v = [c.strip() for c in str(v).split(",") if c.strip()]
                elif re.fullmatch(r"-?\d+", str(v)):
                    v = int(v)
                props[k] = v
        return target.set_properties(props)
    m = _TRUNCATE_RE.match(s)
    if m:
        return _resolve_table(m.group("target").replace("`", ""), tables).truncate()
    m = _DELETE_RE.match(s)
    if m:
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        pred = (m.group("pred") or "true").strip()
        return target.delete_where(pred, partition_filter=partition_filter)
    m = _INSERT_RE.match(s)
    if m:
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        body = m.group("body")
        rows = spark.sql(
            body if re.match(r"^\s*SELECT\b", body, re.I) else f"SELECT * FROM {body}"
        )
        # Standard positional INSERT semantics: the body's columns map
        # in order onto the column list (or the full target schema when
        # no list is given); unlisted target columns become NULL, and
        # every value is COERCED to the target column's type (a bare
        # `40.0` literal is a DECIMAL in Spark SQL and must land as the
        # target's double).
        schema = {f.name: f.dataType for f in target.schema().fields}
        if m.group("cols"):
            dest = [c.strip().replace("`", "") for c in _split_top_level(m.group("cols"))]
            unknown = set(dest) - set(schema)
            if unknown:
                raise MergeSqlError(f"INSERT columns not in target: {sorted(unknown)}")
        else:
            dest = list(schema)
        if len(rows.columns) != len(dest):
            raise MergeSqlError(
                f"INSERT arity mismatch: {len(rows.columns)} values for "
                f"{len(dest)} columns {dest}"
            )
        rows = rows.toDF(*dest)
        return target.append(
            rows.select(
                *[
                    (F.col(c) if c in dest else F.lit(None)).cast(t).alias(c)
                    for c, t in schema.items()
                ]
            )
        )
    m = _UPDATE_RE.match(s)
    if m:
        target = _resolve_table(m.group("target").replace("`", ""), tables)
        sets_text, pred = _split_on_where(m.group("rest"))
        sets = {}
        for assign in _split_top_level(sets_text):
            col, eq, expr = assign.partition("=")
            if not eq:
                raise MergeSqlError(f"bad assignment: {assign!r}")
            sets[col.strip().replace("`", "")] = F.expr(expr.strip())
        return target.update_where(
            pred or "true", sets, partition_filter=partition_filter
        )
    raise MergeSqlError(f"unsupported DML statement: {s[:80]!r}")
