"""SQL DML front door for the managed table (SURVEY C1, VERDICT r5
#4): the reference's user-facing surface is a SQL string over the
replicated table (reference README.md:173, an Athena query against
``"s3tablescatalog/bucket"."ns"."t"``) — and on Athena/Iceberg that
surface includes row-level DML (``MERGE INTO`` / ``UPDATE`` /
``DELETE``), not just SELECT. Spark's local session can parse these
verbs but has no writable v2 table to aim them at, so
``ZeroEtlEngine.sql`` routes recognized DML statements here and this
module translates them onto the engine's snapshot-committing verbs:

* ``DELETE FROM t WHERE <conj>``        -> ``ManagedTable.delete_where``
* ``UPDATE t SET a = e, ... WHERE <conj>`` -> ``ManagedTable.update_where``
* ``MERGE INTO t ... USING s ON ... WHEN ...`` -> ``ManagedTable.merge_into``

The grammar is the intersection of the engine verbs' contracts and
ANSI DML — deliberately strict, with loud errors naming the supported
shape, never a silent partial apply:

* DELETE/UPDATE predicates: top-level conjuncts of
  ``col <op> literal`` with op in ``= < <= > >=`` ride
  ``delete_where``'s pruning-scan fast path; ANY other
  Spark-parseable row-scope predicate (OR, IN lists, BETWEEN, LIKE,
  NOT, IS [NOT] NULL, function calls) is carried as a RESIDUAL
  expression — pruning still uses the prunable conjuncts (sound:
  extra AND-terms only shrink the match set), and a predicate with
  no prunable conjunct falls back to a full-scan rewrite.
  A WHERE clause containing a subquery (``IN`` / ``NOT IN`` /
  ``EXISTS`` / ``NOT EXISTS`` / scalar comparison) routes through the
  keyed plan instead: Catalyst evaluates the whole clause as a SELECT
  of the key columns over the registered view (the subquery becomes
  the semi/anti join it calls for) and the key set drives
  ``delete_matching`` / ``update_matching`` (pruned CoW rewrite,
  data-driven carry). Scalar subqueries in UPDATE SET stay refused.
* UPDATE assignments are ``col = <sql expr>`` (the expression string
  passes straight into ``update_where``, evaluated in row scope).
* MERGE supports ``[AS] alias`` on both sides, a temp-view name or a
  parenthesized subquery as the source, an equi-conjunction ON
  clause, ordered ``WHEN MATCHED [AND cond] THEN UPDATE SET ... |
  DELETE`` clauses, and ``WHEN NOT MATCHED [AND cond] THEN INSERT
  (cols) VALUES (exprs) | INSERT *`` — the same clause set
  ``table.merge.merge_into`` implements (first matching clause wins).

Anything else (including DML aimed at a table other than the
engine's managed table) raises rather than guessing. SELECTs run as
ordinary Spark SQL — with ONE read-path exception: a pure
COUNT/MIN/MAX aggregate over the managed table consults
:func:`try_metadata_select` first (the manifest-stats fast path,
r10), which either answers exactly from metadata or returns None to
run the scan.

Scale: routing is driver-side string work on one statement; the
executed plans are exactly the Python-API ones (pruned CoW rewrites
for DELETE/UPDATE, one equi-shuffle join for MERGE), so the SQL door
adds zero distributed cost over C1's SELECT surface.
"""

from __future__ import annotations

import json
import re
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from dynamodb_zero_etl_s3tables_spark.engine import ZeroEtlEngine

_DML_HEAD = re.compile(r"^\s*(MERGE|UPDATE|DELETE|INSERT)\b", re.IGNORECASE)

#: ops delete_where/update_where accept (their partition-prune set)
_OPS = ("<=", ">=", "=", "<", ">")


def is_dml(statement: str) -> bool:
    return _DML_HEAD.match(statement) is not None


class _MaskedMatch:
    """``re.Match`` facade built by matching a pattern against the
    literal-masked copy of a statement (:func:`_mask_literals`, same
    length so spans align) whose ``group()`` reads the ORIGINAL text
    by span — grammar keywords (WHERE / WHEN MATCHED / SET / ...) can
    never fire inside a quoted string literal, while every extracted
    fragment keeps its literal content intact (r8 review: `UPDATE t
    SET note = 'x WHERE y' WHERE pk = 1` split the SET clause at the
    literal's WHERE)."""

    def __init__(self, m: "re.Match", original: str):
        self._m = m
        self.string = original

    def group(self, i: int = 0):
        s, e = self._m.span(i)
        return None if s == -1 else self.string[s:e]

    def groups(self):
        return tuple(self.group(i) for i in range(1, self._m.re.groups + 1))

    def span(self, i: int = 0):
        return self._m.span(i)

    def start(self, i: int = 0):
        return self._m.start(i)

    def end(self, i: int = 0):
        return self._m.end(i)


def _match_masked(pattern: "re.Pattern", text: str):
    m = pattern.match(_mask_literals(text))
    return _MaskedMatch(m, text) if m else None


def _split_top(s: str, sep_pattern: str) -> list[str]:
    """Split on a regex separator at paren/quote depth 0."""
    parts, depth, last, i = [], 0, 0, 0
    sep = re.compile(sep_pattern, re.IGNORECASE)
    while i < len(s):
        c = s[i]
        if c == "'":
            j = s.find("'", i + 1)
            i = len(s) if j < 0 else j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            m = sep.match(s, i)
            if m:
                parts.append(s[last:i])
                i = m.end()
                last = i
                continue
        i += 1
    parts.append(s[last:])
    return [p.strip() for p in parts if p.strip()]


_BETWEEN_RE = re.compile(r"\bBETWEEN\b", re.IGNORECASE)
_AND_RE = re.compile(r"\bAND\b", re.IGNORECASE)


def _split_conjuncts(s: str) -> list[str]:
    """Split on top-level AND, except the AND that closes a
    ``[NOT] BETWEEN lo AND hi`` — that one belongs to the term."""
    parts, depth, last, i, pending_between = [], 0, 0, 0, 0
    while i < len(s):
        c = s[i]
        if c == "'":
            j = s.find("'", i + 1)
            i = len(s) if j < 0 else j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            m = _BETWEEN_RE.match(s, i)
            if m:
                pending_between += 1
                i = m.end()
                continue
            m = _AND_RE.match(s, i)
            if m:
                if pending_between:
                    pending_between -= 1
                else:
                    parts.append(s[last:i])
                    last = m.end()
                i = m.end()
                continue
        i += 1
    parts.append(s[last:])
    return [p.strip() for p in parts if p.strip()]


def _parse_literal(text: str) -> Any:
    t = text.strip()
    if t.startswith("'") and t.endswith("'") and len(t) >= 2:
        return t[1:-1].replace("''", "'")
    low = t.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(t)
    except ValueError:
        pass
    try:
        return float(t)
    except ValueError:
        raise ValueError(
            f"unsupported literal {text!r} in DML predicate — the SQL "
            "DML door accepts numbers, 'strings', and booleans"
        ) from None


def _contains_subquery(text: str) -> bool:
    """Quote-aware probe: ``(select`` inside a string literal is data,
    not a subquery ("WHERE note = 'see (select one)'" is legal)."""
    unquoted = re.sub(r"'(?:[^']|'')*'", "''", text)
    return re.search(r"\(\s*SELECT\b", unquoted, re.IGNORECASE) is not None


def _validate_residual(term: str) -> str:
    """A residual WHERE term must be a Spark-parseable row-scope
    expression; subqueries never reach here (DELETE/UPDATE WHERE
    clauses containing one route through the keyed semi-join plan,
    :func:`_route_matching_dml`) — refuse defensively if one does.
    ``F.expr`` is lazy in Spark 4, so parse eagerly through the
    active session's SQL parser — the statement must refuse BEFORE
    any verb starts work, not mid-plan as a ParseException."""
    if _contains_subquery(term):
        raise ValueError(
            f"unsupported predicate {term!r} — a subquery is not a "
            "row-scope residual (it needs a join plan); this term should "
            "have routed through the keyed subquery-DML path"
        )
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None and hasattr(spark, "_jsparkSession"):
            spark._jsparkSession.sessionState().sqlParser().parseExpression(term)
        else:  # Connect-style session: construction is the only check
            F.expr(term)
    except ValueError:
        raise
    except Exception as exc:
        raise ValueError(
            f"unparseable predicate {term!r} in DML WHERE clause: {exc}"
        ) from None
    return term


def _parse_predicate(
    text: str,
) -> tuple[list[tuple[str, str, Any]], str | None]:
    """Split a WHERE clause into (prunable filter triples, residual
    SQL). Top-level conjuncts of ``col op literal`` with op in
    ``_OPS`` become pruning triples (delete_where/update_where's
    partition-carry fast path); every other conjunct — and the whole
    clause when OR appears at top level — is validated through
    Spark's parser and carried as a residual row-scope expression
    (full-scan on its own, but sound to combine with pruning from
    the triples since AND-conjuncts only shrink the match set)."""
    filters: list[tuple[str, str, Any]] = []
    residual_terms: list[str] = []
    if len(_split_top(text, r"\bOR\b")) > 1:
        # top-level disjunction: nothing prunable, all residual
        return [], _validate_residual(text.strip())
    for term in _split_conjuncts(text):
        m = re.match(
            rf"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*({'|'.join(re.escape(o) for o in _OPS)})"
            r"\s*(.+?)\s*$",
            term,
            re.DOTALL,
        )
        lit: Any = None
        if m:
            try:
                lit = _parse_literal(m.group(3))
            except ValueError:
                m = None  # e.g. `col = other_col` — residual, not prunable
        if m:
            filters.append((m.group(1), m.group(2), lit))
        else:
            residual_terms.append(f"({_validate_residual(term)})")
    residual = " AND ".join(residual_terms) if residual_terms else None
    return filters, residual


def _parse_conjunction(text: str) -> list[tuple[str, str, Any]]:
    """``col op literal AND ...`` -> delete_where/update_where filters
    (strict prunable-only form; richer WHEREs go through
    :func:`_parse_predicate`)."""
    filters, residual = _parse_predicate(text)
    if residual is not None:
        raise ValueError(
            f"unsupported predicate {residual!r} — this entry point routes "
            "top-level conjunctions of `col <op> literal` with op in "
            f"{_OPS} (the engine's pruning-scan contract)"
        )
    return filters


def _strip_alias(col: str, aliases: tuple[str, ...]) -> str:
    head, _, tail = col.partition(".")
    if tail and head.lower() in aliases:
        return tail
    return col


def _check_target(engine: "ZeroEtlEngine", name: str) -> None:
    spec = engine.spec
    accepted = {
        spec.qualified_name.lower(),
        spec.qualified_name.replace(".", "_").lower(),
        spec.name.lower(),
    }
    if name.lower().strip("`\"") not in accepted:
        raise ValueError(
            f"SQL DML routed to unknown table {name!r}: this engine "
            f"manages {spec.qualified_name!r} (also addressable as "
            f"{spec.qualified_name.replace('.', '_')!r} or {spec.name!r})"
        )


def _local_df(spark, rows: list[tuple], schema) -> DataFrame:
    """A small driver-side answer as a local relation: the rows travel
    as one Arrow table, so collecting it runs no job (a
    ``createDataFrame(list)`` frame runs a job of Python-worker
    tasks). ``schema`` — a StructType or DDL string — fixes the
    column names, types and nullability."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def _result_df(engine: "ZeroEtlEngine", op: str, info: dict) -> DataFrame:
    return _local_df(
        engine.spark,
        [(op, json.dumps(info, sort_keys=True, default=str))],
        "operation string, info string",
    )


def _table_columns(engine: "ZeroEtlEngine") -> list[str]:
    """The managed table's column names, from the manifest schema (no
    relation is built over the snapshot's entries)."""
    return [f.name for f in engine.table._head()[2].fields]


# -- statement handlers ------------------------------------------------------

_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([A-Za-z_][A-Za-z0-9_.`\"]*)\s+WHERE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+([A-Za-z_][A-Za-z0-9_.`\"]*)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_MERGE_RE = re.compile(
    r"^\s*MERGE\s+(WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+([A-Za-z_][A-Za-z0-9_.`\"]*)"
    r"(?:\s+AS)?(?:\s+(?!USING\b)([A-Za-z_][A-Za-z0-9_]*))?"
    r"\s+USING\s+(__SUBQUERY__|[A-Za-z_][A-Za-z0-9_.]*)"
    r"(?:\s+AS)?(?:\s+(?!ON\b)([A-Za-z_][A-Za-z0-9_]*))?"
    r"\s+ON\s+(.+?)\s*(WHEN\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _lift_subquery(statement: str) -> tuple[str, str | None]:
    """Replace a parenthesized USING source with the ``__SUBQUERY__``
    token (balanced-paren scan, so nested parens and quoted strings
    inside the subquery are safe) and return (statement, sql)."""
    m = re.search(r"\bUSING\s*\(", statement, re.IGNORECASE)
    if not m:
        return statement, None
    start = m.end() - 1
    depth, i = 0, start
    while i < len(statement):
        c = statement[i]
        if c == "'":
            j = statement.find("'", i + 1)
            i = len(statement) if j < 0 else j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                inner = statement[start + 1:i]
                lifted = statement[: m.end() - 1] + "__SUBQUERY__" + statement[i + 1:]
                return lifted, inner
        i += 1
    raise ValueError("unbalanced parentheses in MERGE USING source")

_WHEN_RE = re.compile(
    r"WHEN\s+(NOT\s+)?MATCHED\s*(BY\s+(?:SOURCE|TARGET)\s*)?(?:AND\s+(.+?))?\s*THEN\s+"
    r"(UPDATE\s+SET\s+.+?|DELETE|INSERT\s+.+?)\s*(?=WHEN\s+(?:NOT\s+)?MATCHED|$)",
    re.IGNORECASE | re.DOTALL,
)


_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_][A-Za-z0-9_.`\"]*)"
    r"(?:\s*\(([^)]*)\))?"
    r"\s+(VALUES\s+.+|SELECT\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _route_insert(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    """``INSERT INTO t [(cols)] VALUES (...)[, ...] | SELECT ...`` —
    routed as the keyed PutItem analog: new keys insert, an existing
    key's image is REPLACED (the managed table is keyed like its
    DynamoDB source, where PutItem overwrites; append-without-key is
    not a state this table can represent). Implemented as one
    merge_into (single equi-join commit)."""
    target_name, cols_text, body = m.groups()
    _check_target(engine, target_name)
    target_cols = _table_columns(engine)
    if body.upper().startswith("VALUES"):
        # let Spark's parser handle the literal rows
        cols = (
            [c.strip() for c in cols_text.split(",")] if cols_text else target_cols
        )
        source = engine.spark.sql(
            f"SELECT * FROM ({body}) AS v({', '.join(cols)})"
        )
    else:
        source = engine.spark.sql(rewrite_time_travel(engine, body))
        if cols_text:
            cols = [c.strip() for c in cols_text.split(",")]
            if len(cols) != len(source.columns):
                raise ValueError(
                    f"INSERT column list {cols} does not match SELECT arity "
                    f"({len(source.columns)})"
                )
            source = source.toDF(*cols)
        else:
            if len(source.columns) != len(target_cols):
                raise ValueError(
                    f"INSERT SELECT arity {len(source.columns)} does not "
                    f"match table columns {target_cols}; name them with "
                    "INSERT INTO t (cols) SELECT ..."
                )
            source = source.toDF(*target_cols)
    missing = set(engine.spec.key_columns) - set(source.columns)
    if missing:
        raise ValueError(
            f"INSERT must supply the key columns {sorted(missing)}"
        )
    unknown = [c for c in source.columns if c not in set(target_cols)]
    if unknown:
        raise ValueError(
            f"INSERT columns {unknown} are not columns of the target "
            f"table (has {target_cols}) — refusing a silent partial apply"
        )
    images = {c: F.expr(f"s.{c}") for c in source.columns}
    # PutItem replaces the WHOLE image: target columns the statement
    # does not supply become NULL on overwritten keys too, not only on
    # fresh inserts (r9 review: a partial-column INSERT over an
    # existing key silently kept the old values — UpdateItem
    # semantics, contradicting this handler's documented contract)
    for c in target_cols:
        if c not in images:
            images[c] = F.lit(None)
    engine.table.merge_into(
        source,
        matched=[("update", None, images)],
        insert_values=images,
    )
    return _result_df(
        engine,
        "insert",
        {"rows": source.count(), "columns": sorted(source.columns)},
    )


def _route_matching_dml(
    engine: "ZeroEtlEngine",
    target_name: str,
    where_text: str,
    assignments: dict[str, str] | None,
) -> DataFrame:
    """DELETE/UPDATE whose WHERE contains a subquery (``IN`` /
    ``NOT IN`` / ``EXISTS`` / ``NOT EXISTS`` / scalar comparisons —
    the Athena cleanup shape over the replicated table, reference
    README.md:170-174): the WHOLE clause is evaluated through
    Catalyst as a SELECT of the table's key columns over the
    registered view — Spark plans the subquery as the semi/anti join
    the predicate calls for (D14/D15 shapes), with ANSI NOT-IN NULL
    semantics for free — and the resulting key set drives the keyed
    rewrite (``delete_matching`` / ``update_matching``: pruned CoW
    carry, data-driven).

    The view is aliased to the statement's bare table name so
    correlated references (``EXISTS (SELECT 1 FROM s WHERE s.k =
    t.k)``) resolve exactly as ANSI scopes them. Time-travel clauses
    inside the subquery rewrite through the shared shim."""
    _check_target(engine, target_name)
    q = engine.spec.qualified_name
    engine.catalog.refresh_view(q)
    view = engine.catalog.view_name(q)
    alias = target_name.strip("`\"").split(".")[-1]
    # keys + partition columns in ONE selection: the same WHERE scan
    # that evaluates the subquery predicate also yields the matched
    # rows' partition values, so the pruned-CoW commit learns which
    # partitions to rewrite from the key set itself instead of
    # re-scanning the table through a semi-join (r10 opt, guide §2.4
    # — one pass where two ran; partition values are functionally
    # dependent on the key, so the dedup downstream stays exact).
    out_cols = list(engine.spec.key_columns) + [
        p
        for p in engine.spec.partition_columns
        if p not in engine.spec.key_columns
    ]
    kcols = ", ".join(f"{alias}.`{c}` AS `{c}`" for c in out_cols)
    select = (
        f"SELECT {kcols} FROM {view} AS {alias} WHERE {where_text}"
    )
    keys = engine.spark.sql(rewrite_time_travel(engine, select))
    # trusted: the riding partition values above come from the matched
    # rows of the table's own WHERE scan, which is exactly the
    # invariant the fast path needs (delete_matching docstring)
    if assignments is None:
        result = engine.table.delete_matching(
            keys, trust_riding_partition_values=True
        )
        return _result_df(engine, "delete", result)
    result = engine.table.update_matching(
        keys, assignments, trust_riding_partition_values=True
    )
    return _result_df(engine, "update", result)


def _route_delete(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    if _contains_subquery(m.group(2)):
        return _route_matching_dml(engine, m.group(1), m.group(2), None)
    _check_target(engine, m.group(1))
    filters, residual = _parse_predicate(m.group(2))
    result = engine.table.delete_where(filters, residual_sql=residual)
    return _result_df(engine, "delete", result)


def _parse_assignments(set_text: str) -> dict[str, str]:
    assignments = {}
    for part in _split_top(set_text, r","):
        am = re.match(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+?)\s*$", part, re.DOTALL)
        if not am:
            raise ValueError(
                f"unsupported SET clause {part!r} — expected `col = <sql expr>`"
            )
        if _contains_subquery(am.group(2)):
            raise ValueError(
                f"unsupported SET expression {am.group(2)!r} — scalar "
                "subqueries in UPDATE SET are outside the routed grammar "
                "(set expressions are row-scope); compute the value with "
                "MERGE INTO ... USING (SELECT ...) instead"
            )
        assignments[am.group(1)] = am.group(2)
    return assignments


def _route_update(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    assignments = _parse_assignments(m.group(2))
    if _contains_subquery(m.group(3)):
        return _route_matching_dml(engine, m.group(1), m.group(3), assignments)
    _check_target(engine, m.group(1))
    filters, residual = _parse_predicate(m.group(3))
    result = engine.table.update_where(
        filters, assignments, residual_sql=residual
    )
    return _result_df(engine, "update", result)


def _parse_matched_action(action: str, aliases, fold) -> tuple[str, dict | None]:
    """Parse the UPDATE SET/DELETE action shared by WHEN MATCHED and
    WHEN NOT MATCHED BY SOURCE clauses -> ("update", sets)|("delete", None)."""
    if re.match(r"^DELETE\s*$", action, re.IGNORECASE):
        return ("delete", None)
    um = re.match(r"^UPDATE\s+SET\s+(.+)$", action, re.IGNORECASE | re.DOTALL)
    if not um:
        raise ValueError(
            f"unsupported WHEN MATCHED action {action!r} (same grammar "
            "for NOT MATCHED BY SOURCE) — "
            "supported: UPDATE SET col = expr, ... | DELETE"
        )
    sets = {}
    for part in _split_top(um.group(1), r","):
        am = re.match(
            r"^\s*([A-Za-z_][A-Za-z0-9_.]*)\s*=\s*(.+?)\s*$", part, re.DOTALL
        )
        if not am:
            raise ValueError(
                f"unsupported MERGE SET clause {part!r} — expected "
                "`[t.]col = <sql expr>`"
            )
        sets[_strip_alias(am.group(1), aliases)] = F.expr(fold(am.group(2)))
    return ("update", sets)


def _route_merge(
    engine: "ZeroEtlEngine", m: re.Match, subquery: str | None
) -> DataFrame:
    (
        evolve_text,
        target_name,
        t_alias,
        source_text,
        s_alias,
        on_text,
        when_text,
    ) = m.groups()
    # `MERGE WITH SCHEMA EVOLUTION INTO ...` (Delta's opt-in syntax):
    # source columns absent from the target are ADDED through the same
    # additive-union/widening gate the programmatic d90b path uses
    # (merge_schema=True -> manifest _evolve_schema), NULL-backfilled
    # on old rows — matching the reference pipeline's auto-evolving
    # target (glue:UpdateTable, src/dynamodb-zero-etl-s3tables.ts:
    # 110-117). Without the clause the strict refusal below stands.
    merge_schema = evolve_text is not None
    _check_target(engine, target_name)
    aliases = ((t_alias or "t").lower(), (s_alias or "s").lower())
    if aliases[0] == aliases[1]:
        raise ValueError(
            f"MERGE target and source share the alias {aliases[0]!r} — "
            "column references would be ambiguous; use distinct aliases"
        )

    # source: temp view name or parenthesized subquery. merge_into
    # aliases the frames "t"/"s" internally, so fold the statement's
    # aliases onto those names in every embedded expression — in ONE
    # pass (sequential substitution would re-rewrite a target already
    # folded to "t." when the statement's source alias is literally
    # "t", silently binding it to the source frame).
    _alias_to_canon = {aliases[0]: "t", aliases[1]: "s"}
    _fold_re = re.compile(
        rf"(?<![A-Za-z0-9_.])({re.escape(aliases[0])}|{re.escape(aliases[1])})\.",
        re.IGNORECASE,
    )

    def fold(expr: str) -> str:
        # literal-aware: match alias prefixes on the masked copy and
        # splice from the original, so `s.` inside a quoted string
        # ('see s.parker') is data, not an alias reference
        masked = _mask_literals(expr)
        out, last = [], 0
        for fm in _fold_re.finditer(masked):
            out.append(expr[last:fm.start()])
            out.append(_alias_to_canon[fm.group(1).lower()] + ".")
            last = fm.end()
        out.append(expr[last:])
        return "".join(out)

    on_pairs = []
    for term in _split_top(on_text, r"\bAND\b"):
        em = re.match(
            r"^\s*([A-Za-z_][A-Za-z0-9_.]*)\s*=\s*([A-Za-z_][A-Za-z0-9_.]*)\s*$",
            term,
        )
        if not em:
            raise ValueError(
                f"unsupported ON term {term!r} — MERGE routing needs an "
                "equi-conjunction `t.col = s.col AND ...`"
            )
        left, right = em.group(1), em.group(2)
        l_alias = left.partition(".")[0].lower()
        if l_alias == aliases[1]:  # written source-first: flip
            left, right = right, left
        on_pairs.append(
            (_strip_alias(left, aliases), _strip_alias(right, aliases))
        )

    # resolve the source only after the ON grammar is validated, so a
    # malformed statement refuses before touching the catalog
    if source_text == "__SUBQUERY__":
        source = engine.spark.sql(rewrite_time_travel(engine, subquery))
    else:
        source = engine.spark.table(source_text)

    matched: list[tuple[str, Any, dict | None]] = []
    not_matched_by_source: list[tuple[str, Any, dict | None]] = []
    insert_values: dict | None = None
    insert_cond = None
    consumed = 0
    # WHEN-clause splitting runs on the literal-masked copy (spans
    # slice the original): a SET expression whose string literal
    # contains 'WHEN MATCHED' must not truncate the clause or
    # inflate the head count (r8 review)
    masked_when = _mask_literals(when_text)
    for wm in _WHEN_RE.finditer(masked_when):
        consumed += 1
        is_not_matched = bool(wm.group(1))
        by = (wm.group(2) or "").upper()
        cond_text = (
            when_text[wm.start(3):wm.end(3)] if wm.start(3) != -1 else None
        )
        cond = F.expr(fold(cond_text)) if cond_text else None
        action = when_text[wm.start(4):wm.end(4)].strip()
        if "SOURCE" in by:
            # WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE — the
            # third Delta clause family: target rows the source does
            # not mention. Conditions/sets are target-scope only.
            if not is_not_matched:
                raise ValueError(
                    "MATCHED BY SOURCE is not a MERGE clause — did you "
                    "mean WHEN NOT MATCHED BY SOURCE?"
                )
            clause = _parse_matched_action(action, aliases, fold)
            not_matched_by_source.append((clause[0], cond, clause[1]))
            continue
        if by and not is_not_matched:
            raise ValueError(
                "WHEN MATCHED takes no BY qualifier (BY TARGET only "
                "qualifies NOT MATCHED)"
            )
        if is_not_matched:
            im = re.match(
                r"^INSERT\s*(?:\*|\(([^)]*)\)\s*VALUES\s*\((.*)\))\s*$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if not im:
                raise ValueError(
                    f"unsupported NOT MATCHED action {action!r} — expected "
                    "`INSERT (cols) VALUES (exprs)` or `INSERT *`"
                )
            if im.group(1) is None:  # INSERT *
                tcols = set(_table_columns(engine))
                extra = [c for c in source.columns if c not in tcols]
                if extra and not merge_schema:
                    # Delta refuses this too (absent schema evolution);
                    # silently projecting them away was the module's
                    # own silent-partial-apply anti-pattern (r9 review)
                    raise ValueError(
                        f"MERGE INSERT *: source columns {extra} are not "
                        "columns of the target table — opt in with "
                        "MERGE WITH SCHEMA EVOLUTION INTO, name the "
                        "columns with INSERT (cols) VALUES (...), or "
                        "drop them from the USING source"
                    )
                insert_values = {c: F.expr(f"s.{c}") for c in source.columns}
            else:
                cols = [c.strip() for c in im.group(1).split(",")]
                exprs = _split_top(im.group(2), r",")
                if len(cols) != len(exprs):
                    raise ValueError(
                        f"INSERT column/value arity mismatch: {cols} vs {exprs}"
                    )
                insert_values = {
                    _strip_alias(c, aliases): F.expr(fold(e))
                    for c, e in zip(cols, exprs)
                }
            insert_cond = cond
        else:
            clause = _parse_matched_action(action, aliases, fold)
            matched.append((clause[0], cond, clause[1]))
    # EVERY clause must parse, not just one: finditer silently skips a
    # malformed clause (e.g. `BY SOURCES` typo) as long as some other
    # clause matched — committing a merge WITHOUT it would be a silent
    # partial apply, the exact failure mode the loud-refusal grammar
    # exists to prevent (r8 self-review).
    n_heads = len(
        re.findall(r"\bWHEN\s+(?:NOT\s+)?MATCHED\b", masked_when, re.IGNORECASE)
    )
    if consumed == 0 or consumed != n_heads:
        what = (
            "no parseable WHEN clause"
            if consumed == 0
            else f"{n_heads} WHEN clause(s) but only {consumed} parse"
        )
        raise ValueError(
            f"MERGE statement has {what} — supported: "
            "WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE, "
            "WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT ..., "
            "WHEN NOT MATCHED BY SOURCE [AND cond] THEN "
            "UPDATE SET ... | DELETE"
        )
    engine.table.merge_into(
        source,
        on=on_pairs,
        matched=matched,
        insert_values=insert_values,
        insert_cond=insert_cond,
        merge_schema=merge_schema,
        not_matched_by_source=not_matched_by_source,
    )
    return _result_df(
        engine,
        "merge",
        {
            "on": on_pairs,
            "matched_clauses": [k for k, _c, _s in matched],
            "not_matched_by_source_clauses": [
                k for k, _c, _s in not_matched_by_source
            ],
            "insert": insert_values is not None,
            "schema_evolution": merge_schema,
        },
    )


def route_dml(engine: "ZeroEtlEngine", statement: str) -> DataFrame:
    """Dispatch one MERGE/UPDATE/DELETE statement onto the engine's
    managed-table verbs; returns a one-row (operation, info-json)
    DataFrame, the engine's analog of a DML result set."""
    # statement shapes match against the literal-masked copy (groups
    # slice the original by span): a WHERE/SET/VALUES keyword inside a
    # quoted literal is data, not grammar (r8 review)
    for pattern, handler in (
        (_DELETE_RE, _route_delete),
        (_UPDATE_RE, _route_update),
        (_INSERT_RE, _route_insert),
    ):
        m = _match_masked(pattern, statement)
        if m:
            return handler(engine, m)
    lifted, subquery = _lift_subquery(statement)
    m = _match_masked(_MERGE_RE, lifted)
    if m:
        return _route_merge(engine, m, subquery)
    head = _DML_HEAD.match(statement).group(1).upper()
    raise ValueError(
        f"unroutable {head} statement — supported shapes: "
        "`DELETE FROM t WHERE col op literal [AND ...]`, "
        "`UPDATE t SET col = expr[, ...] WHERE col op literal [AND ...]`, "
        "`INSERT INTO t [(cols)] VALUES (...)[, ...] | SELECT ...`, "
        "`MERGE INTO t [AS] a USING <view|(subquery)> [AS] b ON a.c = b.c "
        "[AND ...] WHEN [NOT] MATCHED [AND cond] THEN ...`"
    )


# -- SELECT time travel (r8) --------------------------------------------------

_TIME_TRAVEL_RE = re.compile(
    r"\b(FROM|JOIN)\s+([A-Za-z_][A-Za-z0-9_.]*)\s+"
    r"(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|[0-9][0-9.\-]*)",
    re.IGNORECASE,
)


def _mask_literals(query: str) -> str:
    """Same-length copy of ``query`` with the CONTENT of every
    single-quoted SQL string blanked ('' escapes honored) — travel-
    clause detection/rewrite runs on the mask, so literal content
    ("WHERE note = '... FROM x VERSION AS OF 1'" is data, not a
    clause) can never match, while a genuine clause whose version
    literal is itself quoted (``VERSION AS OF 'one'`` -> loud
    integer refusal) still aligns positionally with the original
    (r8 self-review)."""
    out, i, n = list(query), 0, len(query)
    while i < n:
        if query[i] == "'":
            j = i + 1
            while j < n:
                if query[j] == "'":
                    if j + 1 < n and query[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            for k in range(i + 1, min(j, n)):
                out[k] = "\x00"
            i = j + 1
            continue
        i += 1
    return "".join(out)


def _resolve_travel_table(engine: "ZeroEtlEngine", name: str):
    """Map a FROM-clause name (qualified ``ns.t``, view ``ns_t``, or
    the managed table's bare name) to its (ManagedTable, view_name)."""
    cat = engine.catalog
    if "." in name:
        return cat.table(name), cat.view_name(name)
    if name.lower() == engine.spec.name.lower():
        q = engine.spec.qualified_name
        return cat.table(q), cat.view_name(q)
    for ns in cat.list_namespaces():
        for t in cat.list_tables(ns):
            q = f"{ns}.{t}"
            if cat.view_name(q).lower() == name.lower():
                return cat.table(q), cat.view_name(q)
    raise ValueError(
        f"time travel references unknown table {name!r} — use the "
        "qualified ns.table name or the registered ns_table view name"
    )


def rewrite_time_travel(engine: "ZeroEtlEngine", query: str) -> str:
    """``SELECT ... FROM t VERSION AS OF n`` / ``TIMESTAMP AS OF ts``
    through the SQL door (the Athena/Iceberg ``FOR VERSION AS OF`` /
    Delta time-travel SELECT surface, over the engine's B10 snapshot
    reads): each travel clause registers the requested snapshot as a
    dedicated temp view and the clause is rewritten to that view, so
    the rest of the statement stays ordinary Spark SQL. ``TIMESTAMP
    AS OF`` accepts a numeric unix epoch or an ISO-8601 string
    (interpreted UTC — the session timezone the engine pins).

    Scale: registering the view is O(manifest) metadata; the travel
    read itself is the same pruned snapshot scan read(version=) does
    — no extra distributed work over a current-version SELECT."""

    def _sub(m: re.Match, literal: str) -> str:
        kw, name, kind = m.group(1), m.group(2), m.group(3)
        t, _view = _resolve_travel_table(engine, name)
        if kind.upper() == "VERSION":
            try:
                version = int(literal.strip("'"))
            except ValueError:
                raise ValueError(
                    f"VERSION AS OF needs an integer version, got {literal!r}"
                ) from None
            frame = t.read(version=version)
            travel_view = f"{_view}__v{version}"
        else:
            raw = literal.strip("'")
            try:
                as_of = float(raw)
            except ValueError:
                from datetime import datetime, timezone

                try:
                    dt = datetime.fromisoformat(raw)
                except ValueError:
                    raise ValueError(
                        f"TIMESTAMP AS OF needs a unix epoch or ISO-8601 "
                        f"timestamp, got {literal!r}"
                    ) from None
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                as_of = dt.timestamp()
            frame = t.read(as_of=as_of)
            travel_view = f"{_view}__asof_{str(as_of).replace('.', '_').replace('-', 'm')}"
        frame.createOrReplaceTempView(travel_view)
        return f"{kw} {travel_view}"

    # match on the literal-masked copy (same length, so spans align),
    # substitute into the original — the version literal itself is
    # read from the ORIGINAL by span (it may be quoted)
    out, last = [], 0
    for m in _TIME_TRAVEL_RE.finditer(_mask_literals(query)):
        literal = query[m.start(4):m.end(4)]
        out.append(query[last:m.start()])
        out.append(_sub(m, literal))
        last = m.end()
    out.append(query[last:])
    return "".join(out)


def has_time_travel(query: str) -> bool:
    return _TIME_TRAVEL_RE.search(_mask_literals(query)) is not None


# -- DDL / utility statements (r7) -------------------------------------------
# The Athena surface over the replicated table also carries table-
# maintenance SQL: ALTER TABLE schema evolution, OPTIMIZE (compaction),
# VACUUM (unreferenced-file removal — the reference's
# UnreferencedFileRemoval maintenance toggle, test.ts:249-253), and a
# history listing. Routed onto the engine verbs with the same strict-
# grammar / loud-refusal discipline as the DML above.

#: only the routed shapes are intercepted — a plain ``DESCRIBE t`` /
#: ``DESCRIBE EXTENDED t`` keeps flowing to Spark SQL over the view
#: (it worked before the DDL door existed and must keep working).
#: ``ALTER TABLE`` / ``DROP TABLE`` are always intercepted: they
#: target the managed table, and an unsupported form should refuse
#: loudly here rather than fail opaquely against a temp view.
#: ``CREATE TABLE`` is intercepted ONLY in the routed CTAS shape —
#: the statement must carry a ``PRIMARY KEY`` clause (checked in
#: :func:`is_utility`); plain Spark SQL CREATE TABLE statements keep
#: flowing to ``spark.sql`` untouched (ADVICE r7 #3: they worked
#: before the DDL door existed and must keep working).
_UTILITY_HEAD = re.compile(
    r"^\s*(ALTER\s+TABLE|OPTIMIZE|VACUUM|DESCRIBE\s+HISTORY|CREATE\s+TABLE"
    r"|DROP\s+TABLE|SHOW\s+TABLES|SHOW\s+NAMESPACES)\b",
    re.IGNORECASE,
)

_PRIMARY_KEY_RE = re.compile(r"\bPRIMARY\s+KEY\b", re.IGNORECASE)
_CREATE_HEAD_RE = re.compile(r"^\s*CREATE\s+TABLE\b", re.IGNORECASE)

_TBL = r"([A-Za-z_][A-Za-z0-9_.`\"]*)"
_IDENT = r"([A-Za-z_][A-Za-z0-9_]*)"

_ALTER_ADD_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TBL}\s+ADD\s+COLUMNS?\s*\((.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_RENAME_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TBL}\s+RENAME\s+COLUMN\s+{_IDENT}\s+TO\s+{_IDENT}\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TBL}\s+DROP\s+COLUMN\s+{_IDENT}\s*;?\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_RE = re.compile(
    rf"^\s*OPTIMIZE\s+{_TBL}(\s+REWRITE\s+DATA\s+USING\s+BIN_PACK)?\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(rf"^\s*VACUUM\s+{_TBL}\s*;?\s*$", re.IGNORECASE)
_HISTORY_RE = re.compile(
    rf"^\s*DESCRIBE\s+HISTORY\s+{_TBL}\s*;?\s*$", re.IGNORECASE
)
_DROP_TABLE_RE = re.compile(
    rf"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?{_TBL}\s*;?\s*$", re.IGNORECASE
)
_SHOW_TABLES_RE = re.compile(
    rf"^\s*SHOW\s+TABLES(?:\s+IN\s+{_IDENT})?\s*;?\s*$", re.IGNORECASE
)
_SHOW_NAMESPACES_RE = re.compile(
    r"^\s*SHOW\s+NAMESPACES\s*;?\s*$", re.IGNORECASE
)


def is_utility(statement: str) -> bool:
    if _UTILITY_HEAD.match(statement) is None:
        return False
    if _CREATE_HEAD_RE.match(statement):
        # only the keyed-CTAS shape is ours; plain CREATE TABLE flows
        # on to Spark SQL (see _UTILITY_HEAD note)
        return _PRIMARY_KEY_RE.search(statement) is not None
    if re.match(r"^\s*DROP\s+TABLE\b", statement, re.IGNORECASE):
        # ours: 1/2-part names (the managed ns.table addressing). A
        # 3-part catalog.db.table targets Spark's own catalog and
        # keeps flowing to spark.sql (r8 self-review: routing it here
        # made `DROP TABLE IF EXISTS spark_catalog.default.x` a
        # silent no-op on a real Spark table).
        m = _DROP_TABLE_RE.match(statement)
        return bool(m) and m.group(2).strip("`\"").count(".") <= 1
    if re.match(r"^\s*SHOW\b", statement, re.IGNORECASE):
        # ours: the exact routed shapes only — `SHOW TABLES [IN ns]` /
        # `SHOW NAMESPACES`. Variants Spark SQL itself supports
        # (LIKE patterns, dotted IN catalog.db) keep flowing.
        return bool(
            _SHOW_TABLES_RE.match(statement)
            or _SHOW_NAMESPACES_RE.match(statement)
        )
    return True


def _split_col_specs(text: str) -> list[str]:
    """Split a column-spec list on commas at paren AND angle-bracket
    depth 0 (``m map<string,int>`` / ``d decimal(10,2)`` are one
    spec)."""
    parts, depth, last = [], 0, 0
    for i, c in enumerate(text):
        if c in "(<":
            depth += 1
        elif c in ")>":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(text[last:i])
            last = i + 1
    parts.append(text[last:])
    return parts


def _route_alter_add(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    _check_target(engine, m.group(1))
    columns: dict[str, str] = {}
    for part in _split_col_specs(m.group(2)):
        cm = re.match(rf"^\s*{_IDENT}\s+(.+?)\s*$", part, re.DOTALL)
        if not cm:
            raise ValueError(
                f"unsupported column spec {part!r} — expected `name TYPE`"
            )
        if cm.group(1) in columns:
            raise ValueError(
                f"duplicate column {cm.group(1)!r} in ADD COLUMNS — "
                "refusing a silent last-wins apply"
            )
        columns[cm.group(1)] = cm.group(2)
    engine.table.add_columns(columns)
    return _result_df(engine, "alter-add-columns", {"columns": columns})


def _route_alter_rename(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    _check_target(engine, m.group(1))
    engine.table.rename_column(m.group(2), m.group(3))
    return _result_df(
        engine, "alter-rename-column", {"from": m.group(2), "to": m.group(3)}
    )


def _route_alter_drop(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    _check_target(engine, m.group(1))
    engine.table.drop_column(m.group(2))
    return _result_df(engine, "alter-drop-column", {"column": m.group(2)})


def _route_optimize(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    _check_target(engine, m.group(1))
    return _result_df(engine, "optimize", engine.compact())


def _route_vacuum(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    _check_target(engine, m.group(1))
    return _result_df(engine, "vacuum", engine.vacuum())


def _route_history(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    _check_target(engine, m.group(1))
    rows = [
        (
            s.version,
            s.operation,
            float(s.committed_at),
            s.row_count,
            bool(s.staged),
        )
        for s in engine.table.history()
    ]
    return _local_df(
        engine.spark,
        rows,
        "version long, operation string, committed_at double, "
        "row_count long, staged boolean",
    )


def route_utility(engine: "ZeroEtlEngine", statement: str) -> DataFrame:
    """Route one DDL/utility statement onto the engine verbs. Loud
    refusal for anything outside the grammar above."""
    for pattern, handler in (
        (_ALTER_ADD_RE, _route_alter_add),
        (_ALTER_RENAME_RE, _route_alter_rename),
        (_ALTER_DROP_RE, _route_alter_drop),
        (_OPTIMIZE_RE, _route_optimize),
        (_VACUUM_RE, _route_vacuum),
        (_HISTORY_RE, _route_history),
        (_CTAS_RE, _route_ctas),
        (_DROP_TABLE_RE, _route_drop_table),
        (_SHOW_TABLES_RE, _route_show_tables),
        (_SHOW_NAMESPACES_RE, _route_show_namespaces),
    ):
        m = pattern.match(statement)
        if m:
            return handler(engine, m)
    raise ValueError(
        "unsupported DDL/utility statement — the routed grammar is: "
        "ALTER TABLE t ADD COLUMNS (name TYPE, ...) | "
        "ALTER TABLE t RENAME COLUMN a TO b | "
        "ALTER TABLE t DROP COLUMN c | "
        "OPTIMIZE t [REWRITE DATA USING BIN_PACK] | VACUUM t | "
        "DESCRIBE HISTORY t | "
        "CREATE TABLE ns.name PRIMARY KEY (k, ...) AS <select> | "
        "DROP TABLE [IF EXISTS] ns.name | SHOW TABLES [IN ns] | "
        "SHOW NAMESPACES"
    )


def _route_drop_table(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    """``DROP TABLE [IF EXISTS] ns.name`` — the teardown half of the
    lifecycle the reference provisions (CreateNamespace/CreateTable
    grants, reference src/dynamodb-zero-etl-s3tables.ts:92,98; Athena
    over the replicated table supports DROP symmetrically). Routed to
    :meth:`Catalog.drop_table`, inheriting its staged-WAP refusal —
    SQL has no force bypass; publish or rollback the audit first.

    A name that is NOT a managed table but IS known to Spark's own
    catalog (a real table or temp view under its 1/2-part name)
    delegates the statement to ``spark.sql`` — without the fallback,
    ``DROP TABLE IF EXISTS default.scratch`` would report a
    successful skip while the Spark table survives (r8 review: the
    same silent-no-op class the 3-part exemption fixed)."""
    if_exists, raw_name = m.group(1), m.group(2).strip("`\"")
    name = raw_name
    if "." not in name:
        name = f"{engine.spec.namespace}.{name}"
    try:
        info = engine.catalog.drop_table(name)
    except KeyError:
        try:
            spark_has = engine.spark.catalog.tableExists(raw_name)
        except Exception:
            spark_has = False
        if spark_has:
            engine.spark.sql(m.string)
            return _result_df(
                engine,
                "drop-table",
                {"table": raw_name, "delegated": "spark catalog"},
            )
        if if_exists:
            return _result_df(
                engine, "drop-table", {"table": name, "skipped": "not found"}
            )
        raise ValueError(
            f"DROP TABLE: unknown table {name!r} (use IF EXISTS to "
            "make missing tables a no-op)"
        ) from None
    return _result_df(engine, "drop-table", info)


def _route_show_tables(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    """``SHOW TABLES [IN ns]`` off the durable catalog (warehouse
    directory listing — metadata-scale, no data read)."""
    namespaces = [m.group(1)] if m.group(1) else engine.catalog.list_namespaces()
    rows = [
        (ns, t)
        for ns in namespaces
        for t in engine.catalog.list_tables(ns)
    ]
    return _local_df(engine.spark, rows, "namespace string, tableName string")


def _route_show_namespaces(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    return _local_df(
        engine.spark,
        [(ns,) for ns in engine.catalog.list_namespaces()],
        "namespace string",
    )


_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)"
    r"\s+PRIMARY\s+KEY\s*\(([^)]+)\)\s+AS\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _route_ctas(engine: "ZeroEtlEngine", m: re.Match) -> DataFrame:
    """``CREATE TABLE ns.name PRIMARY KEY (k, ...) AS <select>`` —
    the Athena/Iceberg CTAS verb, rendered for this engine's keyed
    tables: every managed table is the replica of a keyed DynamoDB
    source, so the key columns are part of the definition (the same
    A1 explicit-name discipline as the pipeline spec; plain Iceberg
    CTAS has no key concept to borrow). The SELECT runs over the
    catalog's registered views (the managed table's view included,
    freshly refreshed); the result bootstraps a NEW managed table in
    the same warehouse, immediately queryable through its own view.

    Scale: the SELECT is an ordinary Catalyst plan; the bootstrap is
    one snapshot commit of its result — CTAS costs exactly what the
    query costs, and the new table gets the full manifest surface
    (time travel, DML, maintenance) from birth."""
    from dynamodb_zero_etl_s3tables_spark.spec import TableSpec

    ns, name, keys_text, select = m.groups()
    keys = tuple(k.strip() for k in keys_text.split(","))
    engine.catalog.refresh_view(engine.spec.qualified_name)
    df = engine.spark.sql(rewrite_time_travel(engine, select))
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(
            f"CTAS PRIMARY KEY columns {missing} are not in the SELECT "
            f"result (columns: {df.columns})"
        )
    # probe existence BEFORE registering: Catalog.create_table
    # unconditionally replaces the in-memory handle, so a refused
    # re-CTAS with different PRIMARY KEY columns would otherwise
    # leave the catalog carrying the wrong key_columns for the rest
    # of the session (ADVICE r7 #1)
    from dynamodb_zero_etl_s3tables_spark.table.manifest import ManagedTable

    spec = TableSpec(namespace=ns, name=name, key_columns=keys)
    spec.validate()
    if ManagedTable(engine.spark, engine.catalog.warehouse, spec).exists():
        raise ValueError(
            f"CREATE TABLE: {ns}.{name} already exists "
            "(CTAS never overwrites; DROP or pick a new name)"
        )
    t = engine.catalog.create_table(spec)
    t.bootstrap(df)
    engine.catalog.refresh_view(f"{ns}.{name}")
    return _result_df(
        engine, "create-table-as",
        {"table": f"{ns}.{name}", "keys": list(keys), "rows": t.read().count()},
    )


# ---------------------------------------------------------------------------
# Metadata-only SELECT fast path (r10): the SQL-door rendering of
# ManagedTable.metadata_aggregate. `SELECT COUNT(*) / MIN(c) / MAX(c)
# FROM t` with no WHERE/GROUP/JOIN is the one query shape whose whole
# answer already sits in the manifest (Iceberg engines special-case
# exactly this); everything else — and every case where stats cannot
# answer exactly (MoR head, missing stats, truncation-length strings,
# non-scalar-stat types) — falls back SILENTLY to the ordinary scan,
# so the fast path is an optimization, never a semantics change.
# ---------------------------------------------------------------------------

_META_SELECT_RE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<table>[A-Za-z0-9_.`\"]+)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_META_ITEM_RE = re.compile(
    r"^(?:(?P<count>COUNT\s*\(\s*(?:\*|1)\s*\))"
    r"|(?P<fn>MIN|MAX)\s*\(\s*(?P<col>[A-Za-z_][A-Za-z0-9_]*)\s*\))"
    r"(?:\s+AS\s+(?P<alias>[A-Za-z_][A-Za-z0-9_]*))?$",
    re.IGNORECASE,
)


def try_metadata_select(
    engine: "ZeroEtlEngine", statement: str, version: int | None = None
) -> DataFrame | None:
    """Answer a pure COUNT/MIN/MAX aggregate over the managed table
    from manifest file stats alone — or return None to run the
    ordinary scan. Returning None is ALWAYS safe; returning a frame
    promises exact equality with the scan's result (same column
    names, types, values)."""
    from pyspark.sql import types as T

    m = _META_SELECT_RE.match(statement)
    if m is None:
        return None
    spec = engine.spec
    accepted = {
        spec.qualified_name.lower(),
        spec.qualified_name.replace(".", "_").lower(),
        spec.name.lower(),
    }
    if m.group("table").lower().strip('`"') not in accepted:
        return None
    items = []
    for raw in m.group("items").split(","):
        im = _META_ITEM_RE.match(raw.strip())
        if im is None:
            return None  # expression outside the COUNT/MIN/MAX shape
        if im.group("count"):
            items.append(("count", None, im.group("alias") or "count(1)"))
        else:
            fn = im.group("fn").lower()
            col = im.group("col")
            items.append((fn, col, im.group("alias") or f"{fn}({col})"))
    try:
        import json as _json

        from pyspark.sql import types as _T

        mf = engine.table._read_manifest()
        snap = (
            mf.current
            if version is None
            else next(
                s
                for s in mf.snapshots
                if s.version == version and not s.staged
            )
        )
        schema = _T.StructType.fromJson(_json.loads(snap.schema_json))
    except Exception:
        return None
    by_name = {f.name: f for f in schema.fields}
    scalar_ok = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.StringType,
    )
    cols = []
    for _fn, col, _alias in items:
        if col is None:
            continue
        f = by_name.get(col)
        if f is None or not isinstance(f.dataType, scalar_ok):
            return None  # unknown column or a type whose stats round-trip
            # is not exactly the SQL extreme (dates ride ISO strings)
        cols.append(col)
    try:
        agg = engine.table.metadata_aggregate(tuple(dict.fromkeys(cols)), version=version)
    except Exception:
        return None  # MoR head / missing stats / truncation — scan instead
    fields, values = [], []
    for fn, col, alias in items:
        if fn == "count":
            fields.append(T.StructField(alias, T.LongType(), False))
            values.append(int(agg["row_count"]))
        else:
            fields.append(T.StructField(alias, by_name[col].dataType, True))
            values.append(agg["min" if fn == "min" else "max"][col])
    return _local_df(engine.spark, [tuple(values)], T.StructType(fields))


# ---------------------------------------------------------------------------
# table_changes() through the SQL door (r10): Delta exposes CDF to
# SQL as `SELECT ... FROM table_changes('t', from, to)`; the engine's
# incremental surface is ManagedTable.read_changes (B10b). This
# rewrite lets the same consumers use the same syntax: each TVF call
# materializes the keyed diff as a temp view and the statement runs
# as ordinary Spark SQL over it (filters/aggregates/joins compose).
# Version arguments use the ENGINE's snapshot semantics — the diff
# BETWEEN retained snapshots from_v -> to_v (to_v optional =
# published head) — stated here because Delta numbers by commit
# containing the change, not by snapshot pair.
# ---------------------------------------------------------------------------

_TABLE_CHANGES_RE = re.compile(
    r"table_changes\s*\(\s*'([^']+)'\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)",
    re.IGNORECASE,
)


def rewrite_table_changes(engine: "ZeroEtlEngine", statement: str) -> str:
    """Replace every ``table_changes('<t>', from [, to])`` call with a
    temp view holding ``read_changes(from, to)``. Raises on a table
    the engine does not manage; returns the statement unchanged when
    no call is present."""
    def _sub(m: "re.Match") -> str:
        _check_target(engine, m.group(1))
        from_v = int(m.group(2))
        to_v = int(m.group(3)) if m.group(3) is not None else None
        # deterministic per-(table, range) names: repeated calls
        # REPLACE their view instead of leaking one per statement
        view = (
            f"__table_changes_{engine.spec.qualified_name.replace('.', '_')}"
            f"_{from_v}_{to_v if to_v is not None else 'head'}"
        )
        engine.table.read_changes(from_v, to_v).createOrReplaceTempView(view)
        return view

    return _TABLE_CHANGES_RE.sub(_sub, statement)
