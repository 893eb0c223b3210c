"""CDC merge semantics (SURVEY.md §2 B5-B7, A6): pure-DataFrame
keyed upsert/delete with last-writer-wins.

This is the engine's realization of the zero-ETL replication contract
("data flows automatically ... inserts/updates/deletes replicate",
reference README.md:12,93) and structurally the same anti-join + union
the reference Lambda applies to policy statements
(reference lambda/catalog-policy-handler.js:52-55).

Scale posture: one shuffle on the key columns for the window dedup,
one for the anti-join — both partition-parallel, no driver collect.
With the target table bucketed/partitioned on the same keys the
anti-join co-locates and AQE handles skewed keys. A batch the caller
persisted (``ManagedTable.apply_changes`` persists its copy-on-write
batch) carries exact size statistics, so a small batch's touched keys
broadcast and the anti-join runs without shuffling the base; the
commit then clusters its output by partition before the write.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

#: change-operation column + accepted values (DynamoDB stream semantics)
OP_COL = "op"
OP_INSERT, OP_MODIFY, OP_REMOVE = "INSERT", "MODIFY", "REMOVE"


class SchemaEvolutionError(ValueError):
    """Non-additive schema change in a merge or commit (B4)."""


#: Iceberg-spec legal type promotions (public spec): the left type's
#: value space embeds losslessly in each type on the right, so reads
#: of old (narrow) files under the widened schema lose nothing.
WIDEN_CHAIN: dict[str, tuple[str, ...]] = {
    "smallint": ("int", "bigint"),
    "int": ("bigint",),
    "float": ("double",),
}


def wider(a, b):
    """The wider of two Spark types if one losslessly embeds in the
    other (Iceberg promotion rules), else None (illegal change)."""
    if a == b:
        return a
    an, bn = a.simpleString(), b.simpleString()
    if bn in WIDEN_CHAIN.get(an, ()):
        return b
    if an in WIDEN_CHAIN.get(bn, ()):
        return a
    return None


def validated_op_col():
    """The ``op`` column passed through a plan-embedded validator: any
    value outside {INSERT, MODIFY, REMOVE} — including NULL — raises
    executor-side on the first offending row (``raise_error`` inside a
    ``when`` branch: zero extra jobs, zero extra scans). Without it a
    malformed changelog failed SILENTLY in the worst ways: a NULL op
    acted as REMOVE (the key joins the anti-join's `touched` set but
    no image survives the upsert filter — the row just vanishes), and
    any other junk value ('DELETE', 'remove', ...) passed the
    ``op != REMOVE`` filter and UPSERTED its image as if it were a
    MODIFY."""
    c = F.col(OP_COL)
    return F.when(c.isin(OP_INSERT, OP_MODIFY, OP_REMOVE), c).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "invalid change op (expected INSERT/MODIFY/REMOVE): "
                ),
                F.coalesce(c, F.lit("NULL")),
            )
        )
    )


def latest_per_key(
    changes: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str] = ("ts", "seq"),
) -> DataFrame:
    """B6: in-batch dedup — keep only the last change per key.

    A microbatch may carry several changes for one key; the merge must
    apply only the final one (last-writer-wins with a deterministic
    ``seq`` tiebreaker, SURVEY §7 risk register).
    """
    w = W.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_changes(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str] = ("ts", "seq"),
) -> DataFrame:
    """B5+B7: apply a change-log to a snapshot; returns the new state.

    * rows of ``base`` whose key appears in ``changes`` are dropped
      (anti-join — covers both update-overwrite and delete),
    * the latest non-REMOVE change per key supplies the new row image.

    ``changes`` must carry ``op`` + ``order_cols`` + the base schema's
    columns; op values outside {INSERT, MODIFY, REMOVE} (or NULL)
    raise on the first offending row (:func:`validated_op_col`).
    Idempotent (A10): re-applying the same batch is a no-op.
    """
    keys = list(keys)
    changes = changes.withColumn(OP_COL, validated_op_col())
    last = latest_per_key(changes, keys, order_cols)
    # image columns = everything except the op tag and pure-bookkeeping
    # order columns (an order column that's part of the base schema —
    # e.g. a real `ts` attribute — stays in the image)
    drop = {OP_COL} | {c for c in order_cols if c not in base.columns}
    image_cols = [c for c in last.columns if c not in drop]
    upserts = last.filter(F.col(OP_COL) != OP_REMOVE).select(*image_cols)
    # B4 gate: overlapping columns must keep their exact type OR widen
    # along the Iceberg promotion chain (int->long, float->double) —
    # both sides are cast to the wider type so the union is exact; any
    # other coercion (e.g. double->string) would corrupt the table
    base_types = {f.name: f.dataType for f in base.schema.fields}
    for f in upserts.schema.fields:
        prev = base_types.get(f.name)
        if prev is not None and prev != f.dataType:
            w = wider(prev, f.dataType)
            if w is None:
                raise SchemaEvolutionError(
                    f"type conflict for column {f.name!r}: "
                    f"{prev.simpleString()} -> {f.dataType.simpleString()}"
                )
            if prev != w:
                base = base.withColumn(f.name, F.col(f.name).cast(w))
            if f.dataType != w:
                upserts = upserts.withColumn(f.name, F.col(f.name).cast(w))
    missing = [c for c in base.columns if c not in upserts.columns]
    if missing:
        raise SchemaEvolutionError(
            f"columns missing from incoming data (drops are not additive): {missing}"
        )
    # B4: additive evolution — new image columns surface as NULL on
    # pre-existing rows
    widened = base
    for f in upserts.schema.fields:
        if f.name not in base.columns:
            widened = widened.withColumn(f.name, F.lit(None).cast(f.dataType))
    touched = last.select(*keys)
    survivors = widened.join(touched, on=keys, how="left_anti")
    return survivors.unionByName(upserts)


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[tuple[str, str]],
    matched: Sequence[tuple[str, object, dict | None]] = (),
    insert_values: dict | None = None,
    insert_cond=None,
    merge_schema: bool = False,
    not_matched_by_source: Sequence[tuple[str, object, dict | None]] = (),
) -> DataFrame:
    """General conditional merge — the Delta/Iceberg ``MERGE INTO``
    surface (public SQL semantics; the reference's managed tables get
    this verb from the Iceberg/Athena layer) expressed as one plan:

    * ``on``: (target_col, source_col) equi-join key pairs.
    * ``matched``: ORDERED clauses ``("update", cond, {col: Column})``
      or ``("delete", cond, None)``; per matched row the FIRST clause
      whose condition holds wins (``cond=None`` means always). A
      matched row winning no clause carries through unchanged.
    * ``insert_values``: ``{target_col: Column}`` images for source
      rows matching no target row (``WHEN NOT MATCHED THEN INSERT``),
      gated by ``insert_cond``; ``None`` disables inserts.
    * ``not_matched_by_source``: ORDERED clauses in the same shape as
      ``matched``, applied to TARGET rows with no source match — the
      third Delta clause (``WHEN NOT MATCHED BY SOURCE THEN UPDATE
      SET ... | DELETE``). Conditions and set expressions may
      reference target (``t.``) columns only — there is no source row
      on these branches. Same first-match-wins discipline; a row
      winning no clause carries through unchanged.

    Source-uniqueness is ENFORCED, not assumed (Delta parity, r10
    review): a target row matched by more than one source row makes
    every clause ambiguous, so the first such row raises
    executor-side (plan-embedded ``raise_error`` behind a window
    count over the join's own key partitioning — no extra scan, no
    extra exchange; Delta throws
    ``MERGE_MATCHED_MULTIPLE_SOURCE_ROWS`` for the same input).
    Duplicate source keys among NOT-MATCHED rows insert normally,
    exactly like Delta.

    ``merge_schema=True`` is Delta's ``mergeSchema`` MERGE semantics
    (VERDICT r6 #7): source columns absent from the target are ADDED
    (NULL on untouched rows — the same additive union
    ``merge_changes`` applies on the CDC path), and overlapping
    columns may widen along the Iceberg promotion chain
    (int->bigint, float->double). Any other type change raises
    :class:`SchemaEvolutionError` — never a silent coercion. With
    the default ``False``, set/insert expressions can only assign
    existing target columns (the strict Delta default).

    Scale: ONE equi-shuffle join of target x source resolves every
    matched clause (conditions and set-expressions are row-local
    projections — no per-clause passes over the target), and the
    insert branch reuses the source side with an anti-join. This is
    the same join-shaped cost as the CDC merge; at 100 TB the join
    broadcasts or co-partitions exactly as b05 does.
    """
    if merge_schema:
        tgt_types = {f.name: f.dataType for f in target.schema.fields}
        for f in source.schema.fields:
            prev = tgt_types.get(f.name)
            if prev is None:
                target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
            elif prev != f.dataType:
                w = wider(prev, f.dataType)
                if w is None:
                    raise SchemaEvolutionError(
                        f"type conflict for column {f.name!r} under "
                        f"mergeSchema: {prev.simpleString()} -> "
                        f"{f.dataType.simpleString()} is not an Iceberg "
                        "promotion"
                    )
                if prev != w:
                    target = target.withColumn(f.name, F.col(f.name).cast(w))
    known = {f.name for f in target.schema.fields}
    assigned_cols: set[str] = set()
    for _kind, _cond, sets in (*matched, *not_matched_by_source):
        if sets:
            assigned_cols |= set(sets)
    if insert_values:
        assigned_cols |= set(insert_values)
    unknown = sorted(assigned_cols - known)
    if unknown:
        raise SchemaEvolutionError(
            f"MERGE assigns columns not on the target: {unknown} — "
            "pass merge_schema=True to add source columns (Delta "
            "mergeSchema semantics), or fix the column name"
        )
    t = target.alias("t")
    s = source.withColumn("__matched", F.lit(True)).alias("s")
    join_cond = None
    for tc, sc in on:
        c = F.col(f"t.{tc}") == F.col(f"s.{sc}")
        join_cond = c if join_cond is None else (join_cond & c)
    j = t.join(s, join_cond, "left")
    # ambiguity guard: matched source rows per target join-key group.
    # The window partitions on the join keys the shuffle just hashed
    # on, so no new exchange; unmatched target rows count 0; NULL-
    # keyed rows never match so they count 0 too. Every clause
    # evaluation flows through `is_matched`, so the guard cannot be
    # pruned out of the plan.
    wk = W.partitionBy(*[F.col(f"t.{tc}") for tc, _sc in on])
    n_match = F.count(F.when(F.col("s.__matched").isNotNull(), 1)).over(wk)
    is_matched = F.when(
        n_match <= 1, F.col("s.__matched").isNotNull()
    ).otherwise(
        F.raise_error(
            F.lit(
                "MERGE: multiple source rows matched the same target row "
                "(source must be unique on the join columns)"
            )
        ).cast("boolean")
    )

    # matched clauses fire on matched rows, not-matched-by-source
    # clauses on unmatched target rows — DISJOINT row sets, so one
    # combined ordered clause list resolves both families in the same
    # single pass (still one join, zero extra scans)
    clauses = [(kind, cond, sets, True) for kind, cond, sets in matched] + [
        (kind, cond, sets, False) for kind, cond, sets in not_matched_by_source
    ]
    # winning clause index per row: 0 = no clause (carry unchanged)
    idx = F.lit(0)
    assigned = F.lit(False)
    for i, (kind, cond, _sets, on_match) in enumerate(clauses, start=1):
        if kind not in ("update", "delete"):
            raise ValueError(f"unknown matched clause kind {kind!r}")
        base = is_matched if on_match else ~is_matched
        # NULL-evaluating conditions act as FALSE and FALL THROUGH to
        # the next clause (Delta/ANSI semantics). Without the coalesce,
        # three-valued logic poisons the chain: `assigned | NULL` is
        # NULL and `~NULL & hit` is never true, so one NULL condition
        # would silently disable every later clause on that row —
        # including an unconditional fallback (r8 self-review).
        hit = (
            base
            if cond is None
            else (base & F.coalesce(cond.cast("boolean"), F.lit(False)))
        )
        idx = F.when(~assigned & hit, F.lit(i)).otherwise(idx)
        assigned = assigned | hit
    j = j.withColumn("__clause", idx)

    delete_ids = [
        i for i, (k, _c, _s2, _m) in enumerate(clauses, 1) if k == "delete"
    ]
    kept = j.filter(~F.col("__clause").isin(delete_ids)) if delete_ids else j
    out_cols = []
    for f in target.schema.fields:
        expr = F.col(f"t.{f.name}")
        for i, (kind, _cond, sets, _m) in enumerate(clauses, start=1):
            if kind == "update" and sets and f.name in sets:
                expr = F.when(
                    F.col("__clause") == i, sets[f.name].cast(f.dataType)
                ).otherwise(expr)
        out_cols.append(expr.alias(f.name))
    merged = kept.select(*out_cols)

    if insert_values is not None:
        unmatched = source.alias("s").join(
            target.alias("t"), join_cond, "left_anti"
        )
        if insert_cond is not None:
            unmatched = unmatched.filter(insert_cond)
        ins = unmatched.select(
            *[
                insert_values[f.name].cast(f.dataType).alias(f.name)
                if f.name in insert_values
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in target.schema.fields
            ]
        )
        merged = merged.unionByName(ins)
    return merged
