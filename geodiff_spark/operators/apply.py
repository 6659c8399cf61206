"""applyChangeset — set-semantics MERGE of a changeset into a snapshot.

The reference applies entries statement-at-a-time inside one savepoint,
with a constraint-retry fixed point, and ROLLS BACK the whole apply if
any entry remains unapplied (sqlitedriver.cpp:866-987; GeoDiffConflicts
thrown at :981-985). Entry-order effects are only observable through
FK/trigger machinery that doesn't exist over analytic tables, so we
compute the final state in ONE full-outer join:

    target  FULL OUTER JOIN  changeset ON pk
      no entry                      -> row unchanged
      insert + row absent           -> new row from `new` values
      insert + row present          -> conflict (pk constraint violation)
      update + guard ok             -> per-column merge: defined `new`
                                       bits overwrite, others keep current
      update + row absent/guard bad -> conflict 'update_nothing'
                                       (sqlitedriver.cpp:829-834)
      delete + guard ok             -> row dropped
      delete + row absent/guard bad -> conflict 'delete_nothing'

The *guard* is geodiff's optimistic-concurrency predicate: every column
defined on the `old` side must match the current row value
(sqlForUpdate/sqlForDelete, sqlitedriver.cpp:653-729), with timestamps
compared at millisecond precision (:690-695, :719-724).

``apply_or_raise`` mirrors the reference contract exactly: any conflict
=> exception, target unchanged (rollback). ``apply_table`` returns both
outputs lazily for callers that want the conflict side-channel.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..changeset import (
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
    ChangesetTable,
    ConflictsError,
    TableInfo,
    bit_defined,
)
from ..plans.cache import persist_tracked

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSS"


def _guard_ok(info: TableInfo, cs_prefix: str = "e") -> Column:
    """All old-defined columns match the current row (null-safe)."""
    checks = []
    for i, c in enumerate(info.columns):
        cur, old = F.col(f"t.{c}"), F.col(f"{cs_prefix}.old_{c}")
        if c in info.timestamp_cols:
            cur = F.date_format(cur, _TS_FMT)
            old = F.date_format(old, _TS_FMT)
        defined = bit_defined(F.col(f"{cs_prefix}.old_bits"), i)
        checks.append(~defined | cur.eqNullSafe(old))
    return reduce(lambda a, b: a & b, checks)


def apply_table(
    target: DataFrame,
    cs: ChangesetTable,
    *,
    persist_join: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(new_target, conflicts)``, both lazy.

    ``conflicts`` schema: op, reason, <pk cols>. ``persist_join`` caches
    the joined relation so materializing both outputs costs one join.
    """
    info = cs.info
    cols = list(info.columns)

    t = target.select(*cols, F.lit(True).alias("_present")).alias("t")
    e = cs.df.select("*", *cs.row_key()).alias("e")

    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"t.{c}").eqNullSafe(F.col(f"e._k_{c}")) for c in info.pk],
    )
    j = t.join(e, cond, "full_outer")
    if persist_join:
        j = persist_tracked(j)

    present = F.col("t._present").isNotNull()
    op = F.col("e.op")
    guard = _guard_ok(info)

    outcome = (
        F.when(op.isNull(), F.lit("keep"))
        .when((op == OP_INSERT) & ~present, F.lit("insert"))
        .when((op == OP_INSERT) & present, F.lit("conflict_insert"))
        .when((op == OP_UPDATE) & present & guard, F.lit("merge"))
        .when(op == OP_UPDATE, F.lit("conflict_update"))
        .when((op == OP_DELETE) & present & guard, F.lit("drop"))
        .otherwise(F.lit("conflict_delete"))
    )
    jj = j.withColumn("_outcome", outcome)

    out_cols = []
    for i, c in enumerate(cols):
        new_def = bit_defined(F.col("e.new_bits"), i)
        merged = F.when(new_def, F.col(f"e.new_{c}")).otherwise(F.col(f"t.{c}"))
        out_cols.append(
            F.when(F.col("_outcome") == "insert", F.col(f"e.new_{c}"))
            .when(F.col("_outcome") == "merge", merged)
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
        )
    # everything except clean deletes survives; conflict rows keep the
    # current value (the entry is the thing that failed, not the row).
    # A conflicting update/delete on an absent row contributes no row.
    new_target = jj.filter(
        (F.col("_outcome") != "drop")
        & (present | (F.col("_outcome") == "insert"))
    ).select(*out_cols)

    reason = (
        F.when(F.col("_outcome") == "conflict_insert", F.lit("insert_exists"))
        .when(F.col("_outcome") == "conflict_update", F.lit("update_nothing"))
        .when(F.col("_outcome") == "conflict_delete", F.lit("delete_nothing"))
    )
    conflicts = (
        jj.filter(F.col("_outcome").startswith("conflict"))
        .select(
            F.col("e.op").alias("op"),
            reason.alias("reason"),
            *[F.col(f"e._k_{c}").alias(c) for c in info.pk],
        )
    )
    return new_target, conflicts


def apply_or_raise(target: DataFrame, cs: ChangesetTable) -> DataFrame:
    """Reference contract (GEODIFF_CONFLICTS): any conflict -> raise,
    target conceptually unchanged (we never wrote anything)."""
    new_target, conflicts = apply_table(target, cs)
    n = conflicts.count()
    if n:
        raise ConflictsError(
            f"Conflicts encountered while applying changes! Total {n}",
            conflicts=conflicts,
        )
    return new_target


def apply_changeset(
    targets: dict[str, DataFrame], changeset: dict[str, ChangesetTable]
) -> dict[str, DataFrame]:
    """Multi-table apply with the apply_or_raise contract (any conflict
    anywhere -> raise, nothing applied), but the per-table conflict
    probes fused into ONE Spark action (a union count) instead of N
    sequential counts."""
    out = dict(targets)
    conflict_parts = []
    for name, cs in changeset.items():
        if name not in targets:
            raise KeyError(f"changeset table {name!r} not in target dataset")
        new_target, conflicts = apply_table(targets[name], cs)
        out[name] = new_target
        conflict_parts.append(
            conflicts.select(F.lit(name).alias("table"), "op", "reason")
        )
    if conflict_parts:
        all_conflicts = reduce(DataFrame.unionByName, conflict_parts)
        n = all_conflicts.count()
        if n:
            raise ConflictsError(
                f"Conflicts encountered while applying changes! Total {n}",
                conflicts=all_conflicts,
            )
    return out
