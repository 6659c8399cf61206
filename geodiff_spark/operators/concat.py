"""concatChangesets — ordered fold of N changesets into one.

The reference builds an in-memory hash of every entry keyed by (table,
pk) and merges sequentially (changesetconcat.cpp:196-275). We instead
fold pairwise: ``concat([a, b, c]) = merge(merge(a, b), c)`` where each
``merge`` is ONE full-outer join on the row key plus metaprogrammed
per-column CASE logic — distributed, spillable, no Python in the loop.

The 9-case merge table (mergeEntriesForRow, changesetconcat.cpp:130-191):

    e1 \\ e2 |  INSERT        UPDATE          DELETE
    INSERT   |  drop both*    INSERT patched  drop (no-op row)
    UPDATE   |  drop both*    merged UPDATE** DELETE (old backfilled)
    DELETE   |  UPDATE**      drop both*      drop both*

    *  "unsupported sequence" — the reference removes the existing entry
       and does not insert the new one, so the row vanishes entirely
       (changesetconcat.cpp:252-258).
    ** via mergeUpdate (changesetconcat.cpp:78-117): per column
       vOld = e1.old if defined else e2.old,
       vNew = e2.new if defined else e1.new; keep old where (pk or
       vOld!=vNew), keep new where (not pk and vOld!=vNew); drop the
       entry if no non-PK column actually changes.

Row identity = ``ChangesetTable.row_key`` (HashChangesetEntryPkey,
changesetconcat.cpp:21-35).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..changeset import (
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
    ChangesetTable,
    bit_defined,
)


def _with_keys(cs: ChangesetTable, prefix: str):
    """Rename every column with a side prefix and add the row-key cols
    `_k<prefix>_<pk>`."""
    sel = [F.col(c).alias(f"{prefix}_{c}") for c in cs.df.columns]
    return cs.df.select(*sel, *cs.row_key(f"_k{prefix}"))


def _differs(v_def1: Column, v1: Column, v_def2: Column, v2: Column) -> Column:
    """Tagged-Value inequality (changeset.h:54-69): definedness mismatch
    counts as different; both-defined compares null-safely (TypeNull ==
    TypeNull)."""
    return (v_def1 != v_def2) | (v_def1 & v_def2 & ~v1.eqNullSafe(v2))


def merge_pair(
    cs1: ChangesetTable,
    cs2: ChangesetTable,
    observation=None,
) -> ChangesetTable:
    """Merge two successive changesets of the same table (e1 earlier).

    ``observation``: optional ``pyspark.sql.Observation``; when given,
    the count of UNSUPPORTED op sequences the merge discards (I+I, U+I,
    D+U, D+D — the reference warns and drops these,
    changesetconcat.cpp:135-139 and the driver warning at :252-258) is
    published as metric ``unsupported_pairs`` on the same action that
    materializes the merge — no extra job. ``unsupported_pairs`` returns
    the offending rows themselves as a side-output."""
    info = cs1.info
    cols = list(info.columns)

    left = _with_keys(cs1, "e1")
    right = _with_keys(cs2, "e2")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"_ke1_{c}").eqNullSafe(F.col(f"_ke2_{c}")) for c in info.pk],
    )
    j = left.join(right, cond, "full_outer")

    op1, op2 = F.col("e1_op"), F.col("e2_op")
    both = op1.isNotNull() & op2.isNotNull()
    only1 = op1.isNotNull() & op2.isNull()
    only2 = op2.isNotNull() & op1.isNull()

    is_iu = both & (op1 == OP_INSERT) & (op2 == OP_UPDATE)
    is_uu = both & (op1 == OP_UPDATE) & (op2 == OP_UPDATE)
    is_ud = both & (op1 == OP_UPDATE) & (op2 == OP_DELETE)
    is_di = both & (op1 == OP_DELETE) & (op2 == OP_INSERT)
    # I+D is a legal cancellation; the remaining both-sided combos
    # (I+I, U+I, D+U, D+D) are corrupt sequences the reference warns
    # about and drops — surfaced via `observation` / unsupported_pairs.
    is_cancel = both & (op1 == OP_INSERT) & (op2 == OP_DELETE)
    is_unsupported = both & ~(is_iu | is_uu | is_ud | is_di | is_cancel)
    if observation is not None:
        j = j.observe(
            observation,
            F.sum(F.when(is_unsupported, 1).otherwise(0)).alias(
                "unsupported_pairs"
            ),
        )

    # --- mergeUpdate value pipeline, used by U+U and D+I ---------------
    # per column: vOld/vNew with definedness, plus per-column "differs".
    # MATERIALIZED in their own projection before the output CASEs:
    # inlined, every output column re-embeds the discriminators and its
    # tagged comparison, and the op filter re-embeds the OR of every
    # column's comparison — the single fused SMJ-consume method then
    # crosses Janino's 64 KB limit on wide tables and the whole join
    # stage drops off codegen. As non-cheap aliases referenced
    # repeatedly, CollapseProject keeps the stages apart and each
    # consume method stays linear in n_cols.
    v_old, v_new, v_old_def, v_new_def, differ = {}, {}, {}, {}, {}
    stage1 = [F.col(c) for c in j.columns] + [
        only1.alias("_only1"), only2.alias("_only2"),
        is_iu.alias("_is_iu"), is_uu.alias("_is_uu"),
        is_ud.alias("_is_ud"), is_di.alias("_is_di"),
    ]
    for i, c in enumerate(cols):
        d1o = op1.isNotNull() & bit_defined(F.col("e1_old_bits"), i)
        d1n = op1.isNotNull() & bit_defined(F.col("e1_new_bits"), i)
        d2o = op2.isNotNull() & bit_defined(F.col("e2_old_bits"), i)
        d2n = op2.isNotNull() & bit_defined(F.col("e2_new_bits"), i)
        vo = F.when(d1o, F.col(f"e1_old_{c}")).when(d2o, F.col(f"e2_old_{c}"))
        vn = F.when(d2n, F.col(f"e2_new_{c}")).when(d1n, F.col(f"e1_new_{c}"))
        vod = d1o | d2o
        vnd = d1n | d2n
        stage1 += [
            vo.alias(f"_vo_{c}"), vn.alias(f"_vn_{c}"),
            vod.alias(f"_vod_{c}"), vnd.alias(f"_vnd_{c}"),
            _differs(vod, vo, vnd, vn).alias(f"_dif_{c}"),
        ]
        v_old[c], v_new[c] = F.col(f"_vo_{c}"), F.col(f"_vn_{c}")
        v_old_def[c], v_new_def[c] = F.col(f"_vod_{c}"), F.col(f"_vnd_{c}")
        differ[c] = F.col(f"_dif_{c}")
    j = j.select(*stage1)
    only1, only2 = F.col("_only1"), F.col("_only2")
    is_iu, is_uu = F.col("_is_iu"), F.col("_is_uu")
    is_ud, is_di = F.col("_is_ud"), F.col("_is_di")

    merged_required = (
        reduce(lambda a, b: a | b, [differ[c] for c in info.non_pk])
        if info.non_pk
        else F.lit(False)
    )

    out_op = (
        F.when(only1, op1)
        .when(only2, op2)
        .when(is_iu, F.lit(OP_INSERT))
        .when(is_uu & merged_required, F.lit(OP_UPDATE))
        .when(is_ud, F.lit(OP_DELETE))
        .when(is_di & merged_required, F.lit(OP_UPDATE))
    )

    old_cols, new_cols = [], []
    old_bits = F.lit(0).cast("long")
    new_bits = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        pk = info.is_pk(c)
        d1o = bit_defined(F.col("e1_old_bits"), i)
        d1n = bit_defined(F.col("e1_new_bits"), i)
        d2o = bit_defined(F.col("e2_old_bits"), i)
        d2n = bit_defined(F.col("e2_new_bits"), i)

        # merged-UPDATE shape (U+U and D+I share it). The branch picks
        # WHICH value to write, but mergeUpdate writes vOld/vNew that
        # can themselves be TypeUndefined (changesetconcat.cpp:95-114
        # pushes vOld verbatim) — so definedness also requires the
        # merged value to be defined, else a chained merge would turn
        # Undefined into defined-NULL (caught by the property sweep).
        mu_old_def = (F.lit(pk) | differ[c]) & v_old_def[c]
        mu_new_def = F.lit(not pk) & differ[c] & v_new_def[c]

        # I+U: INSERT patched — new = e2.new if defined else e1.new
        iu_new = F.when(d2n, F.col(f"e2_new_{c}")).otherwise(F.col(f"e1_new_{c}"))

        # U+D: DELETE — old = e1.old if defined else e2.old
        ud_old = F.when(d1o, F.col(f"e1_old_{c}")).otherwise(F.col(f"e2_old_{c}"))

        o = (
            F.when(only1, F.col(f"e1_old_{c}"))
            .when(only2, F.col(f"e2_old_{c}"))
            .when(is_uu | is_di, F.when(mu_old_def, v_old[c]))
            .when(is_ud, ud_old)
        )
        n = (
            F.when(only1, F.col(f"e1_new_{c}"))
            .when(only2, F.col(f"e2_new_{c}"))
            .when(is_uu | is_di, F.when(mu_new_def, v_new[c]))
            .when(is_iu, iu_new)
        )
        # U+D backfill / I+U patch keep Undefined when BOTH sides are
        # undefined (the reference copies values verbatim; it never
        # conjures a defined NULL out of two Undefineds)
        o_def = (
            F.when(only1, d1o)
            .when(only2, d2o)
            .when(is_uu | is_di, mu_old_def)
            .when(is_ud, d1o | d2o)
            .otherwise(F.lit(False))
        )
        n_def = (
            F.when(only1, d1n)
            .when(only2, d2n)
            .when(is_uu | is_di, mu_new_def)
            .when(is_iu, d1n | d2n)
            .otherwise(F.lit(False))
        )
        old_cols.append(o.alias(f"old_{c}"))
        new_cols.append(n.alias(f"new_{c}"))
        w = F.lit(1 << i).cast("long")
        old_bits = old_bits + F.when(o_def, w).otherwise(F.lit(0).cast("long"))
        new_bits = new_bits + F.when(n_def, w).otherwise(F.lit(0).cast("long"))

    out = (
        j.select(
            out_op.alias("op"),
            *old_cols,
            *new_cols,
            old_bits.alias("old_bits"),
            new_bits.alias("new_bits"),
        )
        .filter(F.col("op").isNotNull())
    )
    return ChangesetTable(info=info, df=out)


def unsupported_pairs(cs1: ChangesetTable, cs2: ChangesetTable) -> DataFrame:
    """Side-output twin of :func:`merge_pair`: the entry pairs whose op
    sequence the concat semantics DISCARD (I+I, U+I, D+U, D+D — corrupt
    input; changesetconcat.cpp:135-139 warns per occurrence). Returns
    (pk..., op1, op2) so callers can log/quarantine them. Same key
    shuffle as the merge itself — inner join, nothing new at scale."""
    info = cs1.info
    left = _with_keys(cs1, "e1")
    right = _with_keys(cs2, "e2")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"_ke1_{c}").eqNullSafe(F.col(f"_ke2_{c}")) for c in info.pk],
    )
    op1, op2 = F.col("e1_op"), F.col("e2_op")
    ok = (
        ((op1 == OP_INSERT) & ((op2 == OP_UPDATE) | (op2 == OP_DELETE)))
        | ((op1 == OP_UPDATE) & ((op2 == OP_UPDATE) | (op2 == OP_DELETE)))
        | ((op1 == OP_DELETE) & (op2 == OP_INSERT))
    )
    return (
        left.join(right, cond, "inner")
        .filter(~ok)
        .select(
            *[F.col(f"_ke1_{c}").alias(c) for c in info.pk],
            op1.alias("op1"),
            op2.alias("op2"),
        )
    )


def concat_tables(
    tables: list[ChangesetTable], observation=None
) -> ChangesetTable:
    """Fold N changeset tables in order (earliest first). When
    ``observation`` is given it is attached to the FIRST merge only
    (a Spark Observation is single-use); per-pair auditing at scale
    should use :func:`unsupported_pairs` on the suspect step."""
    if not tables:
        raise ValueError("concat of zero changesets")
    if len(tables) > 1 and observation is not None:
        head = merge_pair(tables[0], tables[1], observation=observation)
        return reduce(merge_pair, tables[2:], head)
    return reduce(merge_pair, tables)


def concat_changesets(
    changesets: list[dict[str, ChangesetTable]],
) -> dict[str, ChangesetTable]:
    """Multi-table concat: tables appearing in any input are folded over
    the inputs that contain them, in input order."""
    names: list[str] = []
    for cs in changesets:
        for n in cs:
            if n not in names:
                names.append(n)
    return {
        n: concat_tables([cs[n] for cs in changesets if n in cs]) for n in names
    }
