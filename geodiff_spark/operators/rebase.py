"""Rebase — replay *our* changeset on top of *theirs* with conflict
resolution (geodiffrebase.cpp:618-668, 3 passes).

Rows are identified by their PK value (``ChangesetTable.row_key``),
the identity apply and concat use too.

Pass 1 indexes their changeset per table into {inserted keys, deleted
keys, updated key -> new values} (_parse_old_changeset, :203-240). Here
that is one left join of our entries against their non-insert entries,
plus their inserted keys for the allocator.

Pass 2 builds the PK remapping (_find_mapping_for_new_changeset,
:242-355):
  * our INSERT whose int PK collides with their INSERT gets the next
    free id (max(their inserted ids)+1, monotone counter);
  * cascade: our untouched insert ids that now collide with ids the
    remapping just allocated are remapped too, scanning ids in
    ascending order with a growing used-set (:321-350).
  The insert-collision allocator's sequential counter semantics are
  reproduced distributedly with window ranks over the (usually tiny,
  but input-controlled) collision set — see _insert_mapping_df. No part
  of the mapping is collected to the driver. Text PKs are never
  remapped: concurrent inserts of one text PK raise ValueError.

Pass 3 rewrites our entries (_prepare_new_changeset, :543-616):
  * INSERT (:358-387): rewrite PK through the mapping;
  * DELETE (:389-443): drop if both sides deleted; old values patched
    to theirs' post-update values;
  * UPDATE (:458-540): their DELETE wins — drop ours + conflict items;
    same-value edits cancel; differing edits keep ours with
    old <- theirs-new and record a ConflictItem (column, base, theirs,
    ours). gpkg_contents column 4 never conflicts (:445-456).

fid semantics: the reference squeezes the PK into a C int (int PKs
truncate to int32, text PKs hash with h = 33*h + byte over int32
wraparound; get_primary_key, geodiffutils.cpp:349-411) and rebases on
that. Here fid is only the id the conflict export writes: it is
computed for the conflict rows alone, so two rows sharing a fid stay
two rows.

Conflicts are a side-output DataFrame, one row per conflicting entry:
(fid, item_bits, {base,theirs,ours}_def_bits, base_<c>/theirs_<c>/
ours_<c>...) — exported to geodiff's conflict JSON by
functions.json_export.conflicts_json.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..changeset import (
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
    ChangesetTable,
    TableInfo,
    bit_defined,
)
from ..plans.cache import persist_tracked

#: Columns that never produce conflict items: {table_name: {column_index}}
#: (gpkg_contents.last_change, geodiffrebase.cpp:445-456)
CONFLICT_SUPPRESS = {"gpkg_contents": {4}}


@F.pandas_udf(T.LongType())
def _djb2_int32(s: pd.Series) -> pd.Series:
    """Vectorized h = 33*h + byte with C-int (int32) wraparound — exact
    replication of get_primary_key's text hash. Loops over byte
    *positions*, not rows."""
    data = s.fillna("").astype(str).str.encode("utf-8")
    maxlen = int(data.str.len().max() or 0)
    n = len(data)
    mat = np.zeros((n, maxlen), dtype=np.int64)
    lens = data.str.len().to_numpy()
    buf = np.frombuffer(b"".join(data), dtype=np.uint8)
    # scatter the ragged byte stream into the padded matrix
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    for j in range(maxlen):
        rows = lens > j
        mat[rows, j] = buf[offs[:-1][rows] + j]
    h = np.zeros(n, dtype=np.int32)
    with np.errstate(over="ignore"):
        for j in range(maxlen):
            active = lens > j
            h = np.where(
                active, (np.int32(33) * h + mat[:, j].astype(np.int32)), h
            ).astype(np.int32)
    return pd.Series(h.astype(np.int64))


_INT_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def fid_col(info: TableInfo, value: Column, dtype) -> Column:
    """fid from a PK value column (int32-truncated int, or djb2 of text)."""
    if len(info.pk) != 1:
        raise ValueError("rebase supports exactly one PK column (reference parity)")
    if isinstance(dtype, _INT_TYPES):
        return value.cast("int").cast("long")
    if isinstance(dtype, T.StringType):
        return _djb2_int32(value)
    raise ValueError(f"unsupported PK type for rebase: {dtype}")


def _insert_mapping_df(
    ours_ins_fids: DataFrame, theirs_ins_fids: DataFrame
) -> DataFrame:
    """Distributed insert-collision allocator (SURVEY §2.5 Pass 2).

    Same observable contract as the reference's sequential counter
    (_find_mapping_for_new_changeset, geodiffrebase.cpp:242-350) —
    collision-free ids, all >= max(theirs)+1, assigned in ascending fid
    order — computed with window ranks instead of a driver loop, so it
    survives the backfill-race case where the collision set is O(all
    inserts):

    * colliding fids (ours ∩ theirs), ranked ascending (rank i, 1-based),
      map to mx + i  (== free, free+1, ... with free = mx+1);
    * cascade: a non-colliding our-insert fid can collide with a freshly
      allocated id. The allocated ids always form the contiguous range
      [mx+1, counter-1], so candidate u_j (rank j among non-colliding
      fids > mx, ascending) is remapped iff u_j <= mx + k + j - 1
      (k = #collisions) and maps to mx + k + j. The per-row inequality
      equals the sequential scan's growing-used-set check because a
      failing candidate forces every later one to fail (fids ascend
      while the counter freezes), so no iteration is needed.

    The scalars (mx, k) ride along as broadcast 1-row aggregates — the
    whole mapping folds into the main rebase job with zero driver-side
    actions or collections. Ranks use the two-phase scheme in
    :func:`_global_rank`, so even a collision set the size of ALL
    inserts never funnels through one task.
    """
    # each distinct fid set feeds 2-3 consumers (semi/anti joins, max
    # aggregate) — tracked persists run the dedup shuffles once and are
    # released by the caller's cache_scope (localCheckpoint blocks would
    # outlive the scope and accrete storage across a rebase loop)
    t = persist_tracked(theirs_ins_fids.distinct())
    o = persist_tracked(ours_ins_fids.distinct())
    stats = t.agg(F.max("fid").alias("_mx"))  # 1 row; null _mx if no inserts

    coll = _global_rank(o.join(t, "fid", "left_semi"))
    kstats = coll.agg(F.coalesce(F.max("_rn"), F.lit(0)).alias("_k"))

    coll_map = coll.crossJoin(F.broadcast(stats)).select(
        "fid", (F.col("_mx") + F.col("_rn")).alias("_remap_fid")
    )
    cascade = (
        _global_rank(
            o.join(t, "fid", "left_anti")
            .crossJoin(F.broadcast(stats))
            .filter(F.col("fid") > F.col("_mx"))  # only ids in the window
        )
        .crossJoin(F.broadcast(kstats))
        .filter(F.col("fid") <= F.col("_mx") + F.col("_k") + F.col("_rn") - 1)
        .select(
            "fid",
            (F.col("_mx") + F.col("_k") + F.col("_rn")).alias("_remap_fid"),
        )
    )
    return coll_map.unionByName(cascade)


def _global_rank(df: DataFrame, out: str = "_rn") -> DataFrame:
    """1-based ascending rank of (distinct) ``fid`` WITHOUT a global
    single-partition window: range-partition on fid, rank locally within
    each physical partition, then add broadcast prefix-count offsets
    (the offsets relation is #partitions rows — its window is trivially
    small). Scales to ranks over billions of rows; a plain
    ``row_number() over (order by fid)`` funnels everything through one
    task."""
    from pyspark.sql import Window

    p = df.sparkSession.sparkContext.defaultParallelism
    d = df.repartitionByRange(p, "fid").withColumn(
        "_pid", F.spark_partition_id()
    )
    # feeds the offsets aggregate AND the final join — tracked persist
    # so the range shuffle + local rank window run once, not twice
    # (scope-released; see _insert_mapping_df)
    d = persist_tracked(
        d.withColumn(
            "_lrn",
            F.row_number().over(Window.partitionBy("_pid").orderBy("fid")),
        )
    )
    offs = (
        d.groupBy("_pid")
        .agg(F.max("_lrn").alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
    )
    return (
        d.join(F.broadcast(offs.select("_pid", "_off")), "_pid")
        .withColumn(out, (F.col("_lrn") + F.col("_off")).cast("int"))
        .drop("_pid", "_lrn")
    )


def rebase_table(
    ours: ChangesetTable, theirs: ChangesetTable | None
) -> tuple[ChangesetTable, DataFrame]:
    """Rebase our per-table changeset over theirs.

    Returns (rebased changeset table, conflicts DataFrame). ``theirs``
    None (table untouched by them) passes ours through unchanged
    (geodiffrebase.cpp:566-573).
    """
    info = ours.info
    cols = list(info.columns)
    pk = info.pk[0]

    if theirs is None:
        return ours, ours.df.sparkSession.createDataFrame([], _conflicts_schema(ours))

    pk_dtype = ours.df.schema[f"old_{pk}"].dataType
    pk_is_int = isinstance(pk_dtype, _INT_TYPES)
    key = f"_k_{pk}"
    fid = fid_col(info, F.col(key), pk_dtype)  # validates the PK up front
    is_ins = F.col("op") == OP_INSERT

    ours_df = ours.df.select("*", *ours.row_key())
    th = theirs.df.select("*", *theirs.row_key())

    o_ins, t_ins = (df.filter(is_ins).select(key) for df in (ours_df, th))
    if pk_is_int:
        # no broadcast hint: the mapping is usually tiny (AQE converts to
        # a runtime broadcast join), but a pathological backfill-race
        # mapping of O(all inserts) rows must not reach the driver
        ids = F.col(key).cast("long")
        m = _insert_mapping_df(o_ins.select(ids.alias("fid")), t_ins.select(ids.alias("fid")))
        ours_df = ours_df.join(m, ids == m["fid"], "left").drop("fid")
    elif not o_ins.join(t_ins, key, "left_semi").isEmpty():
        # text PKs are never remapped (the reference would corrupt them by
        # round-tripping through an int fid). The isEmpty probe is the only
        # action in this module, bounded to a limit-1 semi-join.
        raise ValueError(
            "concurrent INSERTs share a text PK; the reference would "
            "corrupt the PK by writing an int fid"
        )

    # their UPDATE/DELETE of the row each of our entries touches
    their_rows = th.filter(~is_ins).select(
        key,
        F.when(F.col("op") == OP_DELETE, F.lit(True)).alias("_their_del"),
        *[F.col(f"new_{c}").alias(f"p_{c}") for c in cols],
        F.when(F.col("op") == OP_UPDATE, F.col("new_bits")).alias("p_bits"),
    )
    j = ours_df.join(their_rows, key, "left")

    op = F.col("op")
    their_del = F.col("_their_del").isNotNull()
    has_patch = F.col("p_bits").isNotNull()

    # ---- per-column output + conflict expressions ----------------------
    out_old, out_new = [], []
    old_bits = F.lit(0).cast("long")
    new_bits = F.lit(0).cast("long")
    upd_has_change = F.lit(False)
    item_flags: dict[str, Column] = {}
    suppress = CONFLICT_SUPPRESS.get(info.name, set())

    for i, c in enumerate(cols):
        is_pk = info.is_pk(c)
        o_def = bit_defined(F.col("old_bits"), i)
        n_def = bit_defined(F.col("new_bits"), i)
        p_def = has_patch & bit_defined(F.col("p_bits"), i)
        o_val, n_val, p_val = (
            F.col(f"old_{c}"),
            F.col(f"new_{c}"),
            F.col(f"p_{c}"),
        )

        if is_pk:
            # rewrite the PK only when a mapping exists; unmapped inserts
            # keep their original value (the reference round-trips those
            # through the int32 fid, corrupting >32-bit ids — we don't)
            ins_new = (
                F.when(F.col("_remap_fid").isNotNull(), F.col("_remap_fid").cast(pk_dtype))
                .otherwise(n_val)
                if pk_is_int
                else n_val  # text PK never remapped (guarded above)
            )
            oo = F.when(op == OP_UPDATE, o_val).when(op == OP_DELETE, o_val)
            nn = F.when(op == OP_INSERT, ins_new)
            ood = op != OP_INSERT
            nnd = op == OP_INSERT
        else:
            both = p_def & n_def
            eq = both & p_val.eqNullSafe(n_val)
            conflicting = both & ~p_val.eqNullSafe(n_val)
            # UPDATE: cancel / take-theirs-as-old / passthrough
            upd_old = F.when(conflicting, p_val).when(~both & o_def, o_val)
            upd_old_def = F.when(eq, F.lit(False)).otherwise(
                conflicting | (~both & o_def)
            )
            upd_new = F.when(conflicting, n_val).when(~both & n_def, n_val)
            upd_new_def = F.when(eq, F.lit(False)).otherwise(
                conflicting | (~both & n_def)
            )
            # DELETE: old patched to theirs' post-update value
            del_old = F.when(p_def, p_val).otherwise(o_val)

            oo = F.when(op == OP_UPDATE, F.when(upd_old_def, upd_old)).when(
                op == OP_DELETE, del_old
            )
            nn = F.when(op == OP_UPDATE, F.when(upd_new_def, upd_new)).when(
                op == OP_INSERT, n_val
            )
            ood = F.when(op == OP_UPDATE, upd_old_def).otherwise(op == OP_DELETE)
            nnd = F.when(op == OP_UPDATE, upd_new_def).otherwise(op == OP_INSERT)
            upd_has_change = upd_has_change | ((op == OP_UPDATE) & upd_new_def)
            if i not in suppress:
                # update/update conflict item on this column
                item_flags[c] = (op == OP_UPDATE) & ~their_del & conflicting

        out_old.append(oo.alias(f"r_old_{c}"))
        out_new.append(nn.alias(f"r_new_{c}"))
        w = F.lit(1 << i).cast("long")
        old_bits = old_bits + F.when(ood, w).otherwise(F.lit(0).cast("long"))
        new_bits = new_bits + F.when(nnd, w).otherwise(F.lit(0).cast("long"))

    keep = (
        F.when(op == OP_INSERT, F.lit(True))
        .when(op == OP_DELETE, ~their_del)
        .when(op == OP_UPDATE, ~their_del & upd_has_change)
        .otherwise(F.lit(False))
    )

    base = persist_tracked(j.withColumn("_keep", keep))

    rebased = base.filter(F.col("_keep")).select(
        "op",
        *out_old,
        *out_new,
        old_bits.alias("old_bits"),
        new_bits.alias("new_bits"),
    )
    # strip the r_ prefixes back to the IR names
    rebased = rebased.toDF(
        "op",
        *[f"old_{c}" for c in cols],
        *[f"new_{c}" for c in cols],
        "old_bits",
        "new_bits",
    )

    conflicts = _conflict_rows(base, info, fid, item_flags, their_del, suppress)
    return ChangesetTable(info=info, df=rebased), conflicts


def _conflicts_schema(cs: ChangesetTable) -> T.StructType:
    info = cs.info
    fields = [
        T.StructField("fid", T.LongType()),
        T.StructField("item_bits", T.LongType()),
        T.StructField("base_def_bits", T.LongType()),
        T.StructField("theirs_def_bits", T.LongType()),
        T.StructField("ours_def_bits", T.LongType()),
    ]
    for c in info.columns:
        dt = cs.df.schema[f"old_{c}"].dataType
        fields += [
            T.StructField(f"base_{c}", dt),
            T.StructField(f"theirs_{c}", dt),
            T.StructField(f"ours_{c}", dt),
        ]
    return T.StructType(fields)


def _conflict_rows(
    base: DataFrame,
    info: TableInfo,
    fid: Column,
    item_flags: dict[str, Column],
    their_del: Column,
    suppress: set[int],
) -> DataFrame:
    """One row per conflicting UPDATE entry, two flavours:

    * update vs their-delete (delete wins): item per defined `new` col,
      theirs undefined (geodiffrebase.cpp:470-487);
    * update vs their-update: item per both-defined differing col,
      theirs = patched value (:498-540).
    """
    op = F.col("op")
    cols = list(info.columns)

    item_bits = F.lit(0).cast("long")
    base_def = F.lit(0).cast("long")
    theirs_def = F.lit(0).cast("long")
    ours_def = F.lit(0).cast("long")
    sel = [fid.alias("fid")]
    for i, c in enumerate(cols):
        n_def = bit_defined(F.col("new_bits"), i)
        o_def = bit_defined(F.col("old_bits"), i)
        p_def = F.col("p_bits").isNotNull() & bit_defined(F.col("p_bits"), i)
        if info.is_pk(c) or i in suppress:
            is_item = F.lit(False)
        else:
            del_item = their_del & n_def
            uu_item = item_flags.get(c, F.lit(False))
            is_item = del_item | uu_item
        w = F.lit(1 << i).cast("long")
        zero = F.lit(0).cast("long")
        item_bits = item_bits + F.when(is_item, w).otherwise(zero)
        base_def = base_def + F.when(is_item & o_def, w).otherwise(zero)
        theirs_def = theirs_def + F.when(is_item & ~their_del & p_def, w).otherwise(zero)
        ours_def = ours_def + F.when(is_item & n_def, w).otherwise(zero)
        sel += [
            F.when(is_item, F.col(f"old_{c}")).alias(f"base_{c}"),
            F.when(is_item & ~their_del, F.col(f"p_{c}")).alias(f"theirs_{c}"),
            F.when(is_item, F.col(f"new_{c}")).alias(f"ours_{c}"),
        ]
    out = (
        base.filter(op == OP_UPDATE)
        .select(
            *sel,
            item_bits.alias("item_bits"),
            base_def.alias("base_def_bits"),
            theirs_def.alias("theirs_def_bits"),
            ours_def.alias("ours_def_bits"),
        )
        .filter(F.col("item_bits") != 0)
    )
    order = ["fid", "item_bits", "base_def_bits", "theirs_def_bits", "ours_def_bits"]
    order += [f"{side}_{c}" for c in cols for side in ("base", "theirs", "ours")]
    return out.select(*order)


def rebase_changesets(
    ours: dict[str, ChangesetTable], theirs: dict[str, ChangesetTable]
) -> tuple[dict[str, ChangesetTable], dict[str, DataFrame]]:
    out, conflicts = {}, {}
    for name, cs in ours.items():
        rb, cf = rebase_table(cs, theirs.get(name))
        out[name] = rb
        conflicts[name] = cf
    return out, conflicts
