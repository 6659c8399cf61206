"""Rebase scenarios replicated from the reference's concurrent-commit
tests (pygeodiff/tests/test_concurrent_commits.py:20-67,
tests/test_concurrent_commits.cpp:297-659): 2_inserts, 2_edits
(disjoint + conflicting), 2_deletes, update_delete, delete_update,
plus the insert-id remap cascade, and rows whose PKs share the
reference's 32-bit fid.
"""

from __future__ import annotations

import pytest

from geodiff_spark import TableInfo, diff_table, has_changes
from geodiff_spark.api import Dataset, rebase
from geodiff_spark.operators.rebase import _insert_mapping_df, rebase_table

T = TableInfo(name="simple", columns=("fid", "name", "rating"), pk=("fid",))


def snap(spark, rows):
    return spark.createDataFrame(rows, "fid long, name string, rating long")


def ds(spark, rows):
    return Dataset(tables={"simple": snap(spark, rows)}, infos={"simple": T})


BASE = [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def rows_of(dataset):
    return sorted(tuple(r) for r in dataset.tables["simple"].collect())


def n_conflicts(conflicts):
    return sum(df.count() for df in conflicts.values())


def test_disjoint_edits_no_conflict(spark):
    base = ds(spark, BASE)
    theirs = ds(spark, [(1, "a-theirs", 10), (2, "b", 20), (3, "c", 30)])
    ours = ds(spark, [(1, "a", 10), (2, "b", 20), (3, "c-ours", 30)])
    final, conflicts = rebase(base, theirs, ours)
    assert n_conflicts(conflicts) == 0
    assert rows_of(final) == [(1, "a-theirs", 10), (2, "b", 20), (3, "c-ours", 30)]


def test_concurrent_inserts_remap(spark):
    """2_inserts: both branches insert fid 4 → ours remapped to 5
    (max(theirs inserted)+1, geodiffrebase.cpp:242-270)."""
    base = ds(spark, BASE)
    theirs = ds(spark, BASE + [(4, "theirs-new", 44)])
    ours = ds(spark, BASE + [(4, "ours-new", 55)])
    final, conflicts = rebase(base, theirs, ours)
    assert n_conflicts(conflicts) == 0
    assert rows_of(final) == sorted(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "theirs-new", 44), (5, "ours-new", 55)]
    )


def test_insert_remap_cascade(spark):
    """Our inserts 4,5 where theirs inserted 4: 4→6, but 5 collides with
    nothing... and our inserts 4,6 with theirs 4,5: 4→6 collides with our
    untouched 6 → cascade 6→7 (geodiffrebase.cpp:321-350)."""
    base = ds(spark, BASE)
    theirs = ds(spark, BASE + [(4, "t4", 1), (5, "t5", 2)])
    ours = ds(spark, BASE + [(4, "o4", 3), (6, "o6", 4)])
    final, conflicts = rebase(base, theirs, ours)
    assert n_conflicts(conflicts) == 0
    assert rows_of(final) == sorted(
        [
            (1, "a", 10), (2, "b", 20), (3, "c", 30),
            (4, "t4", 1), (5, "t5", 2),
            (6, "o4", 3),  # ours 4 remapped to free id 6
            (7, "o6", 4),  # our untouched 6 collided with the remap → cascaded
        ]
    )


def test_concurrent_deletes_cancel(spark):
    base = ds(spark, BASE)
    theirs = ds(spark, [(1, "a", 10), (2, "b", 20)])  # deleted 3
    ours = ds(spark, [(1, "a", 10), (2, "b", 20)])  # deleted 3 too
    final, conflicts = rebase(base, theirs, ours)
    assert n_conflicts(conflicts) == 0
    assert rows_of(final) == [(1, "a", 10), (2, "b", 20)]


def test_update_vs_their_delete_delete_wins(spark):
    base = ds(spark, BASE)
    theirs = ds(spark, [(1, "a", 10), (2, "b", 20)])  # deleted 3
    ours = ds(spark, [(1, "a", 10), (2, "b", 20), (3, "c-edit", 99)])  # edited 3
    final, conflicts = rebase(base, theirs, ours)
    assert rows_of(final) == [(1, "a", 10), (2, "b", 20)]
    cf = conflicts["simple"].collect()
    assert len(cf) == 1
    r = cf[0]
    assert r["fid"] == 3
    assert r["item_bits"] == (1 << T.bit("name")) | (1 << T.bit("rating"))
    assert r["base_name"] == "c" and r["ours_name"] == "c-edit"
    assert r["theirs_name"] is None  # theirs undefined: delete wins
    assert r["theirs_def_bits"] == 0


def test_their_update_vs_our_delete(spark):
    """delete_update: our DELETE survives, old values patched to theirs'
    post-update state (geodiffrebase.cpp:389-443)."""
    base = ds(spark, BASE)
    theirs = ds(spark, [(1, "a", 10), (2, "b", 20), (3, "c-theirs", 33)])
    ours = ds(spark, [(1, "a", 10), (2, "b", 20)])  # deleted 3
    final, conflicts = rebase(base, theirs, ours)
    assert n_conflicts(conflicts) == 0
    assert rows_of(final) == [(1, "a", 10), (2, "b", 20)]


def test_conflicting_edits_ours_wins_with_conflict(spark):
    base = ds(spark, BASE)
    theirs = ds(spark, [(1, "a-theirs", 10), (2, "b", 20), (3, "c", 30)])
    ours = ds(spark, [(1, "a-ours", 10), (2, "b", 20), (3, "c", 30)])
    final, conflicts = rebase(base, theirs, ours)
    assert rows_of(final) == [(1, "a-ours", 10), (2, "b", 20), (3, "c", 30)]
    cf = conflicts["simple"].collect()
    assert len(cf) == 1
    r = cf[0]
    assert r["fid"] == 1
    assert r["base_name"] == "a" and r["theirs_name"] == "a-theirs" and r["ours_name"] == "a-ours"


def test_same_value_edits_cancel(spark):
    base = ds(spark, BASE)
    theirs = ds(spark, [(1, "same", 10), (2, "b", 20), (3, "c", 30)])
    ours = ds(spark, [(1, "same", 10), (2, "b", 20), (3, "c", 30)])
    final, conflicts = rebase(base, theirs, ours)
    assert n_conflicts(conflicts) == 0
    assert rows_of(final) == [(1, "same", 10), (2, "b", 20), (3, "c", 30)]


def test_no_rebase_needed_paths(spark):
    base = ds(spark, BASE)
    same = ds(spark, BASE)
    theirs = ds(spark, [(1, "a-theirs", 10), (2, "b", 20), (3, "c", 30)])
    # empty base2theirs → ours unchanged
    final, conflicts = rebase(base, same, ds(spark, [(1, "x", 1), (2, "b", 20), (3, "c", 30)]))
    assert rows_of(final) == [(1, "x", 1), (2, "b", 20), (3, "c", 30)]
    # empty base2ours → just theirs applied
    final2, _ = rebase(base, theirs, ds(spark, BASE))
    assert rows_of(final2) == [(1, "a-theirs", 10), (2, "b", 20), (3, "c", 30)]


def test_text_pk_rebase(spark):
    """Text PKs are identified by their value; disjoint edits fine."""
    TT = TableInfo(name="t", columns=("code", "v"), pk=("code",))

    def mk(rows):
        return Dataset(
            tables={"t": spark.createDataFrame(rows, "code string, v long")},
            infos={"t": TT},
        )

    base = mk([("alpha", 1), ("beta", 2)])
    theirs = mk([("alpha", 10), ("beta", 2), ("gamma", 3)])
    ours = mk([("alpha", 1), ("beta", 22)])
    final, conflicts = rebase(base, theirs, ours)
    assert sum(df.count() for df in conflicts.values()) == 0
    got = sorted(tuple(r) for r in final.tables["t"].collect())
    assert got == [("alpha", 10), ("beta", 22), ("gamma", 3)]


def test_text_pk_insert_collision_raises(spark):
    TT = TableInfo(name="t", columns=("code", "v"), pk=("code",))

    def mk(rows):
        return Dataset(
            tables={"t": spark.createDataFrame(rows, "code string, v long")},
            infos={"t": TT},
        )

    base = mk([("alpha", 1)])
    theirs = mk([("alpha", 1), ("new", 2)])
    ours = mk([("alpha", 1), ("new", 3)])
    with pytest.raises(ValueError, match="text PK"):
        rebase(base, theirs, ours)


def djb2_int32(s: str) -> int:
    """The reference's text-PK fid: h = 33*h + byte, C-int wraparound."""
    h = 0
    for b in s.encode():
        h = (33 * h + b) & 0xFFFFFFFF
    return h - (1 << 32) if h >= 1 << 31 else h


def test_text_pk_urls_sharing_a_fid_stay_apart(spark):
    """Two different urls with one djb2 fid: our edit of A over their
    edit of B passes through unchanged, with no conflict."""
    a = "https://site93.example.com/p/172777"
    b = "https://site196.example.com/p/210152"
    assert djb2_int32(a) == djb2_int32(b) == -2106524192
    TT = TableInfo(name="t", columns=("url", "text"), pk=("url",))

    def cs(rows_before, rows_after):
        def df(rows):
            return spark.createDataFrame(rows, "url string, text string")

        return diff_table(df(rows_before), df(rows_after), TT)

    base = [(a, "base-a"), (b, "base-b")]
    ours = cs(base, [(a, "client edit"), (b, "base-b")])
    theirs = cs(base, [(a, "base-a"), (b, "server edit")])
    rebased, conflicts = rebase_table(ours, theirs)
    cols = ours.df.columns
    assert sorted(map(tuple, rebased.df.select(*cols).collect())) == sorted(
        map(tuple, ours.df.collect())
    )
    assert conflicts.count() == 0


def test_int64_pks_2_pow_32_apart_stay_apart(spark):
    """int64 ids that agree in their low 32 bits are different rows: an
    edit and an insert each pass through, with no conflict or remap."""
    big = 1 << 32
    base = ds(spark, BASE + [(1 + big, "far", 11)])
    theirs = ds(spark, [(1, "a-theirs", 10), (2, "b", 20), (3, "c", 30),
                        (1 + big, "far", 11), (4, "t4", 1)])
    ours = ds(spark, BASE + [(1 + big, "far-ours", 11), (4 + big, "o4", 2)])
    final, conflicts = rebase(base, theirs, ours)
    assert n_conflicts(conflicts) == 0
    assert rows_of(final) == sorted(
        [(1, "a-theirs", 10), (2, "b", 20), (3, "c", 30), (4, "t4", 1),
         (1 + big, "far-ours", 11), (4 + big, "o4", 2)]
    )
