"""Public API — mirrors pygeodiff.GeoDiff method-for-method
(pygeodiff/main.py:22-480) but over DataFrames/snapshots instead of
file paths (SURVEY.md §2.8).

A *dataset* is ``dict[str, DataFrame]`` plus ``dict[str, TableInfo]``
metadata — the Spark analogue of geodiff's "all PK-having tables of one
database" (driver.h:24-43).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from .changeset import (
    ChangesetTable,
    ConflictsError,
    TableInfo,
    changeset_count,
    has_changes,
    summary_df,
)
from .operators.apply import apply_changeset, apply_or_raise
from .operators.concat import concat_changesets
from .operators.diff import diff_table, dump_table
from .operators.invert import invert_changeset
from .operators.rebase import rebase_changesets
from .plans.cache import persist_tracked


@dataclass
class Dataset:
    """Named tables + key metadata. ``skip_tables``/``include_tables``
    replicate the context filter (geodiffcontext.hpp:15-42): mutually
    exclusive, applied to every operation."""

    tables: dict[str, DataFrame]
    infos: dict[str, TableInfo]
    skip_tables: tuple[str, ...] = field(default=())
    include_tables: tuple[str, ...] = field(default=())

    def __post_init__(self):
        if self.skip_tables and self.include_tables:
            raise ValueError("skip_tables and include_tables are mutually exclusive")
        missing = set(self.tables) - set(self.infos)
        if missing:
            raise ValueError(f"tables missing TableInfo: {missing}")

    def active_tables(self) -> list[str]:
        names = sorted(self.tables)  # reference lists tables ORDER BY name
        if self.include_tables:
            names = [n for n in names if n in self.include_tables]
        elif self.skip_tables:
            names = [n for n in names if n not in self.skip_tables]
        return names


def create_changeset(base: Dataset, modified: Dataset) -> dict[str, ChangesetTable]:
    """GEODIFF_createChangesetEx (geodiff.cpp:231-276): table lists must
    match, per-table schemas must be compatible, no-PK tables were
    already rejected at TableInfo construction."""
    bt, mt = base.active_tables(), modified.active_tables()
    if bt != mt:
        raise ValueError(f"datasets have different table lists: {bt} vs {mt}")
    return {
        n: diff_table(base.tables[n], modified.tables[n], base.infos[n])
        for n in bt
    }


def dump_data(ds: Dataset) -> dict[str, ChangesetTable]:
    return {n: dump_table(ds.tables[n], ds.infos[n]) for n in ds.active_tables()}


def make_copy(ds: Dataset) -> Dataset:
    """makeCopy (geodiff.cpp:279-360): dump + recreate == snapshot read;
    with DataFrames a copy is just a re-selection (immutable lineage)."""
    return Dataset(
        tables={n: ds.tables[n].select("*") for n in ds.active_tables()},
        infos={n: ds.infos[n] for n in ds.active_tables()},
    )


def rebase(
    base: Dataset,
    theirs: Dataset,
    ours: Dataset,
) -> tuple[Dataset, dict[str, DataFrame]]:
    """GEODIFF_rebaseEx (geodiff.cpp:863-973): returns the final state of
    *ours* replayed on top of *theirs*, plus per-table conflict rows.

    Pipeline: base2theirs / base2ours diffs; rebase ours over theirs;
    final = apply(theirs, rebased). The reference applies
    concat(invert(base2ours), base2theirs, rebased) to ours
    (geodiff.cpp:937-965); rollback ∘ theirs takes ours to theirs
    exactly, so applying the rebased changeset to theirs is the same
    state without the invert and the three-way concat.
    """
    # each diff feeds several consumers (the has_changes probe, the
    # rebase's joins and insert allocator) — persist once instead of
    # recomputing the full-outer diff per consumer; wrap calls in
    # plans.cache.cache_scope() to release these on completion
    def diff(other: Dataset) -> dict[str, ChangesetTable]:
        return {
            n: type(t)(info=t.info, df=persist_tracked(t.df))
            for n, t in create_changeset(base, other).items()
        }

    base2theirs = diff(theirs)
    if not has_changes(base2theirs):
        return ours, {}
    rebased, conflicts = rebase_changesets(diff(ours), base2theirs)
    # skipped tables are not rebased and stay as ours has them
    final = apply_changeset({n: theirs.tables[n] for n in rebased}, rebased)
    return Dataset(tables={**ours.tables, **final}, infos=ours.infos), conflicts


class GeoDiff:
    """pygeodiff.GeoDiff-shaped facade (pygeodiff/main.py)."""

    def create_changeset(self, base: Dataset, modified: Dataset):
        return create_changeset(base, modified)

    def apply_changeset(self, ds: Dataset, changeset) -> Dataset:
        return Dataset(tables=apply_changeset(ds.tables, changeset), infos=ds.infos)

    def invert_changeset(self, changeset):
        return invert_changeset(changeset)

    def concat_changes(self, changesets: list):
        return concat_changesets(changesets)

    def rebase(self, base: Dataset, theirs: Dataset, ours: Dataset):
        return rebase(base, theirs, ours)

    def has_changes(self, changeset) -> bool:
        return has_changes(changeset)

    def changes_count(self, changeset) -> int:
        return changeset_count(changeset)

    def list_changes_summary(self, changeset):
        return summary_df(changeset)

    def dump_data(self, ds: Dataset):
        return dump_data(ds)

    def make_copy(self, ds: Dataset) -> Dataset:
        return make_copy(ds)

    # --- export / wire (GEODIFF_listChanges*, changeset files) ---------
    def list_changes(self, changeset) -> str:
        from .functions.json_export import changeset_json

        return changeset_json(changeset)

    def list_changes_summary_json(self, changeset) -> str:
        from .functions.json_export import summary_json

        return summary_json(changeset)

    def conflicts_json(self, conflicts, infos) -> str:
        from .functions.json_export import conflicts_json

        return conflicts_json(conflicts, infos)

    def write_changeset(self, changeset, path: str) -> None:
        from .sources.changeset_io import write_changeset_file

        write_changeset_file(changeset, path)

    def read_changeset(self, spark, path: str, infos, schemas):
        from .sources.changeset_io import read_changeset_file

        return read_changeset_file(spark, path, infos, schemas)
