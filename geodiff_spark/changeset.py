"""Changeset intermediate representation.

geodiff's wire model (reference: geodiff/src/changeset.h:204-251,
docs/changeset-format.md:24-49) is a stream of per-row entries
``(op, oldValues[], newValues[])`` where each value is a tagged scalar
that can be **Undefined** ("column not present in this change") — a
distinct state from SQL NULL (changeset.h:24-27).

Our IR re-expresses one changeset *table* as a DataFrame with flattened
old/new columns plus two int64 *definedness bitmasks*:

    op:        string  -- 'insert' | 'update' | 'delete'
    old_<c>:   T_c     -- per source column c (null when Undefined OR NULL)
    new_<c>:   T_c
    old_bits:  bigint  -- bit i set  <=>  column i is *defined* on old side
    new_bits:  bigint

The bitmask disambiguates Undefined (bit clear) from defined-NULL (bit
set, value null). All changeset algebra (invert/concat/apply/rebase)
then compiles to JVM-side column expressions — no per-row Python.

Invariants mirroring the wire format (docs/changeset-format.md:24-49):
  insert: new fully defined, old fully undefined
  delete: old fully defined, new fully undefined
  update: old has PK cols + changed cols defined; new has changed cols
          defined (PK in new defined only if the PK itself changed)

Row identity is the PK value: an entry touches the row whose PK equals
its `new` PK values for an insert and its `old` PK values otherwise.
``ChangesetTable.row_key`` is the one definition every operator (apply,
concat, rebase, the wire writer) joins or sorts on.

A multi-table changeset is a dict {table_name: ChangesetTable}.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OP_INSERT = "insert"
OP_UPDATE = "update"
OP_DELETE = "delete"

MAX_COLS = 63  # bits in the int64 mask (sign bit unused)


class SchemaMismatchError(Exception):
    """Raised when two snapshots being diffed have incompatible schemas.

    Mirrors the reference's clean failure on schema drift
    (sqlitedriver.cpp:595-612, tests/test_modified_scheme.cpp:11-76).
    """


class ConflictsError(Exception):
    """Some entries could not be applied cleanly — NOTHING is applied.

    Mirrors GEODIFF_CONFLICTS (geodiff.h:41) with the reference's
    savepoint semantics: on an unrecoverable conflict the whole apply is
    rolled back (sqlitedriver.cpp applyChangeset leaves the savepoint
    uncommitted), and apply_or_raise likewise raises before returning
    any new state. The caller inspects ``conflicts`` to see what blocked.
    """

    def __init__(self, message: str, conflicts: DataFrame | None = None):
        super().__init__(message)
        self.conflicts = conflicts


@dataclass(frozen=True)
class TableInfo:
    """Schema + key metadata for one changeset table.

    ``columns`` is the authoritative column order (bit i of the masks =
    columns[i]); ``pk`` the primary-key subset. Mirrors ChangesetTable
    (changeset.h:189-201): name + per-column pk flags.
    """

    name: str
    columns: tuple[str, ...]
    pk: tuple[str, ...]
    timestamp_cols: tuple[str, ...] = field(default=())

    def __post_init__(self):
        if len(self.columns) > MAX_COLS:
            raise ValueError(f"more than {MAX_COLS} columns not supported")
        missing = set(self.pk) - set(self.columns)
        if missing:
            raise ValueError(f"pk columns not in schema: {missing}")
        if not self.pk:
            # Tables without a PK are skipped from diffing entirely in the
            # reference (sqlitedriver.cpp:614-615); we make it an error at
            # construction so the skip is explicit at the dataset level.
            raise ValueError(f"table {self.name!r} has no primary key")

    @property
    def non_pk(self) -> tuple[str, ...]:
        return tuple(c for c in self.columns if c not in self.pk)

    def bit(self, col: str) -> int:
        return self.columns.index(col)

    def is_pk(self, col: str) -> bool:
        return col in self.pk

    def full_mask(self) -> int:
        return (1 << len(self.columns)) - 1

    def pk_mask(self) -> int:
        m = 0
        for c in self.pk:
            m |= 1 << self.bit(c)
        return m


def bit_defined(bits_col: Column, i: int) -> Column:
    """True iff bit i of a mask column is set (column i defined)."""
    return F.shiftright(bits_col, i).bitwiseAND(F.lit(1)) == F.lit(1)


@dataclass
class ChangesetTable:
    """One table's changes: the IR DataFrame + its TableInfo."""

    info: TableInfo
    df: DataFrame

    def row_key(self, prefix: str = "_k") -> list[Column]:
        """Which row each entry touches, one column ``<prefix>_<pk>`` per
        PK column: the value from `new` for inserts and from `old`
        otherwise (docs/changeset-format.md:30-41)."""
        return [
            F.when(F.col("op") == OP_INSERT, F.col(f"new_{c}"))
            .otherwise(F.col(f"old_{c}"))
            .alias(f"{prefix}_{c}")
            for c in self.info.pk
        ]

    def count(self) -> int:
        return self.df.count()

    def is_empty(self) -> bool:
        return self.df.isEmpty()


def changeset_count(changeset: dict[str, ChangesetTable]) -> int:
    """Total number of entries — GEODIFF_changesCount (geodiff.cpp:620-649)."""
    total = 0
    for t in changeset.values():
        total += t.count()
    return total


def has_changes(changeset: dict[str, ChangesetTable]) -> bool:
    """GEODIFF_hasChanges (geodiff.cpp:594-618).

    Fused to ONE Spark action: union of per-table ``limit(1)`` probes
    instead of N sequential ``isEmpty`` jobs (the probes dominated the
    rebase pipeline's wall clock when run table-at-a-time)."""
    parts = [
        t.df.select(F.lit(1).alias("_one")).limit(1) for t in changeset.values()
    ]
    if not parts:
        return False
    probe = parts[0]
    for p in parts[1:]:
        probe = probe.unionByName(p)
    return not probe.isEmpty()


def summary_df(changeset: dict[str, ChangesetTable]) -> DataFrame:
    """Per-table insert/update/delete counts
    (changesetToJSONSummary, changesetutils.cpp:196-238).

    Returns (table, op, cnt) rows; pivot to the JSON shape in
    functions.json_export.summary_json.
    """
    parts = []
    for name, t in changeset.items():
        parts.append(
            t.df.groupBy(F.lit(name).alias("table"), F.col("op")).agg(
                F.count(F.lit(1)).alias("cnt")
            )
        )
    if not parts:
        raise ValueError("empty changeset dict")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
