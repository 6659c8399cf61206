"""The benchmark's own reader of the sqlite-session changeset wire format,
the oracle for the publish's wire shards.

It shares no code with ``geodiff_spark.sources.changeset_io``: it
parses the published bytes from the format's description (geodiff
docs/changeset-format.md) and compares them with the IR changeset the
publish encoded, as a multiset of entries.

Layout: a table group is 'T' + varint column count + one PK-flag byte
per column + the NUL-terminated table name, then its entries. An entry
is an op byte (0x12 insert, 0x17 update, 0x09 delete), an indirect byte,
the old record (update, delete) and the new record (insert, update). A
record holds one value per column: a type byte (0 undefined, 1 int64
big-endian, 2 float64 big-endian, 3 text, 4 blob, each of the last two
a varint length and the bytes, 5 NULL). Varints are SQLite's: 7-bit
groups, high bit set on all but the last, a 9th byte holds 8 bits.
A table header may reappear anywhere in the stream.
"""

from __future__ import annotations

import struct
from collections import Counter

OPS = {0x12: "insert", 0x17: "update", 0x09: "delete"}
UNDEFINED = ("undefined",)


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    v = 0
    for _ in range(8):
        b = buf[pos]
        pos += 1
        v = (v << 7) | (b & 0x7F)
        if b < 0x80:
            return v, pos
    return (v << 8) | buf[pos], pos + 1


def _value(buf: bytes, pos: int):
    t = buf[pos]
    pos += 1
    if t == 0:
        return UNDEFINED, pos
    if t == 5:
        return None, pos
    if t in (1, 2):
        return struct.unpack(">q" if t == 1 else ">d", buf[pos:pos + 8])[0], pos + 8
    if t in (3, 4):
        n, pos = _varint(buf, pos)
        raw = buf[pos:pos + n]
        return (raw.decode("utf-8") if t == 3 else bytes(raw)), pos + n
    raise ValueError(f"type byte {t:#x} at offset {pos - 1}")


def decode(buf: bytes) -> tuple[dict[str, tuple], Counter]:
    """-> (table name -> (column count, PK flags), multiset of entries).
    An entry is (table, op, old record or None, new record or None)."""
    headers: dict[str, tuple] = {}
    entries: Counter = Counter()
    pos, table, ncol = 0, None, 0
    while pos < len(buf):
        if buf[pos] == 0x54:  # 'T'
            ncol, pos = _varint(buf, pos + 1)
            flags = tuple(buf[pos:pos + ncol])
            end = buf.index(0, pos + ncol)
            table = buf[pos + ncol:end].decode("utf-8")
            pos = end + 1
            if headers.setdefault(table, (ncol, flags)) != (ncol, flags):
                raise ValueError(f"table {table} reappears with another header")
            continue
        if table is None:
            raise ValueError("entry before the first table header")
        op = OPS[buf[pos]]
        pos += 2
        old = new = None
        if op != "insert":
            old, pos = _record(buf, pos, ncol)
        if op != "delete":
            new, pos = _record(buf, pos, ncol)
        entries[(table, op, old, new)] += 1
    return headers, entries


def _record(buf: bytes, pos: int, ncol: int) -> tuple[tuple, int]:
    vals = []
    for _ in range(ncol):
        v, pos = _value(buf, pos)
        vals.append(v)
    return tuple(vals), pos


def wire_value(v, type_name: str):
    """What an IR value of a column of this Spark type must read back as:
    integers as int64, floating point as float64, binary as a blob and
    everything else as text; timestamps as 'YYYY-MM-DD HH:MM:SS.mmm'."""
    if v is None:
        return None
    if type_name in ("long", "integer", "short", "byte", "boolean"):
        return int(v)
    if type_name in ("double", "float"):
        return float(v)
    if type_name == "binary":
        return bytes(v)
    if type_name == "timestamp":
        return f"{v:%Y-%m-%d %H:%M:%S}.{v.microsecond // 1000:03d}"
    return str(v)


def expected(rows, table: str, columns, type_names) -> Counter:
    """The multiset of wire entries the IR rows must encode to."""
    def record(r, side):
        bits = r[f"{side}_bits"]
        return tuple(wire_value(r[f"{side}_{c}"], tn) if bits >> i & 1 else UNDEFINED
                     for i, (c, tn) in enumerate(zip(columns, type_names)))

    out: Counter = Counter()
    for r in rows:
        op = r["op"]
        out[(table, op, None if op == "insert" else record(r, "old"),
             None if op == "delete" else record(r, "new"))] += 1
    return out
