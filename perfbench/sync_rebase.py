"""sync_rebase: one Mergin-style sync of a client against a large base.

Two tables: ``pages`` (text PK url) and ``parcels`` (int64 PK fid). The
server head is base + theirs; the client copy is base + ours. Both
changesets are small, arrive as parquet in the engine's IR layout, and
overlap on updated rows (some with equal values, some conflicting);
both sides insert parcels with the same new fids, and pages with
disjoint urls. One op syncs one table, alternating parcels and pages:
a sync of both tables at once costs as much as the two single-table
syncs (almost all of it per-table planning and job overhead, not rows),
and two ops give a run's median two samples. One op:

    rebase_changesets(ours, theirs) -> conflicts_json
    -> apply_changeset(server head, rebased)
    -> VersionedSnapshotStore.commit of the new head
    -> client replay: apply_changeset(client copy,
           concat_changesets([invert(ours), theirs, rebased]))

Every op of a table syncs the same client against the same server
version, so the checks run once per table and apply to every op of it.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from geodiff_spark.changeset import ChangesetTable, ConflictsError, TableInfo
from geodiff_spark.functions.json_export import conflicts_json
from geodiff_spark.operators.apply import apply_changeset
from geodiff_spark.operators.concat import concat_changesets
from geodiff_spark.operators.invert import invert_changeset
from geodiff_spark.operators.rebase import rebase_changesets
from geodiff_spark.plans.cache import cache_scope
from geodiff_spark.sources.pages import pages_snapshot
from geodiff_spark.sources.snapshots import VersionedSnapshotStore

import harness

PAGES_COLS = harness.PAGES_COLS
INFOS = {
    "pages": harness.PAGES_INFO,
    "parcels": TableInfo(name="parcels", columns=("fid", "owner", "area", "lat", "lon"),
                         pk=("fid",)),
}
N_PAGES = 5_000
N_PARCELS = 5_000
N_BUCKETS = 8
#: per side and table: updates (half of them shared with the other side,
#: of which half agree and half conflict), deletes, inserts
N_UPDATES, N_DELETES, N_INSERTS = 60, 10, 20
#: one table per op, in this order
TABLES = ("parcels", "pages")
#: the server version every op syncs against
HEAD = 1
#: candidate urls searched for a shared rebase fid (the defect probe)
N_PROBE_URLS = 400_000

LAYERS = {
    "operators.rebase.busy_s": "s",
    "operators.rebase.conflicts": "count",
    "operators.rebase.remapped_inserts": "count",
    "operators.invert.busy_s": "s",
    "operators.concat.busy_s": "s",
    "operators.concat.entries_out": "count",
    "operators.apply.busy_s": "s",
    "operators.apply.rows_examined_per_entry": "ratio",
    "operators.apply.shuffle_bytes": "bytes",
    "operators.apply.conflicts": "count",
    "functions.json_export.conflicts_s": "s",
    "functions.json_export.bytes": "bytes",
    "sources.snapshots.commit_s": "s",
    "sources.snapshots.bytes_written_per_changed_row": "bytes",
    "plans.cache.persisted_mb": "MB",
}


def sizes() -> dict:
    return {"pages": N_PAGES, "parcels": N_PARCELS, "buckets": N_BUCKETS,
            "per_side_per_table": {"updates": N_UPDATES, "deletes": N_DELETES,
                                   "inserts": N_INSERTS},
            "probe_urls": N_PROBE_URLS}


def entry(info: TableInfo, op: str, old: dict | None, new: dict | None) -> tuple:
    """One IR row: defined columns are the keys present in old/new."""
    old, new = old or {}, new or {}
    bits = [sum(1 << i for i, c in enumerate(info.columns) if c in side)
            for side in (old, new)]
    return (op, *[old.get(c) for c in info.columns],
            *[new.get(c) for c in info.columns], *bits)


def ir_schema(info: TableInfo, table_schema: T.StructType) -> T.StructType:
    fields = [T.StructField("op", T.StringType())]
    for side in ("old", "new"):
        fields += [T.StructField(f"{side}_{c}", table_schema[c].dataType)
                   for c in info.columns]
    fields += [T.StructField("old_bits", T.LongType()), T.StructField("new_bits", T.LongType())]
    return T.StructType(fields)


def djb2_int32(strings: np.ndarray) -> np.ndarray:
    """h = 33*h + byte over UTF-8 bytes with int32 wraparound, for many
    strings at once (used to find candidate pairs for the fid probe)."""
    raw = np.char.encode(strings.astype(str), "utf-8")
    lens = np.char.str_len(raw)
    mat = np.frombuffer(raw.tobytes(), dtype=np.uint8).reshape(len(raw), raw.itemsize)
    h = np.zeros(len(raw), dtype=np.int32)
    with np.errstate(over="ignore"):
        for j in range(raw.itemsize):
            step = np.int32(33) * h + mat[:, j].astype(np.int32)
            h = np.where(lens > j, step, h).astype(np.int32)
    return h


def _side(info, side: str, shared, equal, mine, deletes, inserts, edit_col):
    """One side's edits of the touched base rows: updates of ``shared``
    + ``mine`` rows (the ``equal`` shared ones get the same new value on
    both sides), deletes, inserts. Returns (IR entries, rows after the
    edits keyed by PK, the touched PKs)."""
    pk = info.pk[0]
    entries, after = [], {}
    for r in shared + mine:
        tag = "agreed" if r[pk] in equal else side
        val = f"{edit_col}-{tag}-{r[pk]}"
        entries.append(entry(info, "update", {pk: r[pk], edit_col: r[edit_col]},
                             {edit_col: val}))
        after[r[pk]] = {**r, edit_col: val}
    entries += [entry(info, "delete", dict(r), None) for r in deletes]
    entries += [entry(info, "insert", None, dict(r)) for r in inserts]
    after.update({r[pk]: dict(r) for r in inserts})
    touched = [r[pk] for r in shared + mine + deletes]
    return entries, after, touched


class SyncRebase:
    name = "sync_rebase"
    round_len = len(TABLES)  # every run syncs both tables equally often
    extra_ops = 0  # attempted ops beyond the timed loop

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.store = VersionedSnapshotStore(self.spark, n_buckets=N_BUCKETS)
        self.data = os.path.join(ctx.work, "data")
        self.last: dict = {}  # latest sync of each table, for the checks

    # -- set-up ----------------------------------------------------------
    def _bases(self):
        seed = self.ctx.seed
        parts = 2 * self.ctx.cores
        n_ins = 2 * N_INSERTS
        pages = pages_snapshot(self.spark, N_PAGES + n_ins, seed=seed, partitions=parts)
        pid = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
        h = F.xxhash64("fid", F.lit(seed))
        parcels = self.spark.range(0, N_PARCELS, numPartitions=parts).select(
            F.col("id").alias("fid"),
            F.concat(F.lit("owner-"), F.pmod(h, F.lit(5000)).cast("string")).alias("owner"),
            (F.pmod(F.shiftright(h, 13), F.lit(100_000)) / 10.0).alias("area"),
            (F.pmod(F.shiftright(h, 30), F.lit(1_600_000)) / 1e4 - 80).alias("lat"),
            (F.pmod(F.shiftright(h, 21), F.lit(3_600_000)) / 1e4 - 180).alias("lon"),
        )
        return pages.withColumn("_id", pid), parcels

    def setup(self) -> None:
        """Seed-derived ours/theirs IR changesets over generated base
        tables, written as parquet; the server head (base + theirs,
        committed as version 1 and pinned by a branch) and the client
        copy (base + ours). The base itself is never stored: no op
        reads it."""
        spark, seed = self.spark, self.ctx.seed
        pages_all, parcels = self._bases()
        pages_all = pages_all.cache()
        base = {"pages": pages_all.filter(F.col("_id") < N_PAGES).drop("_id"),
                "parcels": parcels.cache()}

        rng = np.random.default_rng(seed)
        sides = {"ours": {}, "theirs": {}}
        n_rows = N_UPDATES // 2 * 3 + 2 * N_DELETES
        h = N_UPDATES // 2
        for t, n in (("pages", N_PAGES), ("parcels", N_PARCELS)):
            info, pk = INFOS[t], INFOS[t].pk[0]
            ids = [int(x) for x in rng.choice(n, n_rows, replace=False)]
            key = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long") if t == "pages" else F.col("fid")
            by_id = {}
            for r in base[t].withColumn("_k", key).filter(F.col("_k").isin(ids)).collect():
                d = r.asDict()
                by_id[d.pop("_k")] = d
            rows = [by_id[x] for x in ids]
            shared = rows[:h]
            equal = {r[pk] for r in shared[: h // 2]}
            if t == "pages":
                new = [r.asDict() for r in pages_all.filter(F.col("_id") >= N_PAGES)
                       .orderBy("_id").drop("_id").collect()]
                ins = {"ours": new[:N_INSERTS], "theirs": new[N_INSERTS:]}
                col = "text"
            else:  # both sides insert the same new fids
                ins = {s: [{"fid": N_PARCELS + j, "owner": f"{s}-{j}", "area": float(j),
                            "lat": float(k), "lon": float(j)} for j in range(N_INSERTS)]
                       for k, s in enumerate(("ours", "theirs"))}
                col = "owner"
            mine = {"ours": rows[h:2 * h], "theirs": rows[2 * h:3 * h]}
            dels = {"ours": rows[3 * h:3 * h + N_DELETES],
                    "theirs": rows[3 * h + N_DELETES:]}
            for s in sides:
                sides[s][t] = _side(info, s, shared, equal, mine[s], dels[s], ins[s], col)

        # a few dozen rows per file: written with pyarrow, no Spark job
        self.paths = {}
        for s, tables in sides.items():
            for t, (entries, _, _) in tables.items():
                p = os.path.join(self.data, f"{s}_{t}")
                schema = ir_schema(INFOS[t], base[t].schema)
                os.makedirs(p)
                pq.write_table(pa.Table.from_pylist(
                    [dict(zip(schema.fieldNames(), e)) for e in entries],
                    schema=to_arrow_schema(schema)), os.path.join(p, "part-0.parquet"))
                self.paths[(s, t)] = p

        # server head = base + theirs, client copy = base + ours: built
        # here from the generated edits (inputs, not program output)
        def edited(t, s):
            _, after, touched = sides[s][t]
            pk = INFOS[t].pk[0]
            kept = base[t].filter(~F.col(pk).isin(touched))
            cols = list(INFOS[t].columns)
            new = spark.createDataFrame([tuple(r[c] for c in cols) for r in after.values()],
                                        base[t].select(*cols).schema)
            # one writer task: each table is stored compacted, one file per bucket
            return kept.select(*cols).unionByName(new).coalesce(1)

        for t in INFOS:
            self.store.commit(edited(t, "theirs"), f"srv_{t}", INFOS[t])
            self.store.make_branch(f"srv_{t}", "synced_from", at_version=HEAD)
            self.store.write(edited(t, "ours"), f"cli_{t}", INFOS[t])
        pages_all.unpersist()
        base["parcels"].unpersist()
        # throughput counts changeset entries (ours + theirs) per op; both
        # tables have the same number, so it does not depend on the table
        self.rows_per_op = sum(len(tables["pages"][0]) for tables in sides.values())

    def _load(self, side: str, t: str) -> dict[str, ChangesetTable]:
        """A changeset in the engine's parquet IR (as the CLI loads it)."""
        return {t: ChangesetTable(INFOS[t], self.spark.read.parquet(self.paths[(side, t)]))}

    def working_set_bytes(self) -> int:
        wh = os.path.join(self.ctx.work, "warehouse")
        return sum(harness.dir_bytes(os.path.join(wh, f"srv_{t}__v{HEAD}")) for t in INFOS)

    # -- one op ----------------------------------------------------------
    def op(self, i: int, tracer=None) -> str:
        t = TABLES[i % len(TABLES)]
        with cache_scope():
            ours, theirs = self._load("ours", t), self._load("theirs", t)
            head = {t: self.store.read(f"srv_{t}", version=HEAD)}
            client = {t: self.spark.table(f"cli_{t}")}
            if tracer is None:
                rebased, conflicts = rebase_changesets(ours, theirs)
                cj = conflicts_json(conflicts, INFOS)
                new_head = apply_changeset(head, rebased)
                version = self.store.commit(new_head[t], f"srv_{t}", INFOS[t])
                replay = apply_changeset(client, concat_changesets(
                    [invert_changeset(ours), theirs, rebased]))
                replay[t].write.mode("overwrite").parquet(self._client_state(t))
            else:
                version, cj, conflicts = self._traced(i, tracer, t, ours, theirs, head, client)
            self.last[t] = {"version": version, "conflicts_json": cj,
                            "conflict_rows": conflicts[t].count()}
        self.last[t]["bytes"] = (
            harness.dir_bytes(os.path.join(self.ctx.work, "warehouse", f"srv_{t}__v{version}"))
            + harness.dir_bytes(self._client_state(t)))
        # keep the synced-from version (branch) and the newest head
        self.store.expire_versions(f"srv_{t}", keep_last=1)
        return t

    def _client_state(self, t: str) -> str:
        """Where the client keeps its replayed copy of table ``t``."""
        return os.path.join(self.data, f"client_state_{t}")

    def _traced(self, i, tr, t, ours, theirs, head, client):
        with tr.span("op", i):
            with tr.span("operators.rebase", i):
                rebased, conflicts = rebase_changesets(ours, theirs)
                cp, n_rebased, _ = tr.materialize(rebased[t].df)
                rebased = {t: ChangesetTable(INFOS[t], cp)}
                conflicts = {t: tr.materialize(conflicts[t])[0]}
                tr.add(i, "plans.cache.persisted_mb", harness.persisted_bytes(self.spark) / 1e6)
            with tr.span("functions.json_export.conflicts", i):
                cj = conflicts_json(conflicts, INFOS)
            tr.add(i, "functions.json_export.bytes", len(cj.encode()))
            tr.add(i, "operators.rebase.conflicts", len(json.loads(cj)["geodiff"]))
            key = f"new_{INFOS[t].pk[0]}"
            ours_ins = ours[t].df.filter(F.col("op") == "insert").select(key)
            re_ins = rebased[t].df.filter(F.col("op") == "insert").select(key)
            tr.add(i, "operators.rebase.remapped_inserts", ours_ins.exceptAll(re_ins).count())

            with tr.span("operators.apply", i) as sp:
                new_head = self._apply(tr, i, head, rebased, n_rebased)
            tr.add(i, "operators.apply.shuffle_bytes", sp["shuffle_bytes"])
            with tr.span("sources.snapshots.commit", i):
                version = self.store.commit(new_head[t], f"srv_{t}", INFOS[t])
            written = harness.dir_bytes(os.path.join(
                self.ctx.work, "warehouse", f"srv_{t}__v{version}"))
            tr.add(i, "sources.snapshots.bytes_written_per_changed_row",
                   written / max(n_rebased, 1))

            with tr.span("operators.invert", i):
                inv = {t: ChangesetTable(INFOS[t],
                                         tr.materialize(invert_changeset(ours)[t].df)[0])}
            # concat's boundary is a count, not a checkpoint: materializing
            # every column of this three-way concat alone does not finish
            # on pages (the driver JVM dies after about 150 s), so the
            # fold's full execution lands in the replay apply's span
            with tr.span("operators.concat", i):
                cat = concat_changesets([inv, theirs, rebased])
                entries = cat[t].df.count()
            tr.add(i, "operators.concat.entries_out", entries)
            with tr.span("operators.apply", i) as sp:
                replay = self._apply(tr, i, client, cat, entries)
            tr.add(i, "operators.apply.shuffle_bytes", sp["shuffle_bytes"])
            replay[t].write.mode("overwrite").parquet(self._client_state(t))
        return version, cj, conflicts

    def _apply(self, tr, i, targets, changeset, entries):
        """apply_changeset with its output materialized at the boundary.
        A full outer join reads every target row: rows examined = target
        rows; conflicts = entries the apply refused (it raises then)."""
        try:
            out = apply_changeset(targets, changeset)
        except ConflictsError as e:
            tr.add(i, "operators.apply.conflicts", e.conflicts.count())
            raise
        rows = 0
        mats = {}
        for t, df in out.items():
            mats[t], _, _ = tr.materialize(df)
            rows += targets[t].count()
        tr.add(i, "operators.apply.rows_examined_per_entry", rows / max(entries, 1))
        return mats

    def layer_metrics(self, tr, by_kind: dict[str, list[int]]) -> dict[str, float]:
        ops = sorted(i for t in TABLES for i in by_kind.get(t, []))
        out = {m: harness.med(tr.per_op(m[: -len(".busy_s")]), ops)
               for m in ("operators.rebase.busy_s", "operators.invert.busy_s",
                         "operators.concat.busy_s", "operators.apply.busy_s")}
        out["functions.json_export.conflicts_s"] = harness.med(
            tr.per_op("functions.json_export.conflicts"), ops)
        out["sources.snapshots.commit_s"] = harness.med(tr.per_op("sources.snapshots.commit"), ops)
        for m in ("operators.rebase.conflicts", "operators.rebase.remapped_inserts",
                  "operators.concat.entries_out", "operators.apply.shuffle_bytes",
                  "operators.apply.conflicts", "functions.json_export.bytes",
                  "sources.snapshots.bytes_written_per_changed_row", "plans.cache.persisted_mb"):
            out[m] = harness.med_count(tr, m, ops)
        # two applies per op (server head, client replay): per-apply mean
        out["operators.apply.rows_examined_per_entry"] = harness.med_count(
            tr, "operators.apply.rows_examined_per_entry", ops) / 2
        return out

    # -- correctness -----------------------------------------------------
    def checks(self) -> list[tuple[str, bool, str]]:
        """Per table: the name ends in ``.<table>``, so a failure counts
        that table's ops."""
        out = []
        for t, last in self.last.items():
            def head_vs_replay(t=t, last=last):
                return harness.same(self.store.read(f"srv_{t}", version=last["version"]),
                                    self.spark.read.parquet(self._client_state(t)),
                                    INFOS[t].columns)

            def conflict_json(last=last):
                n, rows = len(json.loads(last["conflicts_json"])["geodiff"]), last["conflict_rows"]
                return n == rows, f"{n} JSON entries, {rows} conflict rows"

            out.append(harness.guard(f"server_head_equals_client_replay.{t}", head_vs_replay))
            out.append(harness.guard(f"conflict_json_matches_rows.{t}", conflict_json))
        return out

    # -- known defects -----------------------------------------------------
    def probes(self) -> list[tuple[str, bool, str]]:
        """Known defect (a), on two urls made for the probe rather than
        taken from the synced tables: reported beside the checks, it
        fails no op."""
        return [harness.guard("rebase_keeps_urls_sharing_a_fid_apart", self._fid_probe)]

    def _fid_probe(self):
        """Concurrent updates of two different urls that rebase's 32-bit
        fid maps to one value. The client edits url A, the server edits
        url B; rebasing the client's edit over the server's must leave it
        unchanged, with no conflict (applying a conflated result to the
        server head raises ConflictsError). The pair
        is the first one found among seed-derived crawl-shaped urls,
        hashed the way ``operators.rebase`` documents its text-PK fid."""
        rng = np.random.default_rng(self.ctx.seed + 1)
        site = rng.integers(0, 1000, N_PROBE_URLS)
        urls = np.array([f"https://site{s}.example.com/p/{i}" for i, s in enumerate(site)])
        fids = djb2_int32(urls)
        order = np.argsort(fids, kind="stable")
        same = np.flatnonzero(fids[order][1:] == fids[order][:-1])
        if not len(same):
            return True, f"no two of {N_PROBE_URLS} urls share a fid"
        a, b = urls[order[same[0]]], urls[order[same[0] + 1]]
        info = INFOS["pages"]
        schema = self.store.read("srv_pages", version=HEAD).schema
        ir = ir_schema(info, schema)

        def cs(url, text):
            row = entry(info, "update", {"url": url, "text": f"base-{url}"}, {"text": text})
            return {"pages": ChangesetTable(info, self.spark.createDataFrame([row], ir))}

        ours, theirs = cs(a, "client edit"), cs(b, "server edit")
        rebased, conflicts = rebase_changesets(ours, theirs)
        cols = rebased["pages"].df.columns
        got = [r.asDict() for r in rebased["pages"].df.collect()]
        want = [r.asDict() for r in ours["pages"].df.select(*cols).collect()]
        n_conflicts = conflicts["pages"].count()
        # ours touches a row theirs does not: rebase must pass it through
        ok = got == want and n_conflicts == 0
        texts = [(r["op"], r["old_text"], r["new_text"]) for r in got]
        return ok, (f"{a} and {b} share djb2 fid {fids[order[same[0]]]}: rebased "
                    f"(op, old text, new text) {texts}, {n_conflicts} conflicts")

    def failed_ops(self, loop, failed_checks) -> int:
        tables = {n.rsplit(".", 1)[1] for n, _, _ in failed_checks}
        return sum(1 for k in loop.kinds if k in tables)

    def extra_metrics(self, loop) -> dict:
        """Bytes the last sync of each table wrote (committed version +
        client copy) per byte of the client's changed user data."""
        changed = sum(harness.changed_user_bytes(self._load("ours", t)[t]) for t in self.last)
        return {"write_amp": sum(v["bytes"] for v in self.last.values()) / changed}
