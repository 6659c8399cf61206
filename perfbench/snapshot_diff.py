"""snapshot_diff: publish a new crawl snapshot.

One op = ``SnapshotStore.diff_snapshots`` on two url-bucketed pages
snapshots -> ``pyramid_delta`` merged into the materialized tile pyramid
(``merge_pyramid``, written out) -> ``write_changeset_dir`` (sharded
sqlite-session wire files) -> ``summary_json``. Every op publishes the
same v1 -> v2 change, so the checks run once and apply to every op.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from geodiff_spark.changeset import ChangesetTable
from geodiff_spark.functions.json_export import summary_json
from geodiff_spark.operators.apply import apply_or_raise
from geodiff_spark.plans.cache import cache_scope, persist_tracked
from geodiff_spark.sources.changeset_io import (
    read_changeset_dir_bytes,
    read_changeset_file,
    write_changeset_dir,
)
from geodiff_spark.sources.pages import expected_change_counts, pages_snapshot
from geodiff_spark.sources.snapshots import SnapshotStore
from geodiff_spark.spatial.cells import merge_pyramid, pyramid_delta, pyramid_rollup

import harness
import wire

PAGES_COLS, INFO = harness.PAGES_COLS, harness.PAGES_INFO

#: Pages per snapshot v1 (v2 = v1 - ~9% deletes + 10% inserts).
N_PAGES = 10_000
N_BUCKETS = 8
FINE_RES = 12
LEVELS = (4, 6, 8, 10, 12)

LAYERS = {
    "operators.diff.busy_s": "s",
    "operators.diff.entries": "count",
    "operators.diff.exchanges": "count",
    "operators.diff.shuffle_bytes": "bytes",
    "sources.changeset_io.encode_s": "s",
    "sources.changeset_io.python_rows": "count",
    "sources.changeset_io.bytes_per_entry": "bytes",
    "spatial.cells.pyramid_delta_s": "s",
    "spatial.cells.tiles_touched": "count",
    "functions.json_export.summary_s": "s",
}


def sizes() -> dict:
    return {"pages_v1": N_PAGES, "buckets": N_BUCKETS, "fine_res": FINE_RES,
            "levels": list(LEVELS)}


def _pyramid(df):
    return pyramid_rollup(df, F.col("lat"), F.col("lon"), FINE_RES, LEVELS)


class SnapshotDiff:
    name = "snapshot_diff"
    round_len = 1  # ops of one kind
    extra_ops = 0  # attempted ops beyond the timed loop

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.store = SnapshotStore(self.spark, n_buckets=N_BUCKETS)
        self.pyr_path = os.path.join(ctx.work, "data", "pyramid_v1")
        self.last = None  # outputs of the most recent op, for the checks

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        """Generate both snapshots from the seed and materialize them as
        url-bucketed tables, plus the v1 tile pyramid."""
        parts = 2 * self.ctx.cores
        for ver in (1, 2):
            df = pages_snapshot(self.spark, N_PAGES, seed=self.ctx.seed,
                                version=ver, partitions=parts)
            self.store.write(df, f"sd_v{ver}", INFO)
        _pyramid(self.store.read("sd_v1")).write.mode("overwrite").parquet(self.pyr_path)
        self.v_rows = {v: self.store.read(f"sd_v{v}").count() for v in (1, 2)}
        self.rows_per_op = self.v_rows[1] + self.v_rows[2]

    def working_set_bytes(self) -> int:
        wh = os.path.join(self.ctx.work, "warehouse")
        return sum(harness.dir_bytes(os.path.join(wh, f"sd_v{v}")) for v in (1, 2))

    # -- one op ----------------------------------------------------------
    def op(self, i: int, tracer=None) -> str:
        out = os.path.join(self.ctx.work, "out", f"op{i}")
        shutil.rmtree(out, ignore_errors=True)
        pyr_out = os.path.join(out, "pyramid")
        wire_out = os.path.join(out, "wire")
        base_pyr = self.spark.read.parquet(self.pyr_path)
        prev = self.last["out"] if self.last else None
        with cache_scope():
            if tracer is None:
                cs = self.store.diff_snapshots("sd_v1", "sd_v2", INFO)
                cs = ChangesetTable(INFO, persist_tracked(cs.df))
                delta = self._delta(cs)
                merge_pyramid(base_pyr, delta).write.parquet(pyr_out)
                write_changeset_dir({"pages": cs}, wire_out)
                summary = summary_json({"pages": cs})
            else:
                cs, summary = self._traced(i, tracer, base_pyr, pyr_out, wire_out)
            self.last = {"out": out, "pyr": pyr_out, "wire": wire_out,
                         "summary": summary}
        self.last["bytes"] = harness.dir_bytes(out)
        if prev not in (None, out):  # keep disk use flat: drop the previous op's outputs
            shutil.rmtree(prev, ignore_errors=True)
        return "publish"

    @staticmethod
    def _delta(cs):
        return pyramid_delta(cs.df, F.col("old_lat"), F.col("old_lon"),
                             F.col("new_lat"), F.col("new_lon"), FINE_RES, LEVELS)

    def _traced(self, i, tr, base_pyr, pyr_out, wire_out):
        with tr.span("op", i):
            with tr.span("operators.diff", i) as sp:
                cs = self.store.diff_snapshots("sd_v1", "sd_v2", INFO)
                cp, entries, st = tr.materialize(cs.df)
            cs = ChangesetTable(INFO, cp)
            tr.add(i, "operators.diff.entries", entries)
            tr.add(i, "operators.diff.exchanges", st["exchanges"])
            tr.add(i, "operators.diff.shuffle_bytes", sp["shuffle_bytes"])
            with tr.span("spatial.cells.pyramid_delta", i):
                dcp, tiles, _ = tr.materialize(self._delta(cs))
                merge_pyramid(base_pyr, dcp).write.parquet(pyr_out)
            tr.add(i, "spatial.cells.tiles_touched", tiles)
            with tr.span("sources.changeset_io.write_changeset_dir", i) as sp:
                write_changeset_dir({"pages": cs}, wire_out)
            tr.add(i, "sources.changeset_io.python_rows", sp["python_rdd_rows"])
            tr.add(i, "sources.changeset_io.bytes_per_entry",
                   harness.dir_bytes(wire_out) / max(entries, 1))
            with tr.span("functions.json_export.summary", i):
                summary = summary_json({"pages": cs})
        return cs, summary

    def layer_metrics(self, tr, by_kind: dict[str, list[int]]) -> dict[str, float]:
        ops = by_kind.get("publish", [])
        return {
            "operators.diff.busy_s": harness.med(tr.per_op("operators.diff"), ops),
            "sources.changeset_io.encode_s":
                harness.med(tr.per_op("sources.changeset_io.write_changeset_dir"), ops),
            "spatial.cells.pyramid_delta_s":
                harness.med(tr.per_op("spatial.cells.pyramid_delta"), ops),
            "functions.json_export.summary_s":
                harness.med(tr.per_op("functions.json_export.summary"), ops),
            **{m: harness.med_count(tr, m, ops) for m in (
                "operators.diff.entries", "operators.diff.exchanges",
                "operators.diff.shuffle_bytes", "sources.changeset_io.python_rows",
                "sources.changeset_io.bytes_per_entry", "spatial.cells.tiles_touched")},
        }

    # -- end-to-end extras ---------------------------------------------------
    def failed_ops(self, loop, failed_checks) -> int:
        # every publish op published this changeset
        return loop.kinds.count("publish")

    def extra_metrics(self, loop) -> dict:
        return {"write_amp": self.last["bytes"] / self.changed_bytes}

    # -- correctness -----------------------------------------------------
    def checks(self) -> list[tuple[str, bool, str]]:
        out = []
        v1, v2 = self.store.read("sd_v1"), self.store.read("sd_v2")

        exp = expected_change_counts(N_PAGES)
        got = json.loads(self.last["summary"])["geodiff_summary"][0]
        ok = (got["insert"] == exp["insert"] and got["delete"] == exp["delete"]
              and got["update"] <= exp["update_upper"])
        out.append(("change_counts", ok, f"summary {got} expected {exp}"))

        cs = self.store.diff_snapshots("sd_v1", "sd_v2", INFO)
        cs = ChangesetTable(INFO, cs.df.persist())
        self.changed_bytes = harness.changed_user_bytes(cs)
        out.append(harness.guard("apply_v1_equals_v2",
                          lambda: harness.same(apply_or_raise(v1, cs), v2, PAGES_COLS)))

        merged = self.spark.read.parquet(self.last["pyr"])
        out.append(harness.guard("pyramid_merge_equals_rollup_v2",
                          lambda: harness.same(merged, _pyramid(v2), ("level", "tile", "n"))))

        def wire_shards():
            headers, got = wire.decode(read_changeset_dir_bytes(self.last["wire"]))
            types = [cs.df.schema[f"old_{c}"].dataType.typeName() for c in PAGES_COLS]
            want = wire.expected(cs.df.collect(), INFO.name, PAGES_COLS, types)
            header = (len(PAGES_COLS), tuple(int(c in INFO.pk) for c in PAGES_COLS))
            ok = headers == {INFO.name: header} and got == want
            return ok, (f"headers {headers}; {sum(got.values())} entries decoded, "
                        f"{sum((got - want).values())} unexpected, "
                        f"{sum((want - got).values())} missing")

        out.append(harness.guard("wire_shards_decode_to_ir", wire_shards))
        self._cs = cs
        return out

    # -- known defects -----------------------------------------------------
    def probes(self) -> list[tuple[str, bool, str]]:
        """Known defect (b): the program's own reader cannot read the
        published changeset back. No op of the workload calls it, so the
        probe is reported beside the checks and fails no op."""
        cs = self._cs

        def read_back():
            path = os.path.join(self.ctx.work, "out", "wire_roundtrip.bin")
            with open(path, "wb") as f:
                f.write(read_changeset_dir_bytes(self.last["wire"]))
            dtypes = [cs.df.schema[f"old_{c}"].dataType for c in PAGES_COLS]
            back = read_changeset_file(self.spark, path, {"pages": INFO},
                                       {"pages": dtypes})["pages"]
            return harness.same(back.df, cs.df, tuple(cs.df.columns))

        out = [harness.guard("read_changeset_file_roundtrip", read_back)]
        cs.df.unpersist()
        return out
