"""publish_serve: publish a new crawl snapshot, then serve spatial requests.

One round is four ops, in this order: a ``snapshot_diff`` publish
(diff -> pyramid delta merged into the tile pyramid -> sharded wire
files -> summary JSON), then one ``spatial_serve`` request of each
kind (pip, knn, rollup) against the hot-spot-skewed points. Each op
is exactly the op of its own workload (see ``snapshot_diff.py`` and
``spatial_serve.py``); only the mix is new.

This is the listed form of those two workloads. Each run of either
pays a Spark session start and its own set-up, and listed next to
``sync_rebase`` the three would not fit the benchmark's run budget;
merged, they share one session. The two stay runnable on their own
for isolated measurements. Their per-layer metrics are reported per
op kind, so a layer change still shows on the kind that runs it.
"""

from __future__ import annotations

import snapshot_diff
import spatial_serve

KINDS = ("publish",) + spatial_serve.KINDS

LAYERS = {**snapshot_diff.LAYERS, **spatial_serve.LAYERS}


def sizes() -> dict:
    return {"publish": snapshot_diff.sizes(), "serve": spatial_serve.sizes()}


class PublishServe:
    name = "publish_serve"
    round_len = len(KINDS)  # stop after whole publish/pip/knn/rollup rounds
    extra_ops = 0  # attempted ops beyond the timed loop

    def __init__(self, ctx):
        self.publish = snapshot_diff.SnapshotDiff(ctx)
        self.serve = spatial_serve.SpatialServe(ctx)

    def setup(self) -> None:
        self.publish.setup()
        self.serve.setup()
        # rows per op, averaged over a round
        self.rows_per_op = (self.publish.rows_per_op
                            + self.serve.rows_per_op * len(spatial_serve.KINDS)) / len(KINDS)

    def working_set_bytes(self) -> int:
        return self.publish.working_set_bytes() + self.serve.working_set_bytes()

    def op(self, i: int, tracer=None) -> str:
        kind = KINDS[i % len(KINDS)]
        if kind == "publish":
            return self.publish.op(i, tracer)
        return self.serve.request(kind, i, tracer)

    def layer_metrics(self, tr, by_kind: dict[str, list[int]]) -> dict[str, float]:
        return {**self.publish.layer_metrics(tr, by_kind),
                **self.serve.layer_metrics(tr, by_kind)}

    def checks(self) -> list[tuple[str, bool, str]]:
        return self.publish.checks() + self.serve.checks()

    def probes(self) -> list[tuple[str, bool, str]]:
        return self.publish.probes() + self.serve.probes()

    def failed_ops(self, loop, failed_checks) -> int:
        """A failed publish check fails every publish op; a failed
        spatial check fails the requests of its kind."""
        publish = [c for c in failed_checks if c[0].split("_")[0] not in spatial_serve.KINDS]
        serve = [c for c in failed_checks if c[0].split("_")[0] in spatial_serve.KINDS]
        return ((self.publish.failed_ops(loop, publish) if publish else 0)
                + (self.serve.failed_ops(loop, serve) if serve else 0))

    def extra_metrics(self, loop) -> dict:
        return self.publish.extra_metrics(loop)
