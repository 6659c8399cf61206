"""perfbench — the repository benchmark for geodiff_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload publish_serve --seed 1 --seconds 6 --trace 0

Workloads: publish_serve and sync_rebase (listed in BENCHMARK.json), and
the two halves of publish_serve on their own, snapshot_diff and
spatial_serve (see README.md).
One closed-loop client in one driver process on local[min(4, nproc)].
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` splits the
time between untraced and traced ops and prints the per-layer metrics
and the tracing overhead. The last stdout line is one JSON object; the
full record (sizes, confs, checks, spans) goes to
``.perfbench_work/result-<workload>-<seed>-<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


#: The end-to-end metrics BENCHMARK.json lists (the result line of --trace 0).
E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_s.p50": "s",
    "peak_rss_mb": "MB",
}
#: Reported beside them, not listed: the tail has fewer than ten samples
#: beyond it in a run of this length, and the other two can be 0.
REPORT_UNITS = {**E2E_UNITS, "op_s.tail": "s", "failed_frac": "ratio",
                "write_amp": "bytes/byte"}


def _load_program():
    """The program is the checkout the benchmark runs in. Without it the
    benchmark cannot run: fail loudly, print no result."""
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "geodiff_spark")):
        sys.exit(f"perfbench: no geodiff_spark package under {root}; run from the repository root")
    sys.path.insert(0, root)
    import geodiff_spark  # noqa: F401


def _workloads():
    import publish_serve
    import snapshot_diff
    import spatial_serve
    import sync_rebase

    return {
        "publish_serve": (publish_serve.PublishServe, publish_serve),
        "snapshot_diff": (snapshot_diff.SnapshotDiff, snapshot_diff),
        "sync_rebase": (sync_rebase.SyncRebase, sync_rebase),
        "spatial_serve": (spatial_serve.SpatialServe, spatial_serve),
    }


def layer_units(mods) -> dict[str, str]:
    """Every workload's per-layer metrics; a traced run reports all of
    them, 0 for the layers its workload does not run."""
    units = {}
    for _, mod in mods.values():
        units.update(mod.LAYERS)
    units["trace.overhead_s"] = "s"
    return units


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _load_program()
    import harness

    mods = _workloads()
    if args.workload not in mods:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(mods)}")
    cls, mod = mods[args.workload]

    root = os.getcwd()
    work = harness.fresh_work_dir(root)
    cores = harness.local_cores()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "mem_total_bytes": harness.total_mem_bytes(),
        "python": platform.python_version(), "sizes": mod.sizes(),
        "loop": "closed, one client", "inputs_reused_across_runs": False,
    }

    spark = None
    try:
        spark, session_s, confs = harness.start_session(work, cores)
        record["spark_confs"] = confs
        ctx = SimpleNamespace(spark=spark, work=work, seed=args.seed, cores=cores)
        wl = cls(ctx)
        # one set-up per run: a second one would not fit the run budget
        t0 = time.perf_counter()
        wl.setup()
        materialize_s = time.perf_counter() - t0
        record["setup"] = {"session_s": session_s, "materialize_s": materialize_s}
        storage = harness.storage_memory_bytes(spark)
        ws = wl.working_set_bytes()
        record["working_set"] = {
            "bytes": ws, "spark_unified_memory_bytes": storage,
            "ratio": ws / storage,
        }

        tracer = None
        # peak RSS covers the timed ops only, not set-up or the checks
        with harness.RssSampler() as rss:
            if args.trace:
                import tracing

                plain = harness.closed_loop(wl.op, args.seconds / 2, round_len=wl.round_len)
                tracer = tracing.Tracer(spark)
                loop = harness.closed_loop(lambda i: wl.op(i, tracer), args.seconds / 2,
                                           round_len=wl.round_len)
            else:
                loop = harness.closed_loop(wl.op, args.seconds, round_len=wl.round_len)

        t_checks = time.perf_counter()
        checks = wl.checks()
        extra = wl.extra_metrics(loop)
        record["checks_s"] = time.perf_counter() - t_checks
        # known defects off the ops' path: reported, not counted as failures
        probes = wl.probes()
        if tracer is not None:
            tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            harness.stop_session(spark)

    failed_checks = [c for c in checks if not c[1]]
    n_ops = len(loop.durations) + wl.extra_ops
    n_failed = wl.failed_ops(loop, failed_checks) if failed_checks else 0
    p50 = harness.median(loop.durations)
    tail_v, tail_pct, tail_n = harness.tail(loop.durations)
    e2e = {
        "setup_s": session_s + materialize_s,
        "rows_per_s": wl.rows_per_op * len(loop.durations) / loop.wall,
        "op_s.p50": p50,
        "peak_rss_mb": rss.peak / 1e6,
    }
    report = {
        **e2e,
        "op_s.tail": tail_v,
        "failed_frac": n_failed / n_ops,
        **extra,
    }
    record.update({
        "ops": n_ops, "failed": n_failed, "op_durations_s": loop.durations,
        "op_kinds": loop.kinds, "op_s.tail_percentile": tail_pct,
        "op_s.tail_samples": tail_n, "report": report,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "known_defect_probes": [{"name": n, "ok": ok, "detail": d} for n, ok, d in probes],
    })

    if args.trace:
        units = layer_units(mods)
        layers = {m: 0.0 for m in units}
        by_kind: dict[str, list[int]] = {}
        for i, kind in enumerate(loop.kinds):
            by_kind.setdefault(kind, []).append(i)
        layers.update(wl.layer_metrics(tracer, by_kind))
        layers["trace.overhead_s"] = p50 - harness.median(plain.durations)
        record["untraced_op_durations_s"] = plain.durations
        record["layers"] = layers
        metrics = {m: {"value": float(layers[m]), "unit": units[m]} for m in units}
    else:
        metrics = {m: {"value": float(e2e[m]), "unit": u} for m, u in E2E_UNITS.items()}

    with open(os.path.join(work, f"result-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"local[{cores}] nproc={os.cpu_count()} mem={harness.fmt_bytes(record['mem_total_bytes'])} "
          f"heap={record['spark_confs']['spark.driver.memory']} sizes={json.dumps(record['sizes'])}")
    print(f"# working set {harness.fmt_bytes(ws)} = {ws / storage:.3f} x Spark unified memory "
          f"({harness.fmt_bytes(storage)})")
    for name, val in report.items():
        print(f"{name} {val:.6g} {REPORT_UNITS[name]}")
    print(f"# op_s.tail = p{tail_pct:.1f} of {tail_n} ops")
    for n, ok, d in checks:
        print(f"# check {n}: {'ok' if ok else 'FAILED'} ({d})")
    for n, ok, d in probes:
        print(f"# known-defect probe {n}: {'passes' if ok else 'defect present'} ({d})")
    if args.trace:
        for m, v in metrics.items():
            print(f"{m} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not failed_checks, "attempted": n_ops,
                      "failed": n_failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
