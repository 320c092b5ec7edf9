#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog|ingest --seed N \
        --seconds S --trace 0|1 [--sf 0.01]

Run from the root of a checkout of the repository. Each run is isolated:
``TMPDIR``, Spark's local dirs and every generated input live in a fresh
directory under ``.perfbench_runs/`` that is deleted at exit, so memoized
state from an earlier run can never be reused. The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it carries the same run's detail (the workload-specific
figures, the run's environment, failed checks).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing  # noqa: E402
from harness import Ctx, end_to_end, overhead_pct, start_session, stop_session  # noqa: E402
from ingest import KINDS as LEDGER_KINDS  # noqa: E402

WORKLOADS = ("catalog", "ingest")
END_TO_END = ("setup_s", "ops_per_s", "warm_p50_ms", "first_pass_s", "cold_geomean_ms",
              "warm_geomean_ms")
SELF_LAYERS = ("bench", "exec", "session", "plans", "functions", "operators.topk",
               "operators.ann", "operators.merge", "operators.sketches", "operators",
               "ml", "sources", "streaming.events", "streaming", "util")
PER_LAYER = {
    "session.start_s": "s",
    "plans.state_s": "s", "plans.build_s": "s", "plans.build_py4j": "count",
    "plans.cache_hit_ratio": "fraction",
    "search.build_ms": "ms", "search.py4j_per_request": "count", "search.exec_ms": "ms",
    "search.jobs_per_request": "count", "ann.rows_scanned_per_hit": "rows",
    "exec.cold_s": "s", "exec.warm_s": "s", "exec.jobs": "count", "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
    "ann.index_build_s": "s", "ann.append_s": "s", "ann.delete_s": "s",
    "merge.apply_s": "s", "merge.bytes_written_per_changed_row": "bytes",
    "merge.files_written": "count",
    **{f"ledger.{k}.apply_s": "s" for k in LEDGER_KINDS},
    "ledger.bytes_per_event": "bytes", "ledger.replay_s": "s",
    "merge.first_read_ms": "ms", "merge.steady_read_ms": "ms",
    **{f"self_s.{layer}": "s" for layer in SELF_LAYERS},
    "trace.overhead_pct": "%",
}


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="table scale")
    return ap.parse_args(argv)


def find_program(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "vectordb_similarity_search_spark", "__init__.py"))


def workload_figures(workload: str, m: dict, st: dict, reqs) -> dict:
    """The workload's own figures under their descriptive names."""
    from harness import median

    d: dict = {}
    if workload == "catalog":
        d["cold_pass_s"] = m["first_pass_s"][0]
        d["cold_geomean_s"] = m["cold_geomean_ms"][0] / 1e3
        d["warm_geomean_s"] = m["warm_geomean_ms"][0] / 1e3
    else:
        led = [r for r in reqs if r.kind.startswith("ledger.")]
        d["merge_p50_s"] = median(r.lat_s for r in reqs if r.kind == "merge")
        d["vector_upsert_p50_s"] = median(r.lat_s for r in reqs if r.kind == "vector_upsert")
        d["ledger_events_per_s"] = (
            len(led) * datagen.EVENTS_PER_BATCH / max(sum(r.lat_s for r in led), 1e-9)
        )
        d["read_after_write_p50_ms"] = 1e3 * median(r[1] for r in st["reads"])
    return d


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not find_program(root):
        print(f"perfbench: no vectordb_similarity_search_spark package under {root}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    runs = os.path.join(root, ".perfbench_runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # memoized state (ANN indexes, ledgers, applied markers, the package zip)
    # lives under tempfile.gettempdir(): point it into this run's directory
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), args.sf,
              len(os.sched_getaffinity(0)), root, work, tracing.Tracer())  # what nproc reports
    try:
        result = run_workload(ctx)
    finally:
        stop_session(ctx)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    print(json.dumps(result["detail"]), flush=True)
    print(json.dumps(result["line"]), flush=True)
    return 0


def run_workload(ctx: Ctx) -> dict:
    import catalog
    import ingest

    mod = {"catalog": catalog, "ingest": ingest}[ctx.workload]
    st = mod.inputs(ctx)  # the benchmark's own input generation: not set-up time
    t0 = time.perf_counter()
    start_session(ctx)
    import pyspark

    if ctx.trace:
        ctx.tracer.install()
    st = mod.setup(ctx, st)
    setup_s = time.perf_counter() - t0

    reqs, loop_s = mod.run(ctx, st)

    # everything below is outside the timed region
    mod.check(ctx, st, reqs)
    ctx.detail.update(
        workload=ctx.workload, seed=ctx.seed, seconds=ctx.seconds, trace=int(ctx.trace),
        nproc=ctx.cpus, spark=pyspark.__version__,
        sf=ctx.sf, loop_s=round(loop_s, 3),
    )
    e2e = end_to_end(ctx, reqs, loop_s, setup_s)
    ctx.detail.update({k: round(v, 6) for k, v in workload_figures(ctx.workload, e2e, st, reqs).items()})
    ctx.detail["setup_s"] = e2e["setup_s"][0]
    ctx.detail["error_rate"] = len(ctx.failures) / max(ctx.attempted, 1)
    ctx.detail["failures"] = ctx.failures[:20]

    if ctx.trace:
        metrics = per_layer(ctx, mod, st, reqs)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    line = {"correct": not ctx.failures, "attempted": max(ctx.attempted, 1),
            "failed": len(ctx.failures), "metrics": metrics}
    return {"detail": {"detail": ctx.detail}, "line": line}


def per_layer(ctx: Ctx, mod, st, reqs) -> dict:
    from harness import median

    ctx.tracer.on = False
    status = tracing.status_by_request(ctx.sc)
    py4j = ctx.tracer.py4j_by_req()
    mod.layer_metrics(ctx, st, reqs, status, py4j)
    traced = [r for r in reqs if r.traced]
    cold = {r.kind: r.req_id for r in reversed(reqs)}  # each kind's first request
    ctx.layer["exec.cold_s"] = median(r.exec_s for r in reqs if cold[r.kind] == r.req_id)
    ctx.layer["exec.warm_s"] = median(r.exec_s for r in reqs if cold[r.kind] != r.req_id)
    ctx.layer["session.start_s"] = ctx.session_start_s
    for key, name in (("jobs", "exec.jobs"), ("tasks", "exec.tasks"),
                      ("shuffle_bytes", "exec.shuffle_bytes"), ("spill_bytes", "exec.spill_bytes")):
        ctx.layer[name] = median(status.get(r.req_id, {}).get(key, 0) for r in traced)
    for layer, s in ctx.tracer.self_time_by_layer().items():
        ctx.layer[f"self_s.{layer}"] = s
    ctx.layer["trace.overhead_pct"] = overhead_pct(ctx.overhead_pairs)
    ctx.detail["spans"] = len(ctx.tracer.finished())
    ctx.detail["requests_per_span_tree"] = len({s.req for s in ctx.tracer.finished()})
    out_dir = os.path.join(ctx.root, ".perfbench_runs", "traces")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{ctx.workload}-{ctx.seed}.json")
    ctx.tracer.dump(out)
    ctx.detail["trace_file"] = os.path.relpath(out, ctx.root)
    return {k: {"value": float(ctx.layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
