"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,churn} --seed N \
        --seconds S --trace {0,1} [--cores C] [--clients K]

Run from the root of a source checkout of the repository. The seed
makes every input; the program under test receives only those inputs.
Stdout ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (setup_s, op_p50_ms,
op_p90_ms, op_per_s); with --trace 1 they are the per-layer ones, taken
from in-memory spans around the calls into each module, the reader's
counters, index_build's stage timings and Spark's event log, and the
full trace is written to .perfbench_out/. Lines before it give the
box (nproc, cores, clients, calibrations) and the workload's named
metrics. See perfbench/README.md for the design.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.harness import OUT_DIR, BenchError, Ctx, calibrate, nproc  # noqa: E402

_REG = [(f"registry.{q}.{m}", u)
        for q in inputs.REGISTRY_QUERIES
        for m, u in (("count_s", "s"), ("noop_s", "s"), ("exchanges", "count"))]

# (name, unit, better) of every per-layer metric; layers a workload does
# not exercise report 0.
PER_LAYER = [
    ("calib.cpu_mops", "1/us", "higher"),
    ("calib.membw_gbps", "GB/s", "higher"),
    ("mcp.handle_ms", "ms", "lower"),
    ("serve.tokenize_ms", "ms", "lower"),
    ("serve.df_ms", "ms", "lower"),
    ("serve.topk_ms", "ms", "lower"),
    ("serve.topk_p99_ms", "ms", "lower"),
    ("serve.urls_ms", "ms", "lower"),
    ("serve.snippets_ms", "ms", "lower"),
    ("serve.fetch_ms", "ms", "lower"),
    ("serve.terms_cold", "count", "lower"),
    ("serve.blocks_considered", "count", "lower"),
    ("serve.blocks_decoded", "count", "lower"),
    ("serve.decoded_hits", "count", "higher"),
    ("serve.segments_touched", "count", "lower"),
    ("serve.global_fallbacks", "count", "lower"),
    ("serve.dead_union_fallbacks", "count", "lower"),
    ("serve.block_decode_ratio", "ratio", "lower"),
    ("serve.term_hit_ratio", "ratio", "higher"),
    ("build.wall_s", "s", "lower"),
    ("build.docs_stage_s", "s", "lower"),
    ("build.postings_stage_s", "s", "lower"),
    ("build.commit_tail_s", "s", "lower"),
    ("build.tid_verify_s", "s", "lower"),
    ("build.commit_worker_s", "s", "lower"),
    ("build.shuffle_write_bytes", "bytes", "lower"),
    ("build.shuffle_read_bytes", "bytes", "lower"),
    ("build.spill_bytes", "bytes", "lower"),
    ("build.task_cpu_s", "s", "lower"),
    ("build.jvm_gc_s", "s", "lower"),
    ("build.arrow_boundary_s", "s", "lower"),
    ("build.postings", "count", "lower"),
    ("build.index_bytes", "bytes", "lower"),
    ("churn.upsert_s", "s", "lower"),
    ("churn.delete_s", "s", "lower"),
    ("churn.refresh_ms", "ms", "lower"),
    ("churn.upsert_shuffle_bytes", "bytes", "lower"),
    ("churn.bytes_written_per_input_byte", "ratio", "lower"),
    ("churn.tombstones", "count", "lower"),
    ("merge.s", "s", "lower"),
    ("merge.bytes_rewritten", "bytes", "lower"),
    ("merge.segments_in", "count", "lower"),
    ("trace.overhead_p50_ms", "ms", "lower"),
] + [(n, u, "lower") for n, u in _REG]


def parse_args(argv):
    n = nproc()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=min(4, n),
                    help="Spark local[N] cores (default: min(4, nproc))")
    ap.add_argument("--clients", type=int, default=min(2, n),
                    help="client threads of serve's throughput phase (default: min(2, nproc))")
    a = ap.parse_args(argv)
    if a.seconds <= 0:
        raise BenchError("--seconds must be positive")
    if not 1 <= a.cores <= n or not 1 <= a.clients <= n:
        raise BenchError(f"refusing to oversubscribe: --cores {a.cores} / --clients "
                         f"{a.clients} must be between 1 and nproc={n}")
    return a


def main(argv) -> int:
    a = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mantic_sh_spark", "__init__.py")):
        raise BenchError(f"no mantic_sh_spark package beside perfbench/ in {ROOT}")
    from perfbench.workloads import WORKLOADS

    ctx = Ctx(ROOT, a.workload, a.seed, a.seconds, bool(a.trace), a.cores, a.clients)
    ctx.prepare()
    box = {"nproc": nproc(), "spark_cores": a.cores, "clients": a.clients,
           **calibrate()}
    t0 = time.perf_counter()
    try:
        e2e = WORKLOADS[a.workload](ctx)
    finally:
        ctx.stop_spark()
    wall = time.perf_counter() - t0

    correct = not ctx.mismatches
    if a.trace:
        layer = {"calib.cpu_mops": box["cpu_mops"], "calib.membw_gbps": box["membw_gbps"],
                 **ctx.layer}
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u, _ in PER_LAYER}
        _write_trace(ctx, a, box, e2e, metrics, wall)
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
    ctx.close()
    ctx.log("done")
    for n, (v, u) in ctx.named.items():
        print(f"metric {a.workload}.{n} = {v:.6g} {u}")
    print("box " + json.dumps(box))
    print(json.dumps({"correct": correct, "attempted": max(1, ctx.attempted),
                      "failed": ctx.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


def _write_trace(ctx: Ctx, a, box: dict, e2e: dict, metrics: dict, wall: float) -> None:
    out = os.path.join(ROOT, OUT_DIR)
    os.makedirs(out, exist_ok=True)
    doc = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "box": box,
        "wall_s": wall,
        "end_to_end_traced": {n: v for n, (v, _) in e2e.items()},
        "named": {n: v for n, (v, _) in ctx.named.items()},
        "per_layer": {n: m["value"] for n, m in metrics.items()},
        "self_time_s": ctx.tracer.self_times(),
        "notes": ctx.notes,
        "spans": ctx.tracer.dump(),
    }
    with open(os.path.join(out, f"trace-{a.workload}-seed{a.seed}.json"), "w") as f:
        json.dump(doc, f, default=str)


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    except Exception:
        traceback.print_exc()
        sys.exit(1)
