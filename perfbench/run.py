"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_ref --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

A single workload prints its end-to-end metrics (``--trace 0``) or its
per-layer metrics (``--trace 1``) as the last line of stdout, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``, and
exits 1 when an output check fails. ``--workload all`` runs every
workload untraced and traced and prints one table. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("stream_ref", "stream_blocklist", "batch_mix")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "fixed_work_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "pipeline.refresh_s": "s",
    "pipeline.build_s": "s",
    "pipeline.sink_s": "s",
    "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "rows",
    "sources.backlog_rows_max": "rows",
    "sources.scan_s_per_mrow": "s/Mrow",
    "serde.decode_s_per_mrow": "s/Mrow",
    "serde.encode_s_per_mrow": "s/Mrow",
    "censor.block_s_per_mrow": "s/Mrow",
    "censor.censor_s_per_mrow": "s/Mrow",
    "censor.codegen_fallbacks": "count/batch",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.build_jobs": "count",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "cache.released": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.scheduler_delay_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_eval_s": "s",
    "exec.task_skew": "ratio",
    "gen.lag_ms_p99": "ms",
    "scale.drain_1core_rows_per_s": "rows/s",
}


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    from harness import OUT_DIR, Harness, provenance

    h = Harness(workload, seed, trace)
    try:
        import hw_kafka_streams_spark  # noqa: F401  fail fast outside a checkout

        if workload == "batch_mix":
            import batch

            result = batch.run(h, seconds)
            params = {"queries": batch.QUERY_MIX, "sf": 0.1}
        else:
            import gen
            import stream

            result = stream.run(h, workload, seconds)
            params = gen.stream_params(workload)
        result["provenance"] = provenance(h, params, seconds)
    finally:
        h.close()
    correct = result["failed"] == 0
    if trace:
        # layers a workload does not run read 0
        metrics = {k: {"value": float(result["layers"].get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(result["e2e"][k]), "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(OUT_DIR, f"{workload}.trace{int(trace)}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(json.dumps({"provenance": result["provenance"], "e2e": result["e2e"],
                      "detail": {k: v for k, v in result["detail"].items() if k != "per_query"},
                      "layer_detail": result.get("layer_detail")}, default=str))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


def run_all(seed: int, seconds: int) -> int:
    """Every workload untraced then traced, one table at the end."""
    here = os.path.abspath(__file__)
    rows, status = [], 0
    for workload in WORKLOADS:
        runs = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, here, "--workload", workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(trace)],
                capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                status = 1
                print(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                if len(lines) < 2:
                    continue
            runs[trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
        if 0 not in runs:
            continue
        info = runs[0][0]
        for k, u in END_TO_END.items():
            v = info["e2e"][k]
            over = runs[1][0]["e2e"][k] - v if 1 in runs else float("nan")
            rows.append((workload, k, v, u, over))
        d = info["detail"]
        if "drain_rows_per_s" in d:
            rows.append((workload, "drain_rows_per_s", d["drain_rows_per_s"], "rows/s", float("nan")))
        if "batch_wall_s" in d:
            rows.append((workload, "batch_wall_s", d["batch_wall_s"], "s", float("nan")))
        rows.append((workload, "failed_frac", d["failed_frac"], "ratio", float("nan")))
        if 1 in runs:
            for k, m in runs[1][1]["metrics"].items():
                rows.append((workload, k, m["value"], m["unit"], float("nan")))
    print(f"{'workload':18s} {'metric':32s} {'value':>14s} {'unit':12s} {'traced-untraced':>16s}")
    for w, k, v, u, over in rows:
        print(f"{w:18s} {k:32s} {v:14.4f} {u:12s} {over:16.4f}")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    try:
        return run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 2


if __name__ == "__main__":
    sys.exit(main())
