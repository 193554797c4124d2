"""Benchmark entry point.

    python3 perfbench/run.py --workload cap_batch --seed 1 --seconds 10 --trace 0

Runs one workload in this fresh process against the package in the
checkout this file sits in, prints a readable report, and prints as its
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics). The full record, with the run
settings and, for a traced run, every span, is written to
``.perfbench_out/`` in the checkout.

Workloads, metrics and the layer → end-to-end map: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cap_batch", "corpus_dedup")


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = _args()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, "etl_capnz_spark")):
        print(f"no etl_capnz_spark package next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    import common

    # a timeout sends SIGTERM: unwind so the JVM and every process under
    # it end and the scratch directory goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_id = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    settings = common.pin_environment(work)
    try:
        result = _run(args, spec, run_id, work, settings)
    finally:
        # py4j proxies collected from here on try to reach a JVM that is
        # stopping or gone, and log the failure
        logging.disable(logging.CRITICAL)
        common.stop_jvm()
        common.rmtree(work)
    if result is None:
        return 3
    print(json.dumps(result), flush=True)
    return 0


def _run(args, spec: dict, run_id: str, work: str, settings: dict) -> dict | None:
    """Run the workload; returns the result line, or None when a metric
    was not measured."""
    import common

    if args.workload == "corpus_dedup":
        from corpus import corpus_dedup as workload
    else:
        from cap import cap_batch as workload

    t_run = time.perf_counter()
    spark, cold_start, restarts = common.set_up(work)
    try:
        settings.update(common.versions(spark))
        res = workload(spark, work, args.seed, args.seconds, bool(args.trace), run_id)
        rss = common.peak_rss_mb(spark)
    finally:
        spark.stop()
    settings["loadavg_end"] = list(os.getloadavg())
    settings["cpu_steal_s"] = common.steal_seconds() - settings.pop("_steal0")

    metrics = dict(res["metrics"])
    metrics["setup_s"] = statistics.median(restarts)
    metrics["peak_rss_mb"] = rss
    if args.trace:
        layers = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0)
        for k in res["engine"][0]:  # engine counters: median over passes
            layers[k] = statistics.median(e[k] for e in res["engine"])
        layers.update(res["layers"])
        layers["session.cold_start_s"] = cold_start
        for k in ("cold_pass_s", "pass_s", "items_per_s"):
            layers[k] = metrics[k]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        layers = {}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    chosen = layers if args.trace else metrics
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in names if chosen.get(n) is None]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return None

    attempted, failed = res["attempted"], res["failed"]
    correct = failed == 0 and not res.get("rejected", False)
    _report(args, res, metrics, restarts, cold_start, correct, time.perf_counter() - t_run)
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": settings,
        "setup_restarts_s": restarts,
        "session_cold_start_s": cold_start,
        "metrics": metrics,
        "layers": layers,
        "named": res["named"],
        "info": res["info"],
        "spans": res["tracer"].spans,
    }
    out = os.path.join(ROOT, ".perfbench_out", f"{run_id}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": chosen[n], "unit": units[n]} for n in names},
    }


def _report(args, res, metrics, restarts, cold_start, correct, wall) -> None:
    """Readable summary: every workload metric by its own name, with unit
    and sample count, and the output-check verdict."""
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print(f"  run wall {wall:.1f} s; session cold start {cold_start:.2f} s")
    print(f"  setup_s {metrics['setup_s']:.3f} s (median of {len(restarts)})")
    print(f"  peak_rss_mb {metrics['peak_rss_mb']:.0f} MB (1)")
    n = len(res["info"]["pass_exec_cpu_s"])
    print(f"  pass_exec_cpu_s {metrics['pass_exec_cpu_s']:.3f} s (median of {n})")
    ratio = res["failed"] / max(1, res["attempted"])
    print(f"  ops_failed_ratio {ratio:.4f} ({res['failed']}/{res['attempted']})")
    for name, (value, unit, n) in res["named"].items():
        print(f"  {name} {value:.4f} {unit} (n={n})")
    for k, v in res["layers"].items():
        print(f"  {k} {v}")
    print(f"  output check: {'PASS' if correct else 'FAIL'}; {json.dumps(res['info'], default=str)}")


if __name__ == "__main__":
    sys.exit(main())
