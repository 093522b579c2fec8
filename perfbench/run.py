"""Extraction benchmark: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload extract_crawl --seed 1 --seconds 10 --trace 0

Workloads: ``extract_crawl``, ``resume_commit``, ``dedup_near`` (see
``workloads.py``). The engine runs at ``local[nproc]`` with
``nproc`` shuffle partitions, ``nproc`` being the CPUs this process may
use. With ``--trace 0`` the run measures the end-to-end metrics; with
``--trace 1`` it runs the layer ledger (``ledger.py``) and prints the
per-layer metrics. The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the run's context (nproc, load average, input generation time,
``failed_op_rate``). Inputs, Spark scratch space, spans and result files
live under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys

import inputs
from harness import (ROOT, WORK, adopt_orphans, jvm_pid, nproc, prepare_env, setup, shutdown,
                     stop_descendants, timed_runs)
from measure import load_average

N_SETUPS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_wall_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s_per_krow": "s/krow",
    "worker_rss_peak_mb": "MB",
}


def end_to_end(wl_cls, inp, args, n: int) -> tuple[dict, dict]:
    setups = []
    for k in range(N_SETUPS):
        s, spark, wl = setup(wl_cls, inp, n)
        setups.append(s)
        if k < N_SETUPS - 1:
            spark.stop()
    try:
        m = timed_runs(wl, args.seconds, jvm_pid())
    finally:
        shutdown(spark)
    wall = statistics.median(m["walls"])
    runs, chk = len(m["walls"]), m["check"]
    metrics = {
        "setup_s": statistics.median(setups),
        "run_wall_s": wall,
        "rows_per_s": inp.rows / wall,
        "cpu_s_per_krow": m["cpu_s"] / (runs * inp.rows / 1000),
        "worker_rss_peak_mb": m["rss_mb"],
    }
    result = {"attempted": runs + m["failed_runs"] + chk.items,
              "failed": m["failed_runs"] + chk.failed,
              "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                          for k, v in metrics.items()}}
    context = {"setups_s": setups, "walls_s": m["walls"], "check": chk.detail,
               "host_probe_s": m["host_probe_s"]}
    return result, context


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="input rows (default: the workload's own size)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    """Run the benchmark; whatever happens, no process it started outlives it."""
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return bench(parse_args(argv))
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stop_descendants()


def bench(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "wine_label_ocr_spark")):
        print(f"perfbench: no wine_label_ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    n = nproc()
    prepare_env()
    sys.path.insert(0, ROOT)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    rows = args.rows or wl_cls.rows
    inp = inputs.load_or_make(os.path.join(WORK, "inputs"), wl_cls.name, wl_cls.kind,
                              args.seed, rows, n)
    if args.trace:
        from ledger import traced_run
        result, context = traced_run(wl_cls, inp, args, n)
    else:
        result, context = end_to_end(wl_cls, inp, args, n)
    context.update({
        "workload": args.workload, "seed": args.seed, "rows": rows,
        "nproc": n, "loadavg": load_average(),
        "input_gen_s": inp.gen_s, "input_digest": inp.digest,
        "failed_op_rate": {"value": result["failed"] / result["attempted"],
                           "unit": "ratio"},
    })
    result = {"correct": result["failed"] == 0, **result}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump({"context": context, "result": result}, fh, indent=1)
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
