"""Crawl-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  Everything the run writes goes under
``.perfbench_work/`` there and is removed at the end.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, the end-to-end metrics with ``--trace 0``
and the per-layer ledger with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = [
    ("setup_s", "s"),
    ("crawl_pages_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    started = time.perf_counter()
    # on SIGTERM, unwind through the finally blocks that stop Spark and
    # remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Spark, its JVM and Python's tempfile all write scratch files
    # under these; keep them inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    try:
        from perfbench import workload

        if args.workload not in workload.WORKLOADS:
            parser.error(f"unknown workload {args.workload!r}: choose from {sorted(workload.WORKLOADS)}")
        run = workload.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        run.execute()
        if args.trace:
            from perfbench.layers import layer_metrics

            t = time.perf_counter()
            metrics = layer_metrics(run)
            run.values["fold_s"] = time.perf_counter() - t
        else:
            metrics = {name: (run.values[name], unit) for name, unit in END_TO_END}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    summary = {
        "wall_s": round(time.perf_counter() - started, 3),
        "workload": args.workload,
        "seed": args.seed,
        "cores": run.cores,
        "error_rate": run.failed / run.attempted,
        "failures": run.failures,
        **{k: round(run.values[k], 3) for k in ("session_s", "warmup_s", "tables_s", "oracle_s", "report_s", "gates_s", "reads_s", "fold_s", "search_ms_p90") if k in run.values},
        "setup_repeats_s": [round(t, 3) for t in run.setup_times],
        "timed_s": round(run.values["timed_s"], 3),
        "crawl_wall_s": round(run.crawl_wall_s, 3),
        "batch_ms": [round(b["ms"]) for b in run.batches],
        "report_rounds_s": [round(r, 3) for r in run.report_rounds],
        "batch_urls": [b["meta"]["n_batch"] for b in run.batches],
        "queries": len(run.queries),
    }
    print("summary " + json.dumps(summary))
    if args.trace:
        print("call_sites " + json.dumps(run.crawl_call_sites))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
