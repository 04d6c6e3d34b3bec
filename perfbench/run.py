"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 10 --trace 0

Runs one workload against the ``ingestor_etl_spark`` package in the
checkout that holds this directory, from any working directory.
Inputs are generated from ``--seed``. The last stdout line is the
result object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it carries the detail (per-sample figures, output
checks, host facts). ``--trace 1`` reports per-layer metrics from a
traced run instead of the end-to-end ones and also writes them to
``.perfbench_work/<workload>/layers.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    BenchError, Session, StderrTee, cpu_ticks, emit, host_facts, nproc, prepare_env,
)

WORKLOADS = ("ingest_batch", "stream_query")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        work = prepare_env(args.workload)
        import pyspark  # noqa: F401  (fail before any work if missing)
    except (BenchError, ImportError) as exc:
        print(f"perfbench: cannot run here: {exc}", file=sys.stderr)
        return 2

    sess = Session(work)
    tee = StderrTee()
    ticks0 = cpu_ticks()
    try:
        import layers

        if args.workload == "ingest_batch":
            import batch as mod
        else:
            import streamquery as mod
        if args.trace:
            metrics, detail, attempted, failed, correct = mod.run_traced(
                sess, work, args.seed, args.seconds, nproc()
            )
        else:
            metrics, detail, attempted, failed, correct = mod.run(
                sess, work, args.seed, args.seconds, nproc()
            )
            layers.remember_untraced(work, args.workload, metrics["steady_s"]["value"])
        detail["host"] = host_facts(sess.master, ticks0, cpu_ticks())
        detail["setup_samples_s"] = [round(s, 4) for s in sess.setup_times]
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        sess.close()
        jvm_errors = tee.close()
    detail["jvm_errors"] = jvm_errors
    detail.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace})
    result = {"correct": bool(correct), "attempted": int(attempted),
              "failed": int(failed), "metrics": metrics}
    if args.trace:
        with open(os.path.join(work, "layers.json"), "w") as fh:
            json.dump({"result": result, "detail": detail}, fh, indent=1, default=str)
    emit(detail, result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
