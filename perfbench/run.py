#!/usr/bin/env python3
"""Daily-loop benchmark for the extraction engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload day1_delta --seed 1 --seconds 5 --trace 0

``--trace 0`` measures the workload and prints its end-to-end metrics;
``--trace 1`` runs the traced ledger (every workload's layers, see
tracing.py) and prints the per-layer metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the
line before it is a report with the host probe, per-job times and
every failed operation. See NOTES.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("day1_delta", "skewed_extract"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in ("ocr_spark", "jobs") if not os.path.isdir(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import harness
    import workloads

    t_process = harness.process_start_epoch()
    harness.become_subreaper()
    # a stop request still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = harness.Env(root, trace=bool(args.trace))
    ledger = harness.Ledger()
    report: dict = {"workload": args.workload, "seed": args.seed, "nproc": harness.nproc()}
    try:
        # the probe runs before the JVM exists, so no JVM background
        # thread skews it; its own time is not set-up time
        t0 = time.time()
        report["host_pre"] = harness.host_probe()
        t_process += time.time() - t0
        harness.warm_session()
        setup = time.time() - t_process
        report["setup_s"] = setup
        workloads.build_caches(workloads.Ctx(env, args.seed, args.seconds, ledger,
                                             workloads.Tracer(False, "caches")))
        if args.trace:
            import tracing

            metrics = tracing.run(env, args.seed, args.seconds, ledger, report["host_pre"])
        else:
            tracer = workloads.Tracer(False, f"{args.workload}-{args.seed}")
            ctx = workloads.Ctx(env, args.seed, args.seconds, ledger, tracer)
            res = workloads.WORKLOADS[args.workload](ctx)
            metrics = dict(res["metrics"])
            metrics["setup_s"] = (setup, "s")
            report.update(res["report"])
        report["host_post"] = harness.host_probe()
    finally:
        try:
            harness.stop_jvm()
        finally:
            # every process this run started (the JVM's orphaned Python
            # workers too) has ended before the result is printed
            report["late_exits"] = harness.reap_descendants()
            env.cleanup()
    report["failed_share"] = ledger.failed / max(1, ledger.attempted)
    report["known_defect_failures"] = ledger.known
    report["unexplained_failures"] = ledger.unexplained
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": ledger.correct,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
