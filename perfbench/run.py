"""Benchmark of record for deduplicator_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds the product Spark session at
local[<cores>], sets up the workload from ``--seed``, runs it closed loop
for about ``--seconds`` and checks every output.  The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics for ``--trace 0`` and the per-layer metrics for ``--trace 1``.
Exits 0 only when every run passed its checks and every metric was read.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402


def _args(argv: list[str] | None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _result_line(result: dict, trace: bool) -> tuple[dict, bool]:
    specs = M.per_layer() if trace else M.END_TO_END
    values = result.get("layers", {}) if trace else result["metrics"]
    missing = sorted(set(specs) - set(values))
    out = {
        "correct": result["failed"] == 0 and not missing,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            name: {"value": float(values[name]), "unit": specs[name][0]}
            for name in specs
            if name in values
        },
    }
    if missing:
        print(f"missing metrics: {missing}", file=sys.stderr)
    return out, out["correct"]


def main(argv: list[str] | None = None) -> int:
    # The program under test must be importable from this checkout.
    try:
        import deduplicator_spark  # noqa: F401  (also sets its numpy hugepage policy)
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    args = _args(argv)
    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    from perfbench.calibration import calibrate
    from perfbench.workloads import WORKLOADS, start_session, stop_session, Bench

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    spark = None
    try:
        calib_before = calibrate(cores)
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t0
        bench = Bench(spark, work, cores)
        result = WORKLOADS[args.workload](bench, args.seed, args.seconds, bool(args.trace))
        result["metrics"]["setup_s"] = result["metrics"].get("setup_s", 0.0) + session_s
        result["setup_parts"]["session_s"] = session_s
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work dir is still there
    calib_after = calibrate(cores)

    line, ok = _result_line(result, bool(args.trace))
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores,
        "calibration": {"before": calib_before, "after": calib_after},
        **{k: v for k, v in result.items() if k not in ("metrics", "layers")},
    }
    print("report " + json.dumps(report, sort_keys=True))
    e2e = result["metrics"]
    print("end-to-end " + "  ".join(
        f"{n}={e2e[n]:.6g} {u}" for n, (u, _) in M.END_TO_END.items() if n in e2e
    ) + "  " + "  ".join(f"{n}={result['gate'][n]:.6g} {u}" for n, u in M.GATE.items()))
    if args.trace:
        for name, value in sorted(result.get("layers", {}).items()):
            print(f"layer {name}={value:.6g} {M.per_layer()[name][0]}")
    print(json.dumps(line))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
