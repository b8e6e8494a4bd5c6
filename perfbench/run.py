"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dedup_mixed --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout: the program is imported from there and
all scratch files go to ``.perfbench_work/`` inside it. With ``--trace 0``
the result holds every ``end_to_end`` metric of BENCHMARK.json, with
``--trace 1`` every ``per_layer`` metric; a layer that the workload does
not run reports 0. Context that is not a metric (input checksum, host
steal and idle, set-up details, span self times, failed checks) is printed
on the line before the result.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("dedup_mixed", "dedup_adversarial", "ann_serve")
LAYERS = {
    "dedup_mixed": ("session", "signatures", "sign", "band", "verify",
                    "substring", "cluster", "checkpoint", "pipeline",
                    "trace"),
    "ann_serve": ("session", "forest", "ann_index", "checkpoint", "trace"),
}
LAYERS["dedup_adversarial"] = LAYERS["dedup_mixed"]


def import_program() -> None:
    """Import annoy_spark from this checkout, or exit: the benchmark never
    measures a copy installed elsewhere."""
    sys.path.insert(0, str(ROOT))
    try:
        import annoy_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import annoy_spark from {ROOT}: {e}")
    if Path(annoy_spark.__file__).resolve().parent.parent != ROOT:
        sys.exit(f"perfbench: annoy_spark resolves to {annoy_spark.__file__},"
                 f" not to the checkout {ROOT}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    import_program()

    from harness import Bench, stop_jvm
    from probe import HostCpu

    work = ROOT / ".perfbench_work" / args.workload
    bench = Bench(root=ROOT, work=work, trace=bool(args.trace),
                  seconds=args.seconds)
    host = HostCpu()
    if args.workload == "ann_serve":
        from ann import Ann
        w = Ann(bench, args.seed)
    else:
        from dedup import Dedup
        w = Dedup(bench, args.workload, args.seed)
    try:
        got = w.run_traced() if args.trace else w.run()
    finally:
        stop_jvm()
    shutil.rmtree(work, ignore_errors=True)
    if not any(work.parent.iterdir()):
        work.parent.rmdir()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        name = m["name"]
        if name in got:
            value = float(got[name])
        elif args.trace and name.split(".")[0] not in LAYERS[args.workload]:
            value = 0.0  # the workload does not run this layer
        else:
            missing.append(name)
            continue
        metrics[name] = {"value": value, "unit": m["unit"]}
    context = dict(w.context, host=host.shares(), phases=bench.phases,
                   errors=bench.errors, missing=missing)
    print(json.dumps({"context": context}, default=str))
    if missing and not metrics:
        sys.exit("perfbench: no measurement completed")
    print(json.dumps({
        "correct": bench.failed == 0 and not missing,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }), flush=True)


if __name__ == "__main__":
    main()
