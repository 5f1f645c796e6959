"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload fold_scan --seed 1 --seconds 15 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line is a
JSON object with the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics of a traced pass instead. Everything the run writes (the
generated inputs, Spark's scratch space, the event log and a full result
file) stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) // 1024


def host_state() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_mb(),
        "loadavg": os.getloadavg(),
        "pns_env": {k: v for k, v in os.environ.items() if k.startswith("PNS_")},
        "spark_graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
    }


def configure_env(work: str) -> None:
    """Size Spark for this host and keep its scratch files in the checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM spark-submit starts (its launcher too): temporary files in
    # the checkout, and no perf-counter file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fifth of the host's memory, at most 4 GiB: Spark's JVM shares the
    # host with other processes, and the inputs are small
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1024, min(4096, mem_total_mb() // 5))}m"


def main(argv: list[str]) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "polars_numba_spark", "__init__.py")):
        print("perfbench: polars_numba_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2

    from perfbench import harness

    harness.clean(WORK)
    configure_env(WORK)
    host = host_state()
    wl = WORKLOADS[args.workload](args.seed)
    runner = harness.Runner(wl, args.seed, WORK, trace=bool(args.trace))
    try:
        report = runner.run(args.seconds)
    finally:
        harness.stop_jvm()
    report.update(workload=args.workload, seed=args.seed, trace=args.trace, host=host)
    with open(os.path.join(WORK, f"result_{args.workload}_trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    for fail in report["failures"]:
        print(f"FAILED {fail}", file=sys.stderr)
    if args.trace:
        units = metric_units("per_layer")
        metrics = {k: {"value": float(report["layers"][k]), "unit": u} for k, u in units.items()}
        for row in report["per_op"]:
            print(f"op {row['op']}: " + " ".join(
                f"{k}={row[k]:.4g}" for k in units if isinstance(row.get(k), (int, float))
            ), file=sys.stderr)
    else:
        metrics = {k: {"value": float(report["end_to_end"][k]), "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    # Reported without a bound: fail_ratio is 0 on a correct program; a run
    # has one sample of its slowest op, too few for a high percentile; the
    # JVM's peak RSS follows garbage-collector timing.
    print(f"fail_ratio {report['fail_ratio']:.6g} ratio "
          f"({report['failed']} of {report['attempted']} ops)")
    print(f"op_max_s {report['end_to_end']['op_max_s']:.6g} s")
    print(f"jvm_peak_rss_mb {report['jvm_peak_rss_mb']:.6g} MB")
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    harness.clean_scratch(WORK)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main(sys.argv[1:]))
