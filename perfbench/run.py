"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

runs one workload in this (fresh) process against the program in the
enclosing checkout and prints every metric with its unit, then the JSON
result as the last stdout line. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` records spans, writes them to
``.perfbench_out/<workload>-seed<n>-trace.json`` and reports the
per-layer metrics.

    python3 perfbench/run.py --workload all [--runs N] [--seconds s]

runs every workload untraced and traced, each run in a fresh process,
and prints medians, the per-layer self time and the tracing overhead.

    python3 perfbench/run.py --selftest

checks the benchmark itself at tiny size (see ``selftest.py``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

def load_spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def process_start() -> float:
    """Wall-clock start of this process (from /proc), else now."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, StopIteration, ValueError):
        return time.time()


def run_one(args, spec: dict) -> int:
    t_process = process_start()
    work = common.make_work(args.workload)
    try:
        common.sut_env(work)
        sampler = common.RssSampler().start()
        tracer = common.Tracer(bool(args.trace))
        res = importlib.import_module(args.workload).run(args, work, t_process, sampler, tracer)
    finally:
        if "pyspark" in sys.modules:
            common.stop_jvm()
        common.remove_work(work)
    for k, v in res["info"].items():
        print(f"# {k} = {v:.6g}" if isinstance(v, float) else f"# {k} = {v}")
    if args.trace:
        # the traced run's end-to-end figures, for the tracing overhead
        for n, u in common.E2E_UNITS.items():
            print(f"# e2e {n} = {res['e2e'][n]!r} {u}")
        layer = dict(res["layer"])
        for name, s in tracer.self_times().items():
            layer[f"self.{name}_s"] = s
        path = os.path.join(common.OUT_ROOT, f"{args.workload}-seed{args.seed}-trace.json")
        tracer.dump(path)
        print(f"# spans: {len(tracer.spans)} written to {os.path.relpath(path, common.ROOT)}")
        # every per-layer metric is reported; a layer this workload does
        # not exercise did no work here and reads 0
        metrics = {m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"]) for m in spec["per_layer"]}
    else:
        metrics = {n: (float(res["e2e"][n]), u) for n, u in common.E2E_UNITS.items()}
    common.emit(res["failed"] == 0 and res["valid"], res["attempted"], res["failed"], metrics)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--runs", type=int, default=3, help="runs per side with --workload all")
    p.add_argument("--selftest", action="store_true")
    # self-test knobs: corrupt one expected output / shrink the workload
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not common.program_present() or not os.path.isfile(os.path.join(common.ROOT, "BENCHMARK.json")):
        print(
            "perfbench: the program (dnstap2clickhouse_spark/, __spark_entry__.py) or "
            f"BENCHMARK.json is not in {common.ROOT}; run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    if args.selftest:
        import selftest

        return selftest.main(workloads)
    if args.workload == "all":
        import report

        return report.main(args, spec)
    if args.workload not in workloads:
        p.error(f"--workload must be one of {workloads} or all")
    return run_one(args, spec)


if __name__ == "__main__":
    raise SystemExit(main())
