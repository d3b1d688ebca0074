"""``--workload all``: every workload, untraced and traced, each run in
a fresh process, alternating sides; prints the end-to-end medians with
their quartile spread, the per-layer medians of the traced runs, self
time per layer, and the tracing overhead (traced minus untraced medians).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

from common import BENCH_DIR, E2E_UNITS


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed} trace {trace} exited {out.returncode}")
    traced_e2e = {}
    for line in lines:
        if line.startswith("# e2e "):
            name, rest = line[len("# e2e "):].split(" = ")
            traced_e2e[name] = float(rest.split()[0])
    return json.loads(lines[-1]), traced_e2e


def _spread(xs: list[float]) -> str:
    if len(xs) < 2:
        return f"{xs[0]:.4g}"
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return f"{q2:.4g} (IQR {100 * (q3 - q1) / q2:.1f}% of median)" if q2 else f"{q2:.4g}"


def main(args, spec: dict) -> int:
    for w in spec["workloads"]:
        name = w["name"]
        plain: dict[str, list[float]] = {n: [] for n in E2E_UNITS}
        traced: dict[str, list[float]] = {n: [] for n in E2E_UNITS}
        layers: dict[str, list[float]] = {}
        failed = attempted = 0
        for i in range(args.runs):
            seed = args.seed + i
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                res, e2e = _run(name, seed, args.seconds, trace)
                failed += res["failed"]
                attempted += res["attempted"]
                if trace:
                    for n, v in e2e.items():
                        traced[n].append(v)
                    for n, m in res["metrics"].items():
                        layers.setdefault(n, []).append(m["value"])
                else:
                    for n, m in res["metrics"].items():
                        plain[n].append(m["value"])
        print(f"== {name}: {args.runs} untraced + {args.runs} traced runs, "
              f"error ratio {failed}/{attempted}")
        for n, unit in E2E_UNITS.items():
            over = statistics.median(traced[n]) - statistics.median(plain[n])
            print(f"  {n:16s} {_spread(plain[n])} {unit}; tracing overhead {over:+.4g} {unit}")
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for n, vs in layers.items():
            if any(vs):
                print(f"  {n} = {statistics.median(vs):.4g} {units[n]}")
    return 0
