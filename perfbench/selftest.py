"""The benchmark's own self-test, at tiny size (``--selftest``).

For each workload it runs three short fresh-process runs and asserts:

- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) is printed, each with its unit, as BENCHMARK.json names
  them;
- a run whose expected output was deliberately corrupted (``--corrupt``)
  reports a higher error ratio and ``correct: false``: the checker works;
- another seed changes the inputs (generator frames, batch corpus) but
  not the metric names.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

from common import BENCH_DIR, E2E_UNITS, ROOT


def _run(workload: str, seed: int, trace: int, corrupt: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise AssertionError(f"{' '.join(cmd[1:])} exited {out.returncode}")
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    for name, m in res["metrics"].items():  # printed by name with its unit, too
        assert any(line.startswith(f"{name} = ") and line.endswith(f" {m['unit']}") for line in lines), name
    return res


def _inputs_digest(seed: int) -> str:
    import corpus
    import traffic

    h = hashlib.sha256()
    f = traffic.make_frames(seed, 4000.0, 1.0, 0)
    for k in ("event_id", "ts_us", "user_id"):
        h.update(f[k].tobytes())
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as d:
        corpus.make_corpus(d, seed, 0.01)
        for t in sorted(os.listdir(d)):
            with open(os.path.join(d, t), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main(workloads: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    assert _inputs_digest(1) == _inputs_digest(1), "same seed, different inputs"
    assert _inputs_digest(1) != _inputs_digest(2), "another seed left the inputs unchanged"
    print("ok  inputs: same seed -> same inputs; another seed -> other inputs")
    for w in workloads:
        plain = _run(w, 1, 0)
        broken = _run(w, 2, 0, corrupt=True)
        traced = _run(w, 1, 1)
        for res in (plain, broken):
            assert {n: m["unit"] for n, m in res["metrics"].items()} == E2E_UNITS, res["metrics"]
        assert {n: m["unit"] for n, m in traced["metrics"].items()} == layer_units
        ratio = [r["failed"] / r["attempted"] for r in (plain, broken)]
        assert not broken["correct"] and ratio[1] > ratio[0], (plain, broken)
        print(f"ok  {w}: metric names and units; error ratio {ratio[0]:.4f} -> "
              f"{ratio[1]:.4f} with a corrupted expected output; seeds 1 and 2 report the same names")
    return 0
