"""Tiny-size self-test of the benchmark. From the repository root:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs ``run.py --tiny``:

* with ``--trace 0`` and ``--trace 1``, and checks that the result is
  correct and names exactly the end-to-end (resp. per-layer) metrics of
  BENCHMARK.json, each with its unit;
* with ``--corrupt`` (every output damaged before its check), and checks
  that the damage is caught: failed requests and ``error_rate`` > 0.

Exits 1 and lists what failed, or prints "selftest ok".
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, corrupt: bool) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), "--tiny"] + (["--corrupt"] if corrupt else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n"
                           f"{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["summary"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, _ = run(w, trace, corrupt=False)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                failures.append(f"{w} trace={trace}: metrics differ from "
                                f"{key}: missing {sorted(set(want) - set(got))}"
                                f", extra {sorted(set(got) - set(want))}")
            if not res["correct"] or res["failed"]:
                failures.append(f"{w} trace={trace}: not correct ({res})")
        res, summary = run(w, 0, corrupt=True)
        if not (res["failed"] > 0 and summary["error_rate"] > 0
                and not res["correct"]):
            failures.append(f"{w}: corrupted outputs were not caught "
                            f"(failed={res['failed']}, "
                            f"error_rate={summary['error_rate']})")
        print(f"{w}: checked", flush=True)
    if failures:
        print("\n".join(failures), file=sys.stderr)
        return 1
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
