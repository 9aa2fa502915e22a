"""Tracing overhead: the traced run's end-to-end figures minus the untraced.

    python3 perfbench/overhead.py --workload cdc_eager --seed 1 --seconds 10

Runs perfbench/run.py twice on the same inputs, ``--trace 0`` then
``--trace 1``, and prints each end-to-end metric from both runs (the traced
run prints them on its readable lines) with the difference. One pair of
runs carries the host's run-to-run noise; repeat over seeds before reading
a small difference as overhead.
"""

from __future__ import annotations

import argparse
import re
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
LINE = re.compile(r"^  (\w+) = ([-0-9.e+]+) (\S+)$")


def e2e(workload: str, seed: int, seconds: float, trace: int) -> dict[str, tuple[float, str]]:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return {m[1]: (float(m[2]), m[3]) for m in map(LINE.match, out.splitlines()) if m}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    a = p.parse_args()
    off = e2e(a.workload, a.seed, a.seconds, 0)
    on = e2e(a.workload, a.seed, a.seconds, 1)
    for k, (v, unit) in off.items():
        if k in on:
            print(f"{k}: untraced {v:.6g} traced {on[k][0]:.6g} "
                  f"overhead {on[k][0] - v:+.6g} {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
