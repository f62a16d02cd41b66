"""Self-test of the benchmark's checks: a perturbed output must fail.

    python3 graftbench/selftest.py [--seed 7]

Runs every workload once with ``--perturb``, which changes one value in
the first timed op's output before it is checked, and requires that the
run reports that op as failed: ``failed`` >= 1, ``ok_frac`` < 1 and
``correct`` false. Exits 1 if any workload lets the wrong answer pass.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(HERE))
    from graftbench.run import WORKLOADS

    bad = []
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
            "--seed", str(args.seed), "--seconds", "1", "--trace", "0", "--perturb",
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=300)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        res = json.loads(last)
        ok_frac = res.get("metrics", {}).get("ok_frac", {}).get("value")
        caught = (
            proc.returncode == 0
            and res.get("failed", 0) >= 1
            and res.get("correct") is False
            and ok_frac is not None
            and ok_frac < 1
        )
        print(f"{name}: failed={res.get('failed')} ok_frac={ok_frac} "
              f"correct={res.get('correct')} -> {'caught' if caught else 'MISSED'}")
        if not caught:
            bad.append(name)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
