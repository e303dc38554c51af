"""Record the input fingerprints of pinned seeds in ``pins.json``.

    python3 perfbench/pin.py --seeds 0-63 [--workload NAME ...]

A run refuses a pinned (workload, seed) whose generated input no longer
matches its fingerprint, so a change under ``sources/`` cannot silently
change a workload. Re-pin only when a workload's input is meant to change.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 0-63")
    p.add_argument("--workload", action="append")
    args = p.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))

    sys.path.insert(0, str(ROOT))
    from perfbench import run
    from perfbench.workloads import WORKLOADS, input_fingerprint, input_table

    pins = json.loads(run.PINS.read_text())
    for name in args.workload or list(WORKLOADS):
        wl = WORKLOADS[name]
        for seed in range(lo, hi + 1):
            fp = input_fingerprint(input_table(wl.generate(seed)))
            pins.setdefault(name, {})[str(seed)] = fp
            print(name, seed, fp, flush=True)
    run.PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
