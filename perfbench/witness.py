"""Check that tracing does not change what the engine does, and measure
what it costs.

    python3 perfbench/witness.py --workload batch_rank --seed 1

Runs the workload twice with ``--seconds 0`` (each loop does only its
fixed minimum, so both runs make the same calls): once untraced, once
with the event log on. The jobs each layer launched, counted from
``statusTracker`` in both runs, must be identical call by call; the
gap in the end-to-end metrics between the two runs is the tracing
overhead. Exits 1 if the job counts differ or either run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "0", "--trace",
         str(trace)],
        capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise SystemExit(f"trace {trace} run failed ({proc.returncode})")
    return json.loads(lines[-2][len("detail "):])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    plain = _run(args.workload, args.seed, 0)
    traced = _run(args.workload, args.seed, 1)
    same = plain["call_jobs"] == traced["call_jobs"]
    print(f"workload {args.workload} seed {args.seed}")
    for key in sorted(set(plain["call_jobs"]) | set(traced["call_jobs"])):
        a, b = plain["call_jobs"].get(key), traced["call_jobs"].get(key)
        print(f"  jobs {key:<16} untraced {a}  traced {b}"
              + ("" if a == b else "  DIFFERENT"))
    for name, a in plain["end_to_end"].items():
        b = traced["end_to_end"][name]
        print(f"  {name:<20} untraced {a:12.4f}  traced {b:12.4f}  "
              f"gap {(b - a) / a:+.1%}")
    print("job counts " + ("identical" if same else "DIFFER"))
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
