"""Round-close gate: the three checks a round must pass before it closes.

Runs, in order, and stops at the first that fails (exiting with its
code):

  1. the FULL test suite, slow whole-registry sweeps included
     (`pytest tests/ -m "slow or not slow"`; the default run deselects
     them, see pytest.ini);
  2. the local oracle gate over the whole registry
     (`tools/verify_local.py [sf_dir]`; with no argument it uses
     verify_local's default, the sf0.01 test data);
  3. the staleness ledger (`tools/stale_rows.py --fail`).

Usage: python tools/round_close.py [sf_dir]
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def steps(sf_dir: list[str]) -> list[list[str]]:
    py = sys.executable
    return [
        [py, "-m", "pytest", "tests/", "-q", "-m", "slow or not slow"],
        [py, "tools/verify_local.py", *sf_dir],
        [py, "tools/stale_rows.py", "--fail"],
    ]


def main(argv: list[str]) -> int:
    for cmd in steps(argv[:1]):
        print("round_close: " + " ".join(cmd[1:]), flush=True)
        code = subprocess.call(cmd, cwd=ROOT)
        if code:
            print(f"round_close: FAILED ({code}): " + " ".join(cmd[1:]), flush=True)
            return code
    print("round_close: all checks passed", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
