"""Self-test of the benchmark's oracle gate.

    python3 perfbench/selftest.py

Runs the benchmark twice on mor_read_mix with the same seed: once as is,
which must pass, and once with ``--corrupt-oracle``, which flips one expected
digest row and must make the run fail (exit code 1, ``"correct": false``,
the ingest counted as failed). Exits 0 when both hold. Run it from the
repository root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
WORKLOAD = "mor_read_mix"
SEED = 5


def bench(*extra: str) -> tuple[int, dict, str]:
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", WORKLOAD, "--seed", str(SEED),
         "--seconds", "1", "--trace", "0", *extra],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    return proc.returncode, result, proc.stdout


def main() -> int:
    failures = []
    code, res, out = bench()
    if code != 0 or res.get("correct") is not True:
        failures.append(f"clean run did not pass (exit {code}):\n{out}")
    code, res, out = bench("--corrupt-oracle")
    if code != 1 or res.get("correct") is not False or not res.get("failed"):
        failures.append(f"corrupted oracle was not caught (exit {code}):\n{out}")
    elif "rows differ" not in out:
        failures.append(f"the report does not name the digest mismatch:\n{out}")
    else:
        print("corrupted-oracle run:", *[l for l in out.splitlines() if "oracle gate" in l or "!" in l], sep="\n")
        print(f"exit {code}, correct={res['correct']}, failed={res['failed']}/{res['attempted']}")
    for f in failures:
        print(f"FAIL: {f}")
    print("selftest:", "FAIL" if failures else "ok (clean run passes, corrupted oracle fails)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
