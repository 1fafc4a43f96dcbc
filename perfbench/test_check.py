#!/usr/bin/env python3
"""Shows the output check can fail: runs serve_small with one drained diff
dropped (--inject-drop 1) and asserts the result reports the epoch as
failed, then asserts the same seed passes without the fault.

    python3 perfbench/test_check.py        # from the root of the checkout
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def result(inject):
    out = subprocess.run(
        [sys.executable, RUN, "--workload", "serve_small", "--seed", "7",
         "--seconds", "1", "--trace", "0", "--inject-drop", str(inject)],
        capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"run failed ({out.returncode}):\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    faulty = result(1)
    assert faulty["correct"] is False, faulty
    assert faulty["failed"] == 1, faulty
    clean = result(0)
    assert clean["correct"] is True and clean["failed"] == 0, clean
    print("ok: a dropped diff fails the output check; the clean run passes")


if __name__ == "__main__":
    main()
