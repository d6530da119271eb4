#!/usr/bin/env python3
"""Check that the benchmark's output checks catch broken output.

    python3 perfbench/selftest.py

Runs ods_stream with one micro-batch dropped by the sink, and
dedup_pipeline with one entry's result given a duplicated row. Each run
must report correct=false with at least one failed operation. Exits
non-zero if either broken run passes its checks.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CASES = (("ods_stream", "drop_batch"), ("dedup_pipeline", "wrong_result"))


def main():
    bad = 0
    for workload, inject in CASES:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "4", "--trace", "0", "--inject", inject],
            cwd=ROOT, check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        caught = result["correct"] is False and result["failed"] >= 1
        print(f"{workload} --inject {inject}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} -> {'caught' if caught else 'MISSED'}")
        bad += not caught
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
