#!/usr/bin/env python3
"""Pin the row count and result digest of every dedup_pipeline entry.

    python3 perfbench/pin.py

Runs dedup_pipeline three times (local[4], local[2], local[4]) and writes
perfbench/pins/dedup_pipeline.json. An entry whose digest differs
between the runs is pinned by row count only ("hash": null) and listed
on standard output; an entry whose row count differs cannot be pinned
and stops the script. Run it on the commit the pins should describe.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def observe(workload, cores, out):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", "0", "--seconds", "20", "--trace", "0",
                    "--pin-out", out, "--cores", str(cores)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def main():
    workload = "dedup_pipeline"
    with tempfile.TemporaryDirectory() as tmp:
        runs = [observe(workload, c, os.path.join(tmp, f"{i}.json"))
                for i, c in enumerate((4, 2, 4))]
    pins = {}
    for name in sorted(runs[0]):
        rows = {r[name]["rows"] for r in runs}
        if len(rows) != 1:
            sys.exit(f"{name} returned {sorted(rows)} rows across runs")
        hashes = {r[name]["hash"] for r in runs}
        pins[name] = {"rows": rows.pop(), "hash": hashes.pop() if len(hashes) == 1 else None}
        if pins[name]["hash"] is None:
            print(f"{name} pinned by row count only")
    path = os.path.join(HERE, "pins", f"{workload}.json")
    with open(path, "w") as f:
        f.write("{\n" + ",\n".join(f"  {json.dumps(n)}: {json.dumps(p)}" for n, p in pins.items()) + "\n}\n")
    print(f"{len(pins)} entries pinned in {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
