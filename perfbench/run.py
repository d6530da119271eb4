#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ods_stream --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run first builds the program and the
harness with sbt (offline), unless their sources are unchanged since the
last build, whose classpath is cached in .bench_build/.
The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics; with --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. A readable table of the same metrics goes to standard error.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BUILT = os.path.join(BUILD, "built.json")
# What the build reads: the program's and the harness's build
# definitions and main sources.
BUILD_INPUTS = ("build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src")
WORKLOADS = ("ods_stream", "dedup_pipeline")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"

# The module exports Spark 4 needs on JDK 17 outside spark-submit; the
# same list as the program's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def check_tree():
    """The program's sources must be present: this is a checkout."""
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                "BENCHMARK.json", "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            die(f"{rel} is missing; run from the root of a checkout of the program")


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def source_digest():
    """Digest of every build input's path and content."""
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        top = os.path.join(ROOT, rel)
        files = [top] if os.path.isfile(top) else []
        for d, dirs, names in os.walk(top):
            # sbt's own output: target/ and project/project/
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness (sbt compiles incrementally)
    unless the build inputs are those of the last build."""
    digest = source_digest()
    if os.path.isfile(BUILT):
        with open(BUILT) as f:
            last = json.load(f)
        if last.get("digest") == digest:
            return last["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    if os.path.isfile(BUILT):
        os.remove(BUILT)
    try:
        out = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout)
        die("build failed")
    cp = lines[-1].strip()
    if "perfbench" not in cp:
        sys.stderr.write(out.stdout)
        die("could not read the classpath from sbt")
    with open(BUILT, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def run_jvm(cp, work, extra):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"] + extra
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("run timed out", 3)
    if proc.returncode != 0:
        die(f"benchmark JVM exited with {proc.returncode}", 3)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        die("benchmark JVM printed no result", 3)
    head = json.loads(lines[-2])
    context = dict(head["context"], failures=head["failures"])
    return context, json.loads(lines[-1])


def select(result, spec, traced):
    """Keep the metrics BENCHMARK.json declares for this mode."""
    measured = result["metrics"]
    out = {}
    if not traced:
        for m in spec["end_to_end"]:
            got = measured.get(m["name"])
            if got is None:
                die(f"end-to-end metric {m['name']} was not measured", 3)
            if got["unit"] != m["unit"]:
                die(f"{m['name']}: unit {got['unit']} but BENCHMARK.json says {m['unit']}", 3)
            out[m["name"]] = got
        return out
    e2e = {m["name"] for m in spec["end_to_end"]}
    for m in spec["per_layer"]:
        name = m["name"]
        src = name[len("traced."):] if name.startswith("traced.") and name[len("traced."):] in e2e else name
        got = measured.get(src)
        if got is None:
            # a layer this workload does not exercise
            got = {"value": 0, "unit": m["unit"]}
        elif got["unit"] != m["unit"]:
            die(f"{name}: unit {got['unit']} but BENCHMARK.json says {m['unit']}", 3)
        out[name] = {"value": got["value"], "unit": m["unit"]}
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--inject", default="none", choices=("none", "drop_batch", "wrong_result"),
                    help="self-test only: break one micro-batch or one result")
    ap.add_argument("--pin-out", help="write the observed row counts and digests here")
    ap.add_argument("--cores", type=int, help="override local[N] (pinning only)")
    a = ap.parse_args(argv)
    check_tree()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    os.makedirs(BUILD, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        extra = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", a.trace,
                 "--data", os.path.join(HERE, "data", "sf0.01"),
                 "--work", work,
                 "--pins", os.path.join(HERE, "pins", f"{a.workload}.json"),
                 "--inject", a.inject]
        if a.pin_out:
            extra += ["--pin-out", os.path.abspath(a.pin_out)]
        if a.cores:
            extra += ["--cores", str(a.cores)]
        context, result = run_jvm(cp, work, extra)
        trace_file = os.path.join(work, "trace.jsonl")
        if os.path.isfile(trace_file):
            dest = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.move(trace_file, dest)
            context["trace_file"] = os.path.relpath(dest, ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = select(result, spec, a.trace == "1")
    for k, v in sorted(context.items()):
        print(f"  context {k} = {v}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:44s} {v['value']:>16} {v['unit']}", file=sys.stderr)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
