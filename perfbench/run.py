#!/usr/bin/env python3
"""feastspark benchmark runner.

Run one workload (builds the engine and the driver from source first, when
they changed):

    python3 perfbench/run.py --workload pit_fe_hot --seed 1 --seconds 8 --trace 0

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is the
full run document (named metrics, sample counts, percentiles, seed, nproc,
memory, errors). Exit code 1 means an output check failed.

Compare two sets of run documents (one JSON document per line, as printed
by the runner; other lines are ignored):

    python3 perfbench/run.py compare parent.jsonl change.jsonl

Run from the repository root. Needs sbt, java and SPARK_HOME.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
RUN_TIMEOUT_S = 170
KEEP_SEEDS = 12
BUILD_TIMEOUT_S = 840
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
    "-XX:ParallelGCThreads=4", "-XX:ConcGCThreads=1",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.level=ERROR",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile engine + driver with sbt; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from the repository root")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log = os.path.join(out, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1])
    return lines[-1]


def run(args):
    cp = build()
    out = build_dir()
    data = os.path.join(out, "data")
    work = os.path.join(out, "work", args.workload)
    # the inputs of the most recently used seeds stay, older ones are dropped
    if os.path.isdir(data):
        mine = os.path.join(data, f"{args.workload}-seed{args.seed}")
        if os.path.isdir(mine):
            os.utime(mine)
        old = sorted((os.path.join(data, d) for d in os.listdir(data)
                      if d.startswith(args.workload + "-seed")), key=os.path.getmtime)
        for d in old[:max(0, len(old) - KEEP_SEEDS)]:
            if d != mine:
                shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--out", result]
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc}); see {log}", 1)
    with open(result) as fh:
        doc = json.load(fh)
    with open(SPEC) as fh:
        spec = json.load(fh)
    listed = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    if set(doc["metrics"]) != set(listed):
        fail(f"metrics {sorted(set(doc['metrics']) ^ set(listed))} differ from BENCHMARK.json")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(doc, sort_keys=False))
    print(json.dumps({k: doc[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.stdout.flush()
    if not doc["correct"]:
        sys.stderr.write("perfbench: output check failed: " + "; ".join(doc["errors"]) + "\n")
        sys.exit(1)


def load(path):
    docs = []
    with open(path) as fh:
        for line in fh:
            try:
                d = json.loads(line)
            except ValueError:
                continue
            if isinstance(d, dict) and "workload" in d:
                docs.append(d)
    return docs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(a_path, b_path):
    """Per workload and metric: each side's median and quartiles, pair wins
    of B over A and a verdict by the rule of the benchmark's docs."""
    with open(SPEC) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    better = {**{m["name"]: m["better"] for m in spec["per_layer"]},
              **{k: m["better"] for k, m in e2e.items()}}
    a, b = load(a_path), load(b_path)
    for trace in (False, True):
        for wl in [w["name"] for w in spec["workloads"]]:
            ra = [d for d in a if d["workload"] == wl and d["trace"] == trace]
            rb = [d for d in b if d["workload"] == wl and d["trace"] == trace]
            if not ra or not rb:
                continue
            print(f"\n== {wl} ({'per-layer' if trace else 'end-to-end'}): "
                  f"A {len(ra)} runs, B {len(rb)} runs ==")
            names = [n for n in ra[0]["metrics"] if n in rb[0]["metrics"]]
            for n in names:
                xa = [d["metrics"][n]["value"] for d in ra]
                xb = [d["metrics"][n]["value"] for d in rb]
                qa, qb = quartiles(xa), quartiles(xb)
                sign = -1 if better.get(n, "lower") == "lower" else 1
                if trace:
                    delta = qb[1] - qa[1]
                    if delta == 0 and qa[1] == 0:
                        continue
                    pct = f"{100 * delta / qa[1]:+.1f}%" if qa[1] else "n/a"
                    print(f"  {n:34s} A {qa[1]:.4g}  B {qb[1]:.4g}  delta {delta:+.4g} ({pct})")
                    continue
                pairs = list(zip(xa, xb))
                wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
                losses = sum(1 for x, y in pairs if sign * (y - x) < 0)
                bound = e2e[n]["bound"]
                spread = (qa[2] - qa[0]) / abs(qa[1]) if qa[1] else float("inf")
                change = sign * (qb[1] - qa[1]) / abs(qa[1]) if qa[1] else 0.0
                if wins >= 0.9 * len(pairs) and sign * (qb[1] - qa[1]) > qa[2] - qa[0]:
                    verdict = "improved"
                elif -change > bound:
                    verdict = "worse"
                elif spread > bound and not min(sign * y for y in xb) > max(sign * x for x in xa):
                    verdict = "unresolved"
                else:
                    verdict = "unchanged"
                print(f"  {n:18s} A {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                      f"B {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  "
                      f"B wins {wins}/{len(pairs)} (losses {losses})  {verdict}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare A.jsonl B.jsonl")
        compare(sys.argv[2], sys.argv[3])
        return
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run(p.parse_args())


if __name__ == "__main__":
    main()
