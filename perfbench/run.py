"""Workload benchmark for the program in the current directory.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark once per source tree (sbt, outside
every metric), generates the workload's inputs from the seed, runs one
JVM on the compiled classpath, checks the program's outputs, and prints
one JSON result as the last line of standard output. Exits 1 when a
correctness check fails, 2 when the program cannot be built or run."""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen     # noqa: E402

JARS = os.path.join(BENCH, "target", "jars")
STAMP = os.path.join(BENCH, "target", "build.json")
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# per-layer metrics each workload measures; the rest read 0 there
# because that layer does no work in the workload
LAYERS = {
    "warehouse_cdc": ("sources.", "operators.Ledger.", "operators.Merge.", "queries."),
    "corpus_refresh": ("streaming.RefreshPipeline.", "operators.Dedup.", "functions.Bpe.",
                       "streaming.ShardSink.", "streaming.VectorIndexSink.",
                       "operators.Similarity."),
}
COMMON_LAYERS = ("write.", "read.", "jvm.")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(root):
    """Hash of every file the build reads: the program's and the benchmark's
    sources and build definitions."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath(root):
    """Compile once per source tree. The class dirs are packed into jars, a
    snapshot of the classes built from the hashed sources."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail(2, f"no program sources under {root} (run from the root of a checkout)")
    digest = source_hash(root)
    if os.path.isfile(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp["hash"] == digest:
            return stamp["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        fail(2, "sbt not found")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(2, "build timed out")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(2, "build failed")
    shutil.rmtree(JARS, ignore_errors=True)
    os.makedirs(JARS)
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(JARS, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, names in os.walk(e):
                    for n in sorted(names):
                        z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), e))
            e = jar
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(STAMP, "w") as f:
        json.dump({"hash": digest, "classpath": cp}, f)
    return cp


def run_jvm(cp, workload, inp, work, out, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, inp, work, out, str(seconds), str(trace)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    if proc.returncode != 0:
        fail(2, f"JVM exited with {proc.returncode} (killed if negative: over the time limit)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = classpath(root)
    deadline = time.monotonic() + RUN_LIMIT_S - 10  # checks and cleanup follow
    work = os.path.join(BENCH, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inp, out = os.path.join(work, "input"), os.path.join(work, "out")
        t0 = time.perf_counter()
        gen.GENERATORS[a.workload](inp, a.seed)
        gen_s = time.perf_counter() - t0
        run_jvm(cp, a.workload, inp, work, out, a.seconds, a.trace, deadline)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        if a.trace:
            shutil.copyfile(os.path.join(out, "spans.json"),
                            os.path.join(BENCH, "target", f"spans-{a.workload}.json"))
        t0 = time.perf_counter()
        fails = checks.CHECKS[a.workload](inp, os.path.join(out, "check"))
        check_s = time.perf_counter() - t0
        for m in fails:
            print(f"perfbench: CHECK FAILED: {m}", file=sys.stderr)
        got = res["metrics"]
        got["setup_s"]["value"] += gen_s
        if a.trace:
            owned = LAYERS[a.workload] + COMMON_LAYERS
            metrics = {}
            for m in spec["per_layer"]:
                if m["name"] in res["layers"]:
                    metrics[m["name"]] = res["layers"][m["name"]]
                elif m["name"].startswith(owned):
                    fail(2, f"per-layer metric {m['name']} was not measured")
                else:
                    metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            metrics = {m["name"]: got[m["name"]] for m in spec["end_to_end"]}
        print(f"perfbench: {a.workload} seed {a.seed} trace {a.trace}: "
              f"rounds {res['rounds']}, op walls {res['walls']}, set-up reps {res['seed_s']}, "
              f"failed {res['failed']}, generation {gen_s:.1f}s, checks {check_s:.1f}s, "
              f"wall {time.monotonic() - t_start:.1f}s, "
              f"end-to-end {json.dumps(got)}", file=sys.stderr)
        print(json.dumps({"correct": not fails,
                          "attempted": sum(res["attempted"].values()),
                          "failed": sum(res["failed"].values()),
                          "metrics": metrics}))
        sys.exit(1 if fails else 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
