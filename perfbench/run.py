#!/usr/bin/env python3
"""The graft benchmark: one command per run.

    python3 perfbench/run.py --workload <batch_sweep|serve_point|stream_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and
the harness from source (sbt, offline) into the build directory
($CARGO_TARGET_DIR, default .bench_build) and generates the tables;
later runs reuse both while the sources are unchanged. The run itself is
one JVM on local[<cores>] that sets up, measures for --seconds, checks
its outputs and prints, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). The full
result and, when traced, the spans are written to <build>/results/.

Other modes (not gated workloads):
    --workload batch_full   every registry query, not just the slice
    --workload selfcheck    failure accounting, ms resolution and metric
                            names/units against BENCHMARK.json (sf0.001)
    --workload record       re-record fingerprints (see NOTES.md)
    --cores <n>             override the core count (default: all)
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# table scale of the batch and serving workloads, and of the stream input
BATCH_SF = "0.01"
STREAM_SF = "0.012"
CHECK_SF = "0.001"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s")
    return p.returncode, out


def build(build_dir):
    """Compiles library + harness; returns the runtime classpath."""
    sources = [os.path.join(ROOT, p) for p in
               ["src/main/scala", "build.sbt", "project/build.properties"]] + \
              [os.path.join(HERE, p) for p in
               ["src", "build.sbt", "project/build.properties"]]
    stamp = tree_hash(sources)
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    if code != 0:
        sys.stderr.write(out)
        fail("build failed")
    classpath = out.strip().splitlines()[-1]
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def tables(build_dir, sf):
    """Generated tables for scale `sf` (cached per generator version)."""
    gen = os.path.join(HERE, "gen_data.py")
    oracle = os.path.join(HERE, "oracle.py")
    stamp = tree_hash([gen, oracle])[:16]
    out = os.path.join(build_dir, "data", f"sf{sf}-{stamp}")
    if not os.path.exists(os.path.join(out, "serve_oracle.json")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        for cmd in ([sys.executable, gen, tmp, sf],
                    [sys.executable, oracle, tmp, os.path.join(tmp, "serve_oracle.json")]):
            code, _ = run_bounded(cmd, 300)
            if code != 0:
                fail(f"{os.path.basename(cmd[1])} failed")
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the graft sources (src/main/scala, build.sbt) are not beside "
             "perfbench/; run from the root of a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(build_dir)

    check = a.workload == "selfcheck"
    data = tables(build_dir, CHECK_SF if check else BATCH_SF)
    stream = tables(build_dir, STREAM_SF)
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(build_dir, "work", run_id)
    out = os.path.join(build_dir, "results")
    if a.workload == "record":
        out = os.path.join(build_dir, "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile=file:{HERE}/log4j2.properties",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--data", data, "--stream-data", stream, "--work", work,
        "--cores", str(a.cores),
        "--expected", os.path.join(data, "serve_oracle.json"),
        "--fingerprints", os.path.join(HERE, "fingerprints.json"),
        "--out", out]
    t0 = time.time()
    try:
        gated = a.workload in ("batch_sweep", "serve_point", "stream_ingest")
        code, stdout = run_bounded(java, RUN_TIMEOUT_S if gated else 1800, stdout=subprocess.PIPE,
                                   stderr=sys.stderr, text=True, cwd=work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(stdout)
        fail(f"run failed (exit {code}) after {time.time() - t0:.1f} s")
    if check:
        result = json.loads(lines[-1])
        problems = result["problems"] + names_vs_benchmark(result["emitted"])
        print(json.dumps({"selfcheck": not problems, "problems": problems,
                          "q35_ms": result["q35_ms"]}))
        sys.exit(1 if problems else 0)
    print(lines[-1])


def names_vs_benchmark(emitted):
    """Every workload must emit exactly the metrics BENCHMARK.json names,
    with the units it gives them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w, got in emitted.items():
        for key, section in (("end_to_end", "end_to_end"), ("per_layer", "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[section]}
            if got[key] != want:
                problems.append(f"{w} {key}: emitted {sorted(got[key].items())} "
                                f"!= BENCHMARK.json {sorted(want.items())}")
    return problems


if __name__ == "__main__":
    main()
