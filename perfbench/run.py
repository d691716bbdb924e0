#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark with sbt when their sources changed since
the last build (the build output and a fingerprint of its inputs are kept
under `.bench_build/perfbench`), then runs `perfbench.Main` in one JVM with a
fixed heap and a fixed `local[n]` engine. Spark and sbt log to stderr. The
last line on stdout is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`). Exits non-zero, printing no result, when the engine's sources
are missing, the build fails, or a correctness check fails.
"""
import argparse
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(OUT, "classpath.txt")
WORKLOADS = ("expand", "expand_json", "expand_stream", "clean_docs", "ann_search")
# A fixed heap and young generation, with adaptive sizing off, so every run
# collects on the same heap layout. C1 only: the C2 tier needs 20-45 s of
# Spark activity to converge, longer than a run, so under it timed passes kept
# speeding up through the whole run and the run-to-run spread of the
# end-to-end metrics was 10-17%; with C1 the passes after the warm-up are flat.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn600m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:TieredStopAtLevel=1"]
RUN_TIMEOUT_S = 170
RESULT_PREFIX = "PERFBENCH_RESULT "

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first if any input changed."""
    want = fingerprint()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            have, cp = (fh.read().split("\n") + [""])[:2]
        if have == want and cp:
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("sbt printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(want + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the engine's sources (build.sbt, src/main/scala) are not in this checkout")

    cp = build()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_OPTS, f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", os.path.join(OUT, "work")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    result = [l for l in out.splitlines() if l.startswith(RESULT_PREFIX)]
    sys.stderr.write("".join(l + "\n" for l in out.splitlines() if not l.startswith(RESULT_PREFIX)))
    if proc.returncode != 0 or not result:
        fail(f"run failed (exit {proc.returncode})", proc.returncode or 1)
    print(result[-1][len(RESULT_PREFIX):], flush=True)


if __name__ == "__main__":
    main()
