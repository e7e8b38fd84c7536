#!/usr/bin/env python3
"""Run one benchmark measurement from the root of a checkout.

    python3 perfbench/run.py --workload <etl_refresh|ops_mix>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt whenever the
sources differ from the last build's (the classpath is cached under
perfbench/target, keyed by a hash of the sources), then runs one JVM in a
fresh work directory under .perfbench/ and prints the result as the last
line of standard output:

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

Each run also appends a record (source hash, fixture fingerprint,
contention canaries, sample counts, set-up times) to .perfbench/runs.jsonl.
Exits non-zero, without printing a result, when anything fails.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(BENCH, "target", "perfbench-classpath.json")
STATE = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (PROGRAM_SRC, os.path.join(BENCH, "src", "main", "scala")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")
    yield os.path.join(ROOT, "build.sbt")  # perfbench/build.sbt reads its jar directory


def source_hash():
    """A hash over the path and content of every source the build reads."""
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def git_commit():
    """The checkout's git commit, or None outside a git repository."""
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    if sha.returncode != 0 or not sha.stdout.strip():
        return None
    return sha.stdout.strip()


def build(src_hash):
    """Compile with sbt unless the cached classpath was built from `src_hash`."""
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            cached = json.load(f)
        if cached.get("source") == src_hash:
            return cached["classpath"]
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Xmx2g")
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={os.path.join(STATE, 'tmp')}"
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise RuntimeError(f"sbt build failed (exit {out.returncode})")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        json.dump({"source": src_hash, "classpath": classpath}, f)
    return classpath


def heap_size():
    """Half the machine's memory, between 2 and 6 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{max(2, min(6, kb // (2 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def java_command(classpath, work, main_class, args):
    """The environment and command line of a benchmark JVM for `work`."""
    env = dict(os.environ)
    # nothing of an earlier run is visible: models, Spark's local dirs and temp
    # files all live in this run's own directory, deleted afterwards
    env["GRAFT_MODEL_DIR"] = os.path.join(work, "models")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{heap_size()}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", f"-Dperfbench.dir={BENCH}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, main_class] + args)
    return env, cmd


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_refresh", "ops_mix"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        log(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}; "
            "run from the root of a checkout")
        return 2
    src_hash = source_hash()
    classpath = build(src_hash)

    work = os.path.join(STATE, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    result = os.path.join(work, "result.json")
    record = os.path.join(work, "record.json")
    env, cmd = java_command(classpath, work, "graft.perfbench.Main",
                            ["--workload", args.workload, "--seed", str(args.seed),
                             "--seconds", str(args.seconds), "--trace", args.trace,
                             "--work", work, "--result", result, "--record", record])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, _frame):
        # the JVM must not outlive this script
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        code = -1
    try:
        if code != 0 or not os.path.exists(result):
            log(f"run failed (exit {code})")
            return 1
        with open(result) as f:
            line = f.read().strip()
        json.loads(line)
        if os.path.exists(record):
            with open(record) as f:
                rec = json.load(f)
            # the hash names the code that ran; the tree may differ from the
            # commit, when there is one
            rec["source"] = src_hash
            rec["git_commit"] = git_commit()
            with open(os.path.join(STATE, "runs.jsonl"), "a") as f:
                f.write(json.dumps(rec, sort_keys=True) + "\n")
            log("record " + json.dumps({k: rec[k] for k in sorted(rec) if k != "sample"}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
