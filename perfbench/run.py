#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload etl-star --seed 1 --seconds 8 --trace 0

Run it from the repository root. The first run in a checkout compiles the
repository's `src/main` together with the harness under `perfbench/src`
(sbt, offline) into `.bench_build/`; later runs reuse that build while the
sources are unchanged. The harness JVM gets a fixed 4 GiB heap and keeps
every file it writes under `.bench_build/`.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl-star", "olap-curation")
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def source_digest():
    h = hashlib.sha256()
    for path in sorted(source_files()):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles once per source digest; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    # keep sbt's scratch files in the checkout; every JVM it starts skips
    # the perf-data file it would otherwise create under the system tmpdir
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=sbt_tmp,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        f"-Djava.io.tmpdir={sbt_tmp}", f"-Djna.tmpdir={sbt_tmp}",
        f"-Dsbt.global.base={BUILD}/sbt-global", "-Xmx2g"]).strip()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    with open(log_path, "a") as log:
        log.write(proc.stdout)
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {proc.returncode}); see {log_path}", 3)
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--write-expected", action="store_true",
                    help="rewrite perfbench/expected/*.tsv from the current program")
    ap.add_argument("--survey", action="store_true",
                    help="measure every query olap-curation draws from into perfbench/survey.tsv")
    a = ap.parse_args()
    tool = "write-expected" if a.write_expected else "survey" if a.survey else None
    if not tool and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    digest = source_digest()
    classpath = build(digest)

    name = tool or f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
        "-Dspark.ui.enabled=false",
        f"-Dperfbench.home={BENCH}",
        f"-Dperfbench.work={work}",
        f"-Dperfbench.commit={git_commit()}",
        "-cp", classpath,
    ]
    if a.write_expected:
        cmd += ["perfbench.Expected"]
    elif a.survey:
        cmd += ["perfbench.Survey", os.path.join(BENCH, "survey.tsv")]
    else:
        cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    log_path = os.path.join(BUILD, "logs", f"{name}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=tmp),
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=None if tool else RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}", 4)
    shutil.rmtree(work, ignore_errors=True)
    if tool:
        sys.exit(proc.returncode)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out)
        fail(f"harness exited {proc.returncode}; log in {log_path}", 5)
    env, result = json.loads(lines[-2]), json.loads(lines[-1])
    env["env"]["source_sha256"] = digest
    env["env"]["process_s"] = round(time.time() - t0, 3)
    with open(os.path.join(BUILD, "results.jsonl"), "a") as f:
        f.write(json.dumps({**env, **result}) + "\n")
    print(json.dumps(env))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
