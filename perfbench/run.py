#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the benchmark from source,
runs one workload in a fresh JVM and prints the result object as the
last line of stdout.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. Everything it writes stays inside
the checkout: the build goes to $CARGO_TARGET_DIR (default .bench_build),
generated inputs and run records to .bench_data. Exit code 0 means a
result was printed; any other code means none was.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORKLOADS = ["relational", "corpus", "lifecycle", "dp1-etl"]
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home():
    """$SPARK_HOME, else the distribution that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    out = [os.path.join(HERE, "build.sh")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile unless the build directory already holds these sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources (src/main/scala) in this checkout")
        return None
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(ROOT, target, "perfbench")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    if not spark_home():
        log("no Spark distribution: set SPARK_HOME")
        return None
    log(f"building into {os.path.relpath(out, ROOT)}")
    if subprocess.run(["bash", os.path.join(HERE, "build.sh"), out], stdout=sys.stderr,
                      env=dict(os.environ, SPARK_HOME=spark_home())).returncode != 0:
        log("build failed")
        return None
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return out


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def heap():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
        return f"{max(2, min(4, kb // 2 // 1048576))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def run_jvm(build_dir, main, args, timeout=JVM_TIMEOUT_S):
    """Run one JVM in a private directory under .bench_data; return
    (exit code, stdout lines)."""
    data = os.path.join(ROOT, ".bench_data")
    run_dir = os.path.join(data, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    jars = os.path.join(spark_home(), "jars")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap()}", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(build_dir, "classes") + os.pathsep + os.path.join(jars, "*"),
            main] + args + ["--data", data, "--work", os.path.join(run_dir, "work"),
                            "--expected", os.path.join(HERE, "expected")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    err_path = os.path.join(data, "last-run.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            log(f"JVM exceeded {timeout}s and was stopped")
            proc.returncode = proc.returncode or 124
    shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    return proc.returncode, out.splitlines()


def result_line(lines):
    """The last stdout line, if it is a result object."""
    for line in reversed(lines):
        line = line.strip()
        if line:
            try:
                r = json.loads(line)
            except ValueError:
                return None
            keys = {"correct", "attempted", "failed", "metrics"}
            return r if isinstance(r, dict) and set(r) == keys else None
    return None


def run_workload(build_dir, workload, seed, seconds, trace, corrupt=""):
    record = os.path.join(ROOT, ".bench_data", "results",
                          f"{workload}-seed{seed}-trace{trace}.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--commit", git_commit(), "--record-file", record]
    if corrupt:
        args += ["--corrupt", corrupt]
    rc, lines = run_jvm(build_dir, "perfbench.Main", args)
    return (result_line(lines) if rc == 0 else None), record


def selftest(build_dir):
    """Benchmark tests: job-tag attribution under overlap and the
    final-Sort check (perfbench.SelfTest), then a relational run with
    one query's output deliberately corrupted, which must be reported."""
    rc, lines = run_jvm(build_dir, "perfbench.SelfTest", [])
    print("\n".join(lines))
    if rc != 0:
        log("SelfTest failed")
        return 1
    r, _ = run_workload(build_dir, "relational", 1, 1, 0, corrupt="q_join_inner")
    ok = r is not None and not r["correct"] and r["failed"] > 0
    rate = r["failed"] / r["attempted"] if r else None
    print(f"corrupted-output run: error_rate={rate} correct={r and r['correct']} -> "
          f"{'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


def record_expected(build_dir, workload):
    """Recompute the expected fingerprints of a query workload and write
    them to perfbench/expected/<workload>.json. Check the new values
    against the DuckDB oracle (tools/local_verify.py) before committing."""
    rc, lines = run_jvm(build_dir, "perfbench.Main",
                        ["--workload", workload, "--seed", "0", "--seconds", "1", "--record", "1"],
                        timeout=1800)
    if rc != 0 or not lines:
        return 1
    got = json.loads(lines[-1])
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", f"{workload}.json"), "w") as fh:
        json.dump(got, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true",
                    help="rewrite the expected fingerprints of --workload")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    build_dir = build()
    if build_dir is None:
        return 2
    if a.selftest:
        return selftest(build_dir)
    if a.record:
        return record_expected(build_dir, a.workload)
    r, record = run_workload(build_dir, a.workload, a.seed, a.seconds, a.trace)
    if r is None:
        log("no result")
        return 1
    log(f"run record: {os.path.relpath(record, ROOT)}")
    print(json.dumps(r))
    return 0


if __name__ == "__main__":
    sys.exit(main())
