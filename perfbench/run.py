"""The repository's benchmark: builds the program from source, runs one
workload in a JVM, checks its outputs and prints the result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads and metrics are listed in BENCHMARK.json and perfbench/README.md.
A per-run artifact with provenance (and, traced, the per-query layer split)
is written to .bench_build/out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["ingest_json_small_chunks", "queries"]
JVM_TIMEOUT_S = 170
# the options build.sbt gives forked runs (JDK 17 module opens for Spark)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classes, jars, work, main_args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData"] + opens + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dgraft.log.dir={os.path.join(work, 'logs')}",
        f"-Dderby.system.home={work}",
        "-cp", build.classpath(classes, jars), "graftbench.Main"] + main_args)


def git_commit():
    """HEAD of the repository, when the checkout is one."""
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() or "none"


def run_jvm(cmd, timeout_s):
    """Run the JVM, echo its output, return (exit code, RESULT payload)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    killed = threading.Event()

    def kill():
        killed.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    timer = threading.Timer(timeout_s, kill)
    timer.start()
    # a terminated benchmark takes its JVM with it
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: (kill(), sys.exit(130)))
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = line[len("RESULT "):].strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if killed.is_set():
        print(f"run: JVM killed after {timeout_s} s", file=sys.stderr)
        return 124, None
    return code, result


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    # smoke-test and maintenance modes (perfbench/smoke.py, README.md)
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-fingerprint", type=int, choices=[0, 1], default=0,
                    help=argparse.SUPPRESS)
    ap.add_argument("--record-fingerprints", help=argparse.SUPPRESS)
    a = ap.parse_args(argv)

    classes, sid = build.build()
    jars = build.spark_jars()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.BUILD_DIR, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(build.BUILD_DIR, "out", f"{tag}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    main_args = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--root", build.ROOT, "--work", work, "--out", out,
                 "--source-id", sid, "--git-commit", git_commit(), "--smoke", str(a.smoke),
                 "--corrupt-fingerprint", str(a.corrupt_fingerprint)]
    if a.record_fingerprints:
        main_args += ["--record", os.path.abspath(a.record_fingerprints)]
    try:
        code, result = run_jvm(jvm_command(classes, jars, work, main_args), JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.record_fingerprints:
        return code
    if result is None:
        print(f"run: no result (JVM exit {code})", file=sys.stderr)
        return code or 1
    json.loads(result)
    print(result)
    return code


if __name__ == "__main__":
    sys.exit(main())
