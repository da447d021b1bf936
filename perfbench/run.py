#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
driver (sbt, offline) into .bench_build/; later runs reuse the build while
the sources are unchanged. Every run writes its full record to
.bench_build/artifacts/<workload>_c<cpus>_<host>_s<seed>_t<trace>.json and
prints one JSON object with the keys correct, attempted, failed and metrics.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import locale
import os
import platform
import shutil
import signal
import socket
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
DRIVER_SRC = os.path.join(BENCH, "src")

WORKLOADS = ("serve_mixed", "analytics")
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "light_p50_ms": "ms", "heavy_p50_ms": "ms"}
PER_LAYER = {
    "exec.jobs_per_op": "count", "exec.tasks_per_op": "count", "exec.task_ms_per_op": "ms",
    "exec.driver_ms_per_op": "ms", "exec.shuffle_bytes_per_op": "B", "exec.spill_bytes": "B",
    "exec.core_util": "ratio", "plans.planning_ms_per_op": "ms", "plans.queries_per_op": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms", "jvm.gc_ms_per_op": "ms",
    "store.files_read_per_op": "count", "store.space_amp": "ratio",
    "store.bytes_written_per_user_byte": "ratio", "store.files_written_per_write": "count",
    "operators.jobs_per_query": "count", "operators.storage_mb_peak": "MB",
    "jvm.heap_live_mb": "MB", "trace.ops_per_s": "1/s",
}
# Variables that change a plan's shape or the query set; a run under any of
# them would not measure the program as shipped.
PLAN_VARS = ("GRAFT_AB", "GRAFT_CC_DEBUG", "SPARK_GRAFT_CONF", "SPARK_GRAFT_ONLY")
SUMMARY_LIMIT = 1536
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """A run that cannot produce a result; exits nonzero without a summary."""


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=seed_arg)
    p.add_argument("--seconds", required=True, type=positive_int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def seed_arg(s):
    if not s.isdigit():
        raise argparse.ArgumentTypeError(f"seed must be a non-negative integer, not {s!r}")
    return int(s)


def positive_int(s):
    if not s.isdigit() or int(s) < 1:
        raise argparse.ArgumentTypeError(f"expected a positive whole number, not {s!r}")
    return int(s)


def check_env(env):
    bad = [v for v in PLAN_VARS if env.get(v)]
    if bad:
        raise BenchError(f"refusing to run: plan-changing variable(s) set: {', '.join(bad)}; "
                         "unset them to measure the program as built")


def source_files():
    files = []
    for base in (PROGRAM_SRC, DRIVER_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile program + driver with sbt (offline) unless the stamp matches."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BenchError(f"program sources not found under {PROGRAM_SRC}; "
                         "run from the root of a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and read(stamp_file) == stamp:
        return read(cp_file).strip()
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found on PATH")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx1536m", "-Dsbt.server.forcestart=false",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return read(cp_file).strip()


def spark_home():
    """The Spark distribution the engine compiles against: SPARK_HOME, else
    the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark distribution found: set SPARK_HOME")
    return home


def read(path):
    with open(path) as fh:
        return fh.read()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group and wait."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise BenchError(f"{cmd[0]} did not finish within {timeout}s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def git_commit():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def environment(args, cpus):
    return {
        "cpus": cpus, "host": socket.gethostname(), "platform": platform.platform(),
        "python": platform.python_version(), "locale": locale.setlocale(locale.LC_ALL, None),
        "lang": os.environ.get("LANG", ""), "commit": git_commit(),
        "sources_sha256": read(os.path.join(BUILD, "build.stamp")), "seed": args.seed,
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
    }


def summary(correct, attempted, failed, metrics):
    line = json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": metrics}, separators=(",", ":"), allow_nan=False)
    if len(line.encode()) > SUMMARY_LIMIT:
        raise BenchError(f"summary line is {len(line)} bytes, over the {SUMMARY_LIMIT}-byte limit")
    return line


def main(argv):
    args = parse_args(argv)
    check_env(os.environ)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    host = "".join(c if c.isalnum() or c in "-_." else "_" for c in socket.gethostname())
    key = f"{args.workload}_c{cpus}_{host}_s{args.seed}_t{args.trace}"
    classpath = build()

    work = os.path.join(BUILD, "runs", f"{key}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    try:
        # a fixed, pre-touched heap: heap growth during the run adds GC noise
        jvm = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Duser.language=en",
               "-Duser.country=US", "-Duser.timezone=UTC", "-Dlog4j2.level=ERROR"]
        for o in JDK_OPENS:
            jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd = jvm + ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
                     "--seed", str(args.seed), "--seconds", str(args.seconds),
                     "--trace", str(args.trace), "--work", work, "--out", out, "--cpus", str(cpus)]
        gen_s = 0.0
        if args.workload == "analytics":
            data = os.path.join(work, "data")
            t0 = time.monotonic()
            gen.write_tables(data, args.seed)
            gen_s = time.monotonic() - t0
            cmd += ["--data", data]
        t0 = time.monotonic()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            rc = run_child(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        jvm_s = time.monotonic() - t0
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise BenchError(f"benchmark JVM failed (exit {rc})")
        rec = json.loads(read(out))
        failures = list(rec["failures"])
        failed = int(rec["failed"])
        if args.workload == "analytics":
            t0 = time.monotonic()
            bad = oracle.check(os.path.join(work, "data"), rec["results_dir"], rec["oracle_sql"])
            rec["oracle_s"] = time.monotonic() - t0
            failures += [f"oracle: {b}" for b in bad]
            failed += len(bad)
            rec["oracle_failures"] = bad
            rec["gen_s"] = gen_s
        rec["environment"] = environment(args, cpus)
        rec["jvm_s"] = jvm_s
        attempted = int(rec["attempted"])
        rec["failed_frac"] = failed / max(1, attempted)
        names = PER_LAYER if args.trace else END_TO_END
        src = rec["per_layer"] if args.trace else rec
        metrics = {n: {"value": float(src[n]), "unit": u} for n, u in names.items()}
        correct = failed == 0 and attempted > 0
        art_dir = os.path.join(BUILD, "artifacts")
        os.makedirs(art_dir, exist_ok=True)
        art = os.path.join(art_dir, key + ".json")
        rec["failures"], rec["failed"] = failures[:50], failed
        with open(art, "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True, allow_nan=False)
        for f in failures[:10]:
            sys.stderr.write(f"FAILED {f}\n")
        sys.stderr.write(f"record: {os.path.relpath(art, ROOT)}\n")
        line = summary(correct, attempted, failed, metrics)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    # a terminated run still stops its children (run_child kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
