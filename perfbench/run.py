#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source with sbt (``perfbench/build.sbt``) into
``.bench_build``; later runs reuse that build while the sources are
unchanged. Each run makes its inputs from the seed, runs the workload in
one JVM on local[<cpus>] (see ``Main.scala``), checks every output, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics (``--trace 1``), each with its unit. Progress, failures
and host-contention warnings go to stderr.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
ORACLE = os.path.join(BUILD, "oracle")
WORKLOADS = {"query_suite": None, "migrate": "migrate"}
HEAP = "3g"
BUILD_TIMEOUT_S = 480
ORACLE_TIMEOUT_S = 120
JVM_TIMEOUT_S = 168
# a run is flagged as contended above these shares of the machine's CPU time
STEAL_FLAG_PCT = 5.0
OUTSIDE_FLAG_PCT = 10.0
# the JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def build_sources():
    """every file the build reads, in a stable order"""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for here, dirs, names in os.walk(top):
            dirs.sort()
            files.extend(os.path.join(here, n) for n in sorted(names))
    return files


def build():
    """the run classpath, building first unless the sources are unchanged.
    A build compiles the engine and this program, then brings the oracle
    answers of the bench queries up to date."""
    digest = hashlib.sha256()
    for f in build_sources():
        digest.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n")[:2]
        if saved_stamp == stamp:
            return cp
    os.makedirs(BUILD, exist_ok=True)
    log("building the engine and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    build_log = os.path.join(BUILD, "build.log")
    with open(build_log, "w") as out:
        code, output = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, capture=True, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out)
    lines = [l for l in output.splitlines() if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        die("build failed (exit %s); see %s" % (code, build_log))
    cp = lines[-1].strip()
    oracle_answers(cp)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def oracle_answers(cp):
    """the DuckDB answers of the bench queries' oracle SQL, recomputed only
    when that SQL or the data changed"""
    os.makedirs(ORACLE, exist_ok=True)
    sql_file = os.path.join(ORACLE, "oracle_sql.json")
    if run_bounded(java_cmd(cp, ["perfbench.OracleDump", sql_file]), ORACLE_TIMEOUT_S,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL) != 0:
        die("could not list the oracle SQL")
    digest = hashlib.sha256()
    for f in [sql_file] + sorted(os.path.join(DATA, n) for n in os.listdir(DATA)):
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp_file = os.path.join(ORACLE, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest.hexdigest():
        return
    log("computing the oracle answers with DuckDB")
    for n in os.listdir(ORACLE):
        if n.endswith(".parquet"):
            os.remove(os.path.join(ORACLE, n))
    import checks
    checks.oracle_answers(sql_file, DATA, ORACLE)
    with open(stamp_file, "w") as f:
        f.write(digest.hexdigest())


def run_bounded(cmd, timeout, capture=False, **kw):
    """run cmd in its own process group; on timeout, or when this process
    is told to stop, kill the whole group and wait for it. Returns the exit
    code, or (code, stdout) with capture."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True,
                            text=capture, **kw)

    def stop(signum, frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("stopped by signal %d" % signum, 1)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        log("%s timed out after %d s" % (cmd[0], timeout))
        return (124, out or "") if capture else 124
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return (proc.returncode, out or "") if capture else proc.returncode


def cpu_times():
    """(total, busy, steal) clock ticks of the whole machine so far"""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    total = sum(v)
    return total, total - v[3] - v[4] - v[7], v[7]


def own_ticks():
    tck = os.sysconf("SC_CLK_TCK")
    return sum((r.ru_utime + r.ru_stime) * tck for r in
               (resource.getrusage(resource.RUSAGE_SELF), resource.getrusage(resource.RUSAGE_CHILDREN)))


def load1():
    with open("/proc/loadavg") as f:
        return f.read().split()[0]


def host_report(before, after, own, load_before):
    """steal and outside load during the run, as shares of the machine's
    CPU time; warns on stderr when either is high"""
    total = max(after[0] - before[0], 1)
    steal_pct = 100.0 * (after[2] - before[2]) / total
    outside_pct = 100.0 * max(after[1] - before[1] - own, 0) / total
    if steal_pct > STEAL_FLAG_PCT or outside_pct > OUTSIDE_FLAG_PCT:
        log("CONTENDED RUN: steal %.1f%%, other processes %.1f%% of the machine's CPU time "
            "(load1 %s before, %s after); its timings are suspect"
            % (steal_pct, outside_pct, load_before, load1()))
    return {"host.steal_pct": steal_pct, "host.outside_cpu_pct": outside_pct}


def java_cmd(cp, main_args, tmp=None):
    """a JVM with a fixed, pre-touched heap, its temporary files under tmp"""
    home = os.environ.get("JAVA_HOME")
    cmd = [os.path.join(home, "bin", "java") if home else "java"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", p)]
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if tmp:
        cmd += ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp]
    return cmd + ["-cp", cp] + main_args


def run_jvm(cp, args, run_dir, cpus):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "record.json")
    spans = os.path.join(BUILD, "traces", "%s-seed%d.jsonl" % (args.workload, args.seed))
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cmd = java_cmd(cp, [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
        "--data", DATA, "--work", run_dir, "--out", out, "--spans", spans], tmp)
    jvm_log = os.path.join(run_dir, "jvm.log")
    t0 = time.monotonic()
    with open(jvm_log, "w") as logf:
        code = run_bounded(cmd, JVM_TIMEOUT_S, stdout=logf, stderr=subprocess.STDOUT)
    wall = time.monotonic() - t0
    if code != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die("benchmark JVM failed (exit %s)" % code, 1)
    with open(out) as f:
        record = json.load(f)
    # the root span covers the run from its first set-up to its last pass;
    # what it misses is JVM start-up and shutdown
    record["coverage"] = record["run_s"] / wall
    return record


def remove_abandoned_runs():
    """delete the inputs and outputs of runs whose process was killed"""
    runs = os.path.join(BUILD, "runs")
    for d in os.listdir(runs) if os.path.isdir(runs) else []:
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (ProcessLookupError, ValueError):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        die("no BENCHMARK.json at " + ROOT)
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die("the engine sources are missing (%s); run from a full checkout" % need)
    with open(spec_file) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    cp = build()
    cpus = len(os.sched_getaffinity(0))
    seed = args.seed
    remove_abandoned_runs()
    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (args.workload, seed, os.getpid()))
    os.makedirs(run_dir)
    try:
        import gen
        import checks
        kind = WORKLOADS[args.workload]
        if kind:
            gen.generate(kind, seed, os.path.join(run_dir, "tree"))
            gen.generate("warmup", seed, os.path.join(run_dir, "warmup"))
        before, own0, load0 = cpu_times(), own_ticks(), load1()
        record = run_jvm(cp, args, run_dir, cpus)
        host = host_report(before, cpu_times(), own_ticks() - own0, load0)

        attempted, failed = record["attempted"], record["failed"]
        problems = list(record["problems"])
        extra = (checks.oracle(os.path.join(run_dir, "results"), ORACLE) if not kind
                 else checks.landed_tree(os.path.join(run_dir, "tree")))
        attempted, failed = attempted + extra[0], failed + extra[1]
        problems += extra[2]
        for p in problems:
            log("FAILED: " + p)

        if args.trace:
            values = dict(record["layers"])
            values.update(host)
            values["failed_ratio"] = failed / max(attempted, 1)
            values["trace.coverage_ratio"] = record["coverage"]
        else:
            values = dict(record["e2e"])
        if set(values) != set(units):
            die("metric names differ from BENCHMARK.json: printed-only %s, declared-only %s"
                % (sorted(set(values) - set(units)), sorted(set(units) - set(values))), 3)
        log("%s seed %d: %d passes, %d checks, %d failed"
            % (args.workload, seed, record["passes"], attempted, failed))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }), flush=True)


if __name__ == "__main__":
    main()
