#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 16 --trace 0

Run from the root of a source checkout. Builds the program and the harness
from source on first use (into `.bench_build/`), generates the seeded inputs
(into `.bench_data/`, cached per seed), runs the workload in a fresh JVM on
`local[nproc]` as one closed-loop client, checks every output, and prints
each metric by name and unit.  The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` holding the end-to-end
metrics (`--trace 0`) or the per-layer metrics of a traced run (`--trace 1`).
Exits non-zero, without a result line, if the program cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]
JVM_TIMEOUT_S = 150  # a run, build excluded, must end within 180 s
# Untimed warm-up passes in the set-up. After a single one, op latencies
# still fell pass by pass (s15 on a 4-core host: 4.4, 3.5, 2.6 s).
WARMUPS = 2
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def other_graft_jvms():
    """PIDs of live JVMs running a graft main or this harness."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            argv = open(f"/proc/{pid}/cmdline", "rb").read().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java") and any(
                a.startswith(b"graft.") or a == b"perfbench.Harness" for a in argv):
            found.append(int(pid))
    return found


def spark_jars():
    """Spark's jar directory: the root build's `unmanagedBase`, where the
    program's own build takes Spark from; else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    return os.environ.get("SPARK_HOME") and os.path.join(os.environ["SPARK_HOME"], "jars")


def sources_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")]
    for top in tops:
        for d, dirs, files in os.walk(top):  # top-down: the pruning below applies
            dirs[:] = sorted(x for x in dirs if x not in ("target", ".bsp"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    h.update(open(p, "rb").read())
    return h.hexdigest()


def build(jars):
    """Compile program + harness with sbt unless the sources are unchanged."""
    classes = os.path.join(BUILD, "harness", "scala-2.13", "classes")
    stamp = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_JARS=jars, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.server.autostart=false", "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")]))
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=os.path.join(HERE, "harness"), env=env, stdout=log,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=800).returncode
    if rc != 0:
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def cached(kind, seed, make):
    """Directory holding the generated input for (kind, seed); made once."""
    d = os.path.join(DATA, "inputs", f"{kind}-{seed}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        make(d)
        open(os.path.join(d, "DONE"), "w").close()
    # keep the cache small: the six most recently used inputs
    root = os.path.join(DATA, "inputs")
    os.utime(d)
    for old in sorted(os.listdir(root), key=lambda x: -os.path.getmtime(os.path.join(root, x)))[6:]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return d


def pass_orders(workload, seed, passes):
    """The seeded op order of each pass (the same for traced and untraced)."""
    ops = WORKLOADS[workload]["ops"]
    out = []
    for p in range(passes):
        o = list(ops)
        random.Random(f"{seed}/{workload}/{p}").shuffle(o)
        out.append(o)
    return out


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:9]]
    return f[7], sum(f)


def run_jvm(classes, jars, args, run_dir, budget_s):
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dspark.local.dir=" + os.path.join(run_dir, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd.append(f"spawn_ns={time.time_ns()}")
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the JVM did not finish within {budget_s:.0f} s")
    if rc != 0:
        fail(f"the JVM exited with {rc} (see {os.path.join(run_dir, 'jvm.log')})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the root of a graft source checkout")
    jars = spark_jars()
    if shutil.which("java") is None or shutil.which("sbt") is None or not jars \
            or not os.path.isdir(jars):
        fail("java, sbt and Spark's jars (the root build's unmanagedBase or SPARK_HOME) are required")
    others = other_graft_jvms()
    if others:
        fail(f"another graft JVM is running (pid {others}); refusing to measure")
    wl = WORKLOADS[a.workload]
    classes = build(jars)
    t_built = time.time()  # only the first run in a checkout builds

    if wl["kind"] == "table":
        inp = cached(f"tables-sf{wl['sf']}", a.seed, lambda d: gen.tables(d, a.seed, wl["sf"]))
        input_bytes = sum(os.path.getsize(os.path.join(inp, f"{t}.parquet")) for t in wl["tables"])
        jvm_input = inp
    else:
        inp = cached(f"corpus-{wl['tokens']}", a.seed,
                     lambda d: gen.corpus(d, a.seed, wl["tokens"], wl["vocab"]))
        jvm_input = os.path.join(inp, "corpus.txt")
        input_bytes = os.path.getsize(jvm_input)
    cores = os.cpu_count() or 1
    runs = os.path.join(DATA, "runs")
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # keep the run directories small: the six most recent
    for old in sorted(os.listdir(runs), key=lambda x: -os.path.getmtime(os.path.join(runs, x)))[6:]:
        shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    # A fixed number of timed passes, about --seconds of wall time on a
    # 4-core host: a pass count that varied with host speed would vary the
    # JIT warmth of the median pass from run to run.
    passes = max(1, round(a.seconds / wl["pass_s"]))
    orders = pass_orders(a.workload, a.seed, WARMUPS + passes)
    with open(os.path.join(run_dir, "orders.txt"), "w") as f:
        f.write("\n".join(",".join(o) for o in orders) + "\n")
    steal0, total0 = cpu_ticks()
    run_jvm(classes, jars, {
        "kind": wl["kind"], "input": jvm_input,
        "orders": os.path.join(run_dir, "orders.txt"), "out": run_dir,
        "warmups": WARMUPS, "passes": passes, "trace": a.trace, "cores": cores,
        "calib": os.path.join(DATA, "calib")}, run_dir, JVM_TIMEOUT_S - (time.time() - t_built))
    art = json.load(open(os.path.join(run_dir, "artifact.json")))
    t_jvm = time.time()
    steal1, total1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)  # other tenants' share of this host

    # Output checks: they decide `correct` and count toward `failed`.
    if wl["kind"] == "table":
        written = art["check"]["ops"]  # the pass that wrote parquet
        bad = checks.oracle_check(inp, os.path.join(run_dir, "check"),
                                  {o["name"]: art["oracles"][o["name"]] for o in written if o["ok"]})
        bad.update({o["name"]: "check pass threw: " + o["error"] for o in written if not o["ok"]})
        op_bad = lambda op: bad.get(op["name"])  # noqa: E731
    else:
        counts = json.load(open(os.path.join(inp, "counts.json")))
        expected = checks.expected_listing(counts)
        op_bad = lambda op: (  # noqa: E731
            checks.wordcount_check(os.path.join(run_dir, "wc", op["job"]), op["job"],
                                   cores, counts, expected)
            or checks.eventlog_check(os.path.join(run_dir, f"{op['job']}-log.out")))
    res = metrics.summarize(art, op_bad, a.trace == 1, cores, input_bytes, run_dir, a.workload)
    res["artifact"].update(workload=a.workload, seed=a.seed, cores=cores,
                           input_bytes=input_bytes, host_steal_frac=steal,
                           orders={"warmup": orders[:WARMUPS], "timed": orders[WARMUPS:]})
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(res["artifact"], f, indent=1)
    for line in res["report"]:
        print(line)
    print(f"# wall {time.time() - t_start:.1f} s (JVM done at {t_jvm - t_start:.1f} s); "
          f"CPU steal by other tenants {100 * steal:.1f}%")
    print(json.dumps(res["line"]))


if __name__ == "__main__":
    main()
