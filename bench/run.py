#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 bench/run.py --workload mix_sf01 --seed 1 --seconds 20 --trace 0

Builds the harness (bench/build.sbt, which compiles the engine's sources
with it), makes the inputs once, runs one workload in one JVM and prints
the harness's result: a `host` line, a `summary` line and, last, one JSON
object with `correct`, `attempted`, `failed` and `metrics`.

Everything it writes stays under bench/: the sbt build (bench/target),
the generated inputs (bench/.data) and the JVM's working directory,
scratch and trace files (bench/.work).

Maintenance modes, run from the repository root:
    python3 bench/run.py --selftest    # a corrupted output must be caught
    python3 bench/run.py --establish   # re-derive bench/expected/sf0.1.json
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graftbench.stamp")
DATA = os.path.join(BENCH, ".data")
WORK = os.path.join(BENCH, ".work")
SEED_DATA = os.path.join(BENCH, "data", "sf0.01")
SF01 = os.path.join(DATA, "sf0.1")
EXPECTED = os.path.join(BENCH, "expected", "sf0.1.json")
WORKLOADS = ("mix_sf01", "dca_batch")
# the runs' own deadline; the first run of a checkout also builds
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def run(cmd, cwd, timeout, env=None, capture=False):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return digest
    log("building the harness and the engine (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t = time.time()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc, _ = run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "-J-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={tmp}", "compile"], BENCH, BUILD_LIMIT_S, env)
    if rc != 0:
        sys.exit(f"[bench] build failed (exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t:.1f} s")
    return digest


def java_cmd(main, args, heap):
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        "-cp", os.pathsep.join([CLASSES, jars]), main] + args)


def child_env(commit=""):
    # shuffle and spill files stay inside the checkout
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "tmp"),
                SPARK_GRAFT_CPUS=str(os.cpu_count()), GRAFTBENCH_COMMIT=commit)


def make_inputs():
    """The sf0.1-sized input: graft.tools.ScaleUp x10 of the vendored sf0.01
    tables. Made once per checkout; its time is logged, not measured."""
    done = os.path.join(SF01, "_COMPLETE")
    if os.path.exists(done):
        return
    shutil.rmtree(SF01, ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    t = time.time()
    rc, _ = run(java_cmd("graft.tools.ScaleUp", [SEED_DATA, SF01, "10"], "2g"),
                WORK, BUILD_LIMIT_S, child_env())
    if rc != 0:
        sys.exit(f"[bench] input generation failed (exit {rc})")
    open(done, "w").close()
    log(f"generated {SF01} in {time.time() - t:.1f} s")


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"none (sources sha256 {digest[:16]})"


def harness(workload, seed, seconds, trace, digest, extra=(), deadline=RUN_LIMIT_S):
    """Run the harness JVM; return its stdout lines (result last) or exit."""
    os.makedirs(WORK, exist_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", SF01,
            "--expected", EXPECTED,
            "--trace-out", os.path.join(WORK, f"trace-{workload}-{seed}.json")] + list(extra)
    rc, out = run(java_cmd("graftbench.Main", args, "3g"), WORK, deadline,
                  child_env(commit_id(digest)), capture=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit(f"[bench] harness failed (exit {rc})")
    return lines


def prepare():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit("[bench] engine sources not found next to bench/: run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        sys.exit("[bench] SPARK_HOME is not set")
    digest = build()
    make_inputs()
    return digest


def selftest():
    """Wrong values with the right row count (a query's digest; a DcaFrame
    op's whole-batch LocalDca check) and a damaged collectLocal result (the
    prefix twin check) must each fail an op."""
    digest = prepare()
    ok = True
    for workload, op in (("mix_sf01", "q1_agg"), ("dca_batch", "mask"),
                         ("dca_batch", "local")):
        lines = harness(workload, 1, 0, 0, digest, ["--corrupt", op])
        res = json.loads(lines[-1])
        host = json.loads(next(l for l in lines if l.startswith("host "))[5:])
        caught = not res["correct"] and res["failed"] >= 1
        log(f"selftest {workload}: corrupted {op} -> failed ops {host['failed_ops']} "
            f"({'caught' if caught else 'MISSED'})")
        ok &= caught
    return 0 if ok else 1


def establish():
    """Record the mix_sf01 digests and keep those that are the same in two
    JVMs and whose outputs match the DuckDB oracle (tools/check_oracle.py)."""
    digest = prepare()
    recs = []
    for i in range(2):
        f = os.path.join(WORK, f"record-{i}.json")
        harness("mix_sf01", i + 1, 0, 0, digest, ["--record", f])
        with open(f) as fh:
            recs.append(json.load(fh))
    names = sorted(recs[0])
    out = os.path.join(WORK, "verify")
    shutil.rmtree(out, ignore_errors=True)
    run(java_cmd("graft.tools.VerifySome", [SF01, out] + names, "3g"), WORK, 900, child_env())
    _, txt = run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), SF01, out]
                  + names, ROOT, 900, capture=True)
    sys.stderr.write(txt)
    passed = {l.split()[1] for l in txt.splitlines() if l.startswith("[PASS]")}
    expected = {}
    for n in names:
        seen = {d for r in recs for d in r.get(n, [])}
        if n in passed and len(seen) == 1:
            expected[n] = seen.pop()
        else:
            log(f"establish: {n} not recorded (oracle pass={n in passed}, digests={sorted(seen)})")
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"wrote {len(expected)}/{len(names)} digests to {EXPECTED}")
    return 0 if len(expected) == len(names) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--establish", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.establish:
        return establish()
    if not a.workload:
        ap.error("--workload is required")
    t0 = time.time()
    digest = prepare()
    # a run that had to build or make inputs first may take longer
    limit = RUN_LIMIT_S if time.time() - t0 < 10 else FIRST_RUN_LIMIT_S
    lines = harness(a.workload, a.seed, a.seconds, a.trace, digest,
                    deadline=max(30, limit - (time.time() - t0)))
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
