#!/usr/bin/env python3
"""graft benchmark: one closed-loop client per workload, Spark at local[nproc].

    python3 perfbench/run.py --workload {analytics,curation,migrate} \
        --seed N --seconds S --trace {0,1} [--sf 0.01]

Run from the repository root. The first run builds the program and the
harness from source (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. The tables (perfbench/data/sf<sf>, the
project's test data) are copied into a private run directory, which is
deleted afterwards; --seed draws the op order of each pass and the
migration set.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Every run also writes an artifact with the environment stamp,
every sample and (traced) every span to .perfbench/results/. The exit
code is nonzero when any output is wrong or any op fails.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """SHA-256 over every source and build file the build reads."""
    md = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        md.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            md.update(fh.read())
    return md.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(digest):
    """Compile with sbt unless the recorded build matches the sources."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                return cp_file
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    os.makedirs(WORK, exist_ok=True)
    log("building (first run in this checkout) ...")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = run_group(["sbt", "-batch", "writeClasspath"], BUILD_TIMEOUT_S,
                       cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"build failed (rc={rc}); see .perfbench/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp_file


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def oracle_check(data_dir, gate_dir):
    """Compare gate outputs with DuckDB via tools/check_oracle.py.

    Returns {op: None if equal else the failure line}.
    """
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(data_dir, gate_dir)
    out = {}
    for line in buf.getvalue().splitlines():
        m = re.match(r"^(OK|FAIL)\s+([A-Za-z0-9_]+)", line)
        if m:
            out[m.group(2)] = None if m.group(1) == "OK" else line
    return out


def clean_outside(cleanup_file):
    """Remove what the program left under /tmp for this run, as the JVM
    listed it when it started: the ledger state families keyed by the
    run's data dir, and the verification taps the workload's ops write."""
    if not os.path.exists(cleanup_file):
        return
    with open(cleanup_file) as fh:
        c = json.load(fh)
    for d in glob.glob(os.path.join(c["state_root"], "graft_*")):
        if c["state_key"] in os.path.basename(d):
            shutil.rmtree(d, ignore_errors=True)
    for t in c["taps"]:
        shutil.rmtree(os.path.join(c["tap_root"], t), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["analytics", "curation", "migrate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", choices=["0.01", "0.001"], default="0.01")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        sys.exit("no program sources under src/main/scala/graft; "
                 "run from the repository root")
    digest = source_digest()
    cp_file = build(digest)
    with open(cp_file) as fh:
        classpath = fh.read().strip()

    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    cleanup_file = os.path.join(run_dir, "cleanup.json")
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        # a private copy: the program keys its ledger state on the data
        # dir's path, so no other run shares this run's state
        shutil.copytree(os.path.join(HERE, "data", f"sf{a.sf}"), data_dir)
        result_file = os.path.join(run_dir, "result.json")
        # A fixed, pre-touched heap: no heap growth during the first
        # passes, and peak RSS then moves only with off-heap memory
        # (metaspace, code cache, threads, direct buffers).
        cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
        for p in JDK17_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={run_dir}/spark-local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}/derby",
            f"-Dderby.stream.error.file={run_dir}/derby/derby.log",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data_dir,
            "--run", run_dir, "--out", result_file,
            "--cleanup", cleanup_file]
        jvm_log = os.path.join(run_dir, "jvm.log")
        with open(jvm_log, "w") as out:
            rc = run_group(cmd, JVM_TIMEOUT_S, cwd=run_dir, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(result_file):
            with open(jvm_log, errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
            sys.exit(f"benchmark JVM failed (rc={rc})")
        with open(result_file) as fh:
            res = json.load(fh)

        oracle = oracle_check(data_dir, os.path.join(run_dir, "gate")) \
            if res["oracle_ops"] else {}
        bad = [f"oracle {op}: {oracle.get(op) or 'no comparison made'}"
               for op in res["oracle_ops"] if op not in oracle or oracle[op]]
        attempted = res["attempted"] + len(res["oracle_ops"])
        failed = res["failed"] + len(bad)
        errors = res["errors"] + bad
    finally:
        clean_outside(cleanup_file)
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    env = dict(res["env"], git_commit=git_commit(), source_sha256=digest,
               sf=a.sf)
    artifact = dict(res, env=env, attempted=attempted, failed=failed,
                    failed_frac=failed / attempted, errors=errors)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    art_path = os.path.join(
        WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art_path, "w") as fh:
        json.dump(artifact, fh)

    for e in errors:
        log(f"FAILED {e}")
    print(f"# workload={a.workload} seed={a.seed} passes={res['passes']} "
          f"traced_passes={res['traced_passes']} failed_frac="
          f"{failed / attempted:.4f} env={json.dumps(env, sort_keys=True)}")
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
