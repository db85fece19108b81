#!/usr/bin/env python3
"""Run one benchmark workload (or all of them) against the engine in this checkout.

    python3 benchmark/run.py --workload medallion --seed 1 --seconds 5 --trace 0
    python3 benchmark/run.py --workload all --seed 1     # every workload, summary table

The first run builds the engine and the harness from source with sbt (the
benchmark's own build in this directory, which depends on the repository's
root build) and caches the runtime classpath under benchmark/target/. Each
run then starts one JVM. Its last stdout line is the result object:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the run also
writes its spans to benchmark/target/spans-<workload>-<seed>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
WORKLOADS = ["medallion", "contract_curation", "contract_relational"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build compiles, so edits trigger a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build():
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    log("building engine and harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    sys.stderr.write(out[-4000:])
    if code != 0:
        sys.exit(f"build failed (sbt exit {code})")
    cp = [l for l in out.splitlines() if os.pathsep in l and l.strip().endswith(".jar")]
    if not cp:
        sys.exit("build produced no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_workload(cp, workload, seed, seconds, trace, record_digests=False):
    work = os.path.join(TARGET, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # no hsperfdata file: the JVM would write it to /tmp, outside the checkout
        "-Xms1g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--cores", str(cores()),
        "--bench-dir", HERE, "--work", work] + (["--record-digests", "1"] if record_digests else [])
    code, out = run_child(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if trace and os.path.isfile(os.path.join(work, "spans.json")):
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(TARGET, f"spans-{workload}-{seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    return code, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="write this run's contract result digests to benchmark/digests/")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("engine sources (src/main/scala/graft) not found next to the benchmark")
    cp = build()

    if a.workload != "all":
        code, result = run_workload(cp, a.workload, a.seed, a.seconds, a.trace, a.record_digests)
        if result is None:
            sys.exit(f"{a.workload}: no result (exit {code})")
        print(json.dumps(result), flush=True)
        sys.exit(code)

    ok = True
    rows = []
    for w in WORKLOADS:
        code, result = run_workload(cp, w, a.seed, a.seconds, a.trace)
        if result is None:
            ok = False
            rows.append((w, "(no result)", "", ""))
            continue
        ok = ok and code == 0 and result["correct"]
        rows.append((w, "correct", str(result["correct"]), ""))
        rows.append((w, "fail_frac", f"{result['failed'] / result['attempted']:.4f}", "ratio"))
        for k, v in sorted(result["metrics"].items()):
            rows.append((w, k, f"{v['value']:.6g}", v["unit"]))
    for r in rows:
        print(f"{r[0]:<20} {r[1]:<40} {r[2]:>14} {r[3]}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
