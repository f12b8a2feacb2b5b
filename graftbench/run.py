#!/usr/bin/env python3
"""graft's benchmark: build the benchmark JVM from source, run one
workload, and end standard output with the one-line JSON result.

    python3 graftbench/run.py --workload cdc_trickle --seed 1 --seconds 40 --trace 0
    python3 graftbench/run.py --workload all   # every workload, one after another

Run from the repository root. The first run builds graft and the benchmark
with sbt (offline) and caches the runtime classpath under graftbench/target;
later runs start the JVM directly. See graftbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_trickle", "cdc_bulk", "analytics_mix")
CLASSPATH = os.path.join(HERE, "target", "graftbench-classpath.txt")
WORK = os.path.join(HERE, "work")
# The heap is fixed here rather than inherited from the root build's
# default, and it is part of every result's host stamp. Fixed generation
# sizes keep the JVM's resident set from moving with eden resizing.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            if os.sep + "target" in d:
                continue
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        return None, out, err
    return p.returncode, out, err


def build():
    """Compile graft + the benchmark and cache the runtime classpath."""
    srcs = sources()
    if os.path.isfile(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in srcs):
            return open(CLASSPATH).read().strip()
    t0 = time.time()
    code, out, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export graftbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    cp = [l for l in (out or "").splitlines() if l.startswith(classes)]
    if code != 0 or not cp:
        sys.stderr.write((out or "")[-4000:])
        fail(f"build failed (exit {code})", 1)
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip() + "\n")
    print(f"graftbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def commit_id():
    """git commit when the checkout is a repository, else a source hash."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "tree-" + h.hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    # every workload does a fixed amount of work; --seconds is accepted
    # for the benchmark contract and not used
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write the analytics rows' counts and hashes here")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} holds no graft sources (build.sbt, src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build()
    if a.workload == "all":
        # one JVM per workload; the result line merges them, metric names
        # prefixed with their workload
        merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
        for w in WORKLOADS:
            code, lines = run_workload(cp, w, a)
            r = result_of(lines, code, w)
            merged["correct"] &= r["correct"] and code == 0
            merged["attempted"] += r["attempted"]
            merged["failed"] += r["failed"]
            merged["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
        print(json.dumps(merged))
        sys.exit(0 if merged["correct"] else 1)
    code, lines = run_workload(cp, a.workload, a)
    result = result_of(lines, code, a.workload)
    declared = declared_metrics(a.trace)
    if declared is not None:
        # the result line carries exactly the metrics BENCHMARK.json declares
        missing = sorted(set(declared) - set(result["metrics"]))
        if missing:
            fail(f"{a.workload}: declared metrics not measured: {missing}", 1)
        result["metrics"] = {k: result["metrics"][k] for k in declared}
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result["correct"] else 1)


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_workload(cp, workload, a):
    """Run one workload's JVM; print its report lines, return (exit code, lines)."""
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                         "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
                         "--workload", workload, "--seed", str(a.seed),
                         "--trace", str(a.trace), "--work", work,
                         "--data", os.path.join(HERE, "data", "sf0.01"),
                         "--commit", commit_id(),
                         "--expected", os.path.join(HERE, "expected", "analytics.tsv")]
           + (["--record", os.path.abspath(a.record)] if a.record else []))
    with open(log_path(workload), "w") as err:
        code, out, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                   stderr=err, stdin=subprocess.DEVNULL, text=True)
    lines = (out or "").splitlines()
    for l in lines[:-1]:
        print(l)
    return code, lines


def log_path(workload):
    return os.path.join(WORK, f"{workload}.log")


def result_of(lines, code, workload):
    """The JVM's one-line result; exits without a result when there is none."""
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        return result
    except (IndexError, ValueError, AssertionError):
        with open(log_path(workload)) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload}: benchmark JVM "
             f"{'timed out' if code is None else f'exited {code}'} without a result; "
             f"log: {log_path(workload)}", 1)


if __name__ == "__main__":
    main()
