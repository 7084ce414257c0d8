#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 3 --trace 0

Builds the engine and the harness from source (sbt, offline) on first use,
generates the seeded inputs, runs the workload in one JVM at local[nproc]
and prints, last on stdout, one JSON object with the keys correct,
attempted, failed and metrics.  The line before it is the run's detail and
environment stamp; the full record is also kept under perfbench/results/.
"""

import argparse
import ctypes
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["medallion", "corpus_day", "lakehouse_mix", "analyst_mix", "lakehouse_dml"]
# input tables each workload reads (gen.py families)
TABLES = {
    "medallion": None,
    "corpus_day": "documents",
    "analyst_mix": "documents,embeddings,tpch",
    "lakehouse_dml": "documents",
    "lakehouse_mix": "documents,embeddings,tpch",
}
# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked tests)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170
# fixed, so that heap growth is not part of the warm-up
HEAP = "4g"


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def unmanaged_jars():
    """Names of the jars the root build takes from its `unmanagedBase`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return sorted(os.listdir(m.group(1))) if m else []
    except OSError:
        return []


def source_key():
    """Hash of everything the build reads (sources, build definitions and
    the names of the unmanaged jars), so a changed tree rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith(".sbt") or f.endswith(".scala") or f == "build.properties"]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(unmanaged_jars()).encode())
    return h.hexdigest()


_children = []


def _kill_children(*_):
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def _die_with_parent():
    # Linux PR_SET_PDEATHSIG: the child is killed if this script dies first
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout, on a
    signal to this script, or when this script dies, and wait for it, so
    nothing outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, preexec_fn=_die_with_parent, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    finally:
        _kill_children()
        _children.remove(p)
    return p.returncode, out


def _on_signal(signum, _frame):
    _kill_children()
    sys.exit(128 + signum)


def build(key):
    """Compile the engine and the harness; returns the runtime classpath.
    The classes live in the builds' shared target directories, so only the
    last build is cached: any other key compiles again."""
    cache = os.path.join(BENCH, "target", "last-build.json")
    try:
        with open(cache) as f:
            last = json.load(f)
        if last.get("key") == key:
            return last["classpath"]
    except (OSError, ValueError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true -Dsbt.override.build.repos=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += " -Dsbt.repository.config=" + repos
    env["SBT_OPTS"] = opts.strip()
    log("building engine and harness (sbt) ...")
    t0 = time.time()
    try:
        code, out = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            timeout=700, cwd=BENCH, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        code, out = -1, "build timed out"
    lines = out.splitlines()
    cps = [l for l in lines if ".jar" in l and ":" in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("build failed (exit %d)" % code)
        sys.exit(3)
    log("built in %.0f s" % (time.time() - t0))
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"key": key, "classpath": cps[-1]}, f)
    return cps[-1]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("the engine's sources (build.sbt, src/main/scala/graft) are not "
            "next to perfbench/; run from a full checkout")
        sys.exit(2)

    key = source_key()
    classpath = build(key)
    t_built = time.time()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, ".work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(data)
    try:
        if TABLES[a.workload]:
            subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"),
                            "--seed", str(a.seed), "--out", data,
                            "--tables", TABLES[a.workload]],
                           check=True, timeout=120)
        load_before = os.getloadavg()[0]
        steal0, total0 = cpu_ticks()
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m",
               "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", m + "=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "graft.perfbench.Main", a.workload,
                str(a.seed), repr(a.seconds), str(a.trace), data, work,
                str(cores)]
        budget = RUN_LIMIT_S - (time.time() - t_built)
        with open(os.path.join(work, "jvm.log"), "w") as errlog:
            try:
                code, out = run_group(cmd, timeout=budget, cwd=work,
                                      stdout=subprocess.PIPE, stderr=errlog,
                                      text=True)
            except subprocess.TimeoutExpired:
                code, out = -1, ""
                log("run exceeded %.0f s; killed" % budget)
        load_after = os.getloadavg()[0]
        steal1, total1 = cpu_ticks()
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if code != 0 or not lines:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            log("workload run failed (exit %s)" % code)
            sys.exit(4)
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        spans = os.path.join(work, "spans.jsonl")
        span_lines = open(spans).read().splitlines() if os.path.exists(spans) else []
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = dict(res["env"])
    env.update({
        "git_sha": git_sha(),
        "source_sha1": key,
        "nproc": cores,
        "local": "local[%d]" % cores,
        "load1_before": load_before,
        "load1_after": load_after,
        # CPU time the hypervisor gave to other guests during the run
        "steal_frac": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "python": sys.version.split()[0],
        "build_s": round(t_built - t_start, 3),
        "wall_s": round(time.time() - t_start, 3),
    })
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "env": env, "detail": res["detail"],
        "result": {k: res[k] for k in ("correct", "attempted", "failed", "metrics")},
    }
    outdir = os.path.join(BENCH, "results")
    os.makedirs(outdir, exist_ok=True)
    name = "%s-seed%d-trace%d-%d" % (a.workload, a.seed, a.trace, int(time.time() * 1000))
    with open(os.path.join(outdir, name + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if span_lines:
        with open(os.path.join(outdir, name + ".spans.jsonl"), "w") as f:
            f.write("\n".join(span_lines) + "\n")
    print(json.dumps({"env": env, "detail": res["detail"]}))
    print(json.dumps(record["result"]))


if __name__ == "__main__":
    main()
