#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload nc4_io|nc3_io --seed N \
        --seconds S --trace 0|1 [--corrupt]

Run from the root of a checkout. The first run builds the program and
this harness from source with sbt (the parent directory's build plus
perfbench/build.sbt) into target directories of the checkout and
caches the classpath under .bench_build/, keyed by a hash of the
sources; later runs reuse it. Each run starts one JVM (perfbench.Main),
which writes raw samples; this script reduces them (metrics.py),
prints a full report line, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Everything it writes stays under .bench_build/,
.bench_work/ and the sbt target/ directories of the checkout; the last
report, raw samples, JVM log and span file of each workload are kept
in .bench_work/last/.

--corrupt flips one stored byte after every timed write, to show that
the output checks count a bad read-back as failed.
"""
import argparse
import fcntl
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
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = {"nc4_io": "Hdf5Format", "nc3_io": "NcFormat"}
RUN_LIMIT_S = 170  # the whole run, build excluded, ends within this
BUILD_LIMIT_S = 700  # with RUN_LIMIT_S, inside the 900 s first-run allowance
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_files():
    """Files whose content decides the build."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, cwd, env, timeout, out):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(stamp):
    """Compile with sbt unless the cached classpath matches `stamp`."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        sbt = shutil.which("sbt")
        if sbt is None:
            raise SystemExit("sbt not found on PATH")
        build_log = os.path.join(BUILD, "build.log")
        log("building (log: %s)" % build_log)
        t0 = time.time()
        with open(build_log, "w") as out:
            rc = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], HERE, env, BUILD_LIMIT_S, out)
        lines = open(build_log).read().splitlines()
        if rc != 0:
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            raise SystemExit("build failed (exit %s)" % rc)
        cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
        if not cps:
            raise SystemExit("build printed no classpath")
        with open(cp_file, "w") as f:
            f.write(cps[-1])
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log("built in %.0f s" % (time.time() - t0))
        return cps[-1]


def mount_of(path):
    """Mount point, fs type and device of the filesystem holding path."""
    best = None
    try:
        with open("/proc/mounts") as f:
            for ln in f:
                dev, mnt, fstype = ln.split()[:3]
                inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
                if inside and (best is None or len(mnt) > len(best[0])):
                    best = (mnt, fstype, dev)
    except OSError:
        pass
    mnt, fstype, dev = best or ("?", "?", "?")
    return {"mount": mnt, "type": fstype, "device": dev}


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("program sources not found under %s: run from a full checkout" % ROOT)
        return 2

    stamp = source_hash()
    cp = build(stamp)
    t_run = time.time()
    load_start = os.getloadavg()
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_file = os.path.join(work, "raw.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
        "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", raw_file, "--cores", str(cores)]
    if a.corrupt:
        cmd += ["--corrupt", "1"]
    jvm_log = os.path.join(work, "jvm.log")
    last = os.path.join(WORK, "last")
    os.makedirs(last, exist_ok=True)
    tag = "%s-trace%d" % (a.workload, a.trace)
    try:
        with open(jvm_log, "w") as out:
            rc = run_group(cmd, ROOT, dict(os.environ), RUN_LIMIT_S - (t_run - t_start), out)
        shutil.copy(jvm_log, os.path.join(last, tag + ".jvm.log"))
        if rc != 0 or not os.path.exists(raw_file):
            sys.stderr.write(open(jvm_log, errors="replace").read()[-4000:])
            log("benchmark JVM %s" % ("timed out" if rc is None else "exited %s" % rc))
            return 1
        shutil.copy(raw_file, os.path.join(last, tag + ".raw.json"))
        raw = json.load(open(raw_file))
        spans = []
        if a.trace:
            shutil.copy(raw["spans_file"], os.path.join(last, tag + ".spans.jsonl"))
            with open(raw["spans_file"]) as f:
                spans = [json.loads(ln) for ln in f if ln.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, errors = metrics.accounting(raw)
    if a.trace:
        values = metrics.per_layer(raw, spans, WORKLOADS[a.workload])
        names = [n for n, *_ in metrics.PER_LAYER]
        details = {"self_ms_by_layer": metrics.self_time_by_layer(spans)}
    else:
        values, details = metrics.end_to_end(raw)
        names = [n for n, *_ in metrics.END_TO_END]
    missing = [n for n in names if values.get(n) is None]
    correct = failed == 0 and not missing

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": commit(), "source_hash": stamp,
        "cpus": {"nproc": cores, "master": raw["env"]["master"]},
        "heap": {"xmx": HEAP, "max_bytes": raw["env"]["heap_max_bytes"]},
        "jdk": raw["env"]["jdk"], "spark": raw["env"]["spark"],
        "shape": raw["shape"], "write_options": raw["env"]["write_options"],
        "scratch_fs": mount_of(work),
        "load_avg_start": load_start, "load_avg_end": os.getloadavg(),
        "wall_s": time.time() - t_start,
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted if attempted else None,
        "errors": errors, "missing": missing, "details": details,
        "metrics": {n: {"value": values.get(n), "unit": metrics.UNITS[n]} for n in names},
    }
    with open(os.path.join(last, tag + ".json"), "w") as f:
        json.dump(report, f, indent=1)

    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": metrics.UNITS[n]}
                    for n in names if values.get(n) is not None},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
