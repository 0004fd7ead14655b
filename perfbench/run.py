#!/usr/bin/env python3
"""Same-box benchmark of graft's PageRank and label workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the benchmark and
graft from source with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. Everything written goes under
perfbench/.work and the sbt target directories.

Each run starts one fresh JVM, sized to the machine, which sets up a local
Spark session, runs three untimed warm-up jobs and then runs the workload as
a closed loop for S seconds. --trace 0 reports the end-to-end metrics of
BENCHMARK.json; --trace 1 traces every second job, builds and runs the
native SpMV ceiling, and reports the per-layer metrics.

The last line of stdout is one JSON object:
    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
A table with every metric, its unit and how it was aggregated, the failure
fraction and the run's provenance goes to stderr; the full record, with every
job, to perfbench/.work/result-*.json. perfbench/WORKLOADS.md describes the
workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TMP = os.path.join(WORK, "tmp")
TARGET = os.path.join(BENCH, "target")
NATIVE_SRC = os.path.join(ROOT, "bench", "native", "spmv_native.c")

WORKLOADS = ("pr-build", "labels-df")
RUN_DEADLINE_S = 170  # a run must end within 180 s once built
BUILD_TIMEOUT_S = 840
NATIVE_PASSES = "5"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def machine():
    """Run config from the machine, as the tier-1 command derives it: all
    usable cores; heap = half of MemTotal in GiB, clamped to [2, 8]."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = min(8, max(2, mem_kb // 2097152))
    return {"nproc": cores, "mem_total_kb": mem_kb, "heap": "%dg" % heap_g}


def source_hash():
    """Hash of every file whose change must trigger a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in ("src/main", "project", "perfbench/src/main", "perfbench/project"):
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(src_hash):
    """Builds with sbt unless the last build was of the same sources.
    Returns (class path, JVM options) or exits non-zero."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "jvmopts.txt")
    stamp = os.path.join(WORK, "build.stamp")
    fresh = (os.path.exists(cp_file) and os.path.exists(opts_file)
             and os.path.exists(stamp) and open(stamp).read() == src_hash)
    if not fresh:
        if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
            log("perfbench: no graft sources next to perfbench/; run from a full checkout")
            sys.exit(2)
        sbt = shutil.which("sbt")
        if sbt is None:
            log("perfbench: sbt not found on PATH")
            sys.exit(2)
        env = dict(os.environ, TMPDIR=TMP)
        env.setdefault("COURSIER_MODE", "offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Djava.io.tmpdir=" + TMP).strip()
        build_log = os.path.join(WORK, "build.log")
        log("perfbench: building with sbt (log: perfbench/.work/build.log)")
        t0 = time.monotonic()
        with open(build_log, "w") as out:
            try:
                rc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                    cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(cp_file):
            with open(build_log) as f:
                log("".join(f.readlines()[-30:]))
            log("perfbench: build failed (%s)" % rc)
            sys.exit(2)
        with open(stamp, "w") as f:
            f.write(src_hash)
        log("perfbench: built in %.1f s" % (time.monotonic() - t0))
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        opts = [o for o in f.read().splitlines() if o and not o.startswith("-Xmx")]
    return cp, opts


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def run_jvm(launch, mach, workload, seed, seconds, trace, deadline):
    """Runs the benchmark JVM (perfbench.Main) and collects its events: the
    session-up and set-up times in seconds since launch (None if not
    reached), the job and layer events, and an exit status ("ok" or what
    went wrong). The JVM is killed at the run's deadline."""
    cp, opts = launch
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # MaxHeapFreeRatio=100: the full GC of the clean-up between jobs must not
    # shrink the heap, or every job pays for growing it again (jobs were
    # 1.2-1.5x slower, and their times spread twice as much between runs).
    # -Xmn: a fixed young generation instead of G1's adaptive one, so that
    # every run collects on the same schedule and heap_peak_mb reads the
    # heap about as often in every run.
    cmd = [java_bin(), "-Xmx" + mach["heap"], "-XX:MaxHeapFreeRatio=100", "-Xmn256m",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + TMP, *opts,
           "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", "%.3f" % seconds,
           "--trace", str(trace), "--cores", str(mach["nproc"]), "--work", WORK]
    session, setup, jobs, layers, done = None, None, [], [], False
    t0 = time.monotonic()
    with open(os.path.join(WORK, "jvm-%s.log" % workload), "a") as err:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, env=dict(os.environ, TMPDIR=TMP))
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("event")
                if kind == "session":
                    session = time.monotonic() - t0
                elif kind == "ready":
                    setup = time.monotonic() - t0
                elif kind == "job":
                    jobs.append(ev)
                elif kind == "layers":
                    layers.append(ev)
                elif kind == "done":
                    done = True
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    status = "ok" if rc == 0 and done else "jvm exit %s%s" % (rc, "" if done else " before done")
    return {"session_s": session, "setup_s": setup, "jobs": jobs, "layers": layers, "status": status}


def native_ceiling(mach):
    """Builds bench/native/spmv_native.c into perfbench/.work (the committed
    binary is left alone), runs it on all cores and returns its best band
    SpMV rate (edges/s) and STREAM triad bandwidth (GB/s)."""
    out_dir = os.path.join(WORK, "native")
    os.makedirs(out_dir, exist_ok=True)
    exe = os.path.join(out_dir, "spmv_native")
    env = dict(os.environ, TMPDIR=TMP, OMP_NUM_THREADS=str(mach["nproc"]))
    subprocess.run(["gcc", "-O3", "-march=native", "-funroll-loops", "-fopenmp", NATIVE_SRC, "-o", exe],
                   check=True, stdin=subprocess.DEVNULL, env=env, timeout=120)
    out = subprocess.run([exe, NATIVE_PASSES], env=env, stdout=subprocess.PIPE, text=True,
                         stdin=subprocess.DEVNULL, check=True, timeout=120).stdout
    rows = {r["shape"]: r for r in map(json.loads, out.splitlines())}
    return {"edges_per_s": rows["band_222_w96"]["edges_per_sec_min"],
            "triad_gbps": rows["stream_triad"]["gbps"]}


def provenance(mach, seed, src_hash):
    try:
        jvm = subprocess.run([java_bin(), "-version"], stderr=subprocess.PIPE, text=True,
                             stdin=subprocess.DEVNULL, timeout=30).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.SubprocessError):
        jvm = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": mach["nproc"], "mem_total_kb": mach["mem_total_kb"], "heap": mach["heap"],
            "jvm": jvm, "git_commit": commit, "source_sha256": src_hash, "seed": seed}


def end_to_end(jvm, good):
    walls = [j["wall_s"] for j in good]
    return {
        "setup_s": (jvm["setup_s"] or 0.0, "process start to warm-up done"),
        "wall_s": (median(walls), "median of %d jobs" % len(walls)),
        "edges_per_s": (median([j["edges"] / j["wall_s"] for j in good]), "median of %d jobs" % len(walls)),
        # the largest post-GC reading in the run's timed windows
        "heap_peak_mb": (max([j["heap_peak_mb"] for j in good] or [0.0]), "max over %d jobs" % len(walls)),
    }


def per_layer(jvm, good, mach):
    layers = jvm["layers"]
    how = "median of %d traced jobs" % len(layers)
    values = {k: (median([ev[k] for ev in layers]), how)
              for k in {k for ev in layers for k in ev if k not in ("event", "index")}}
    untraced = [j["wall_s"] for j in good if not j["traced"]]
    traced = [j["wall_s"] for j in good if j["traced"]]
    values["trace.overhead_s"] = (median(traced) - median(untraced),
                                  "median of %d traced - median of %d untraced jobs" % (len(traced), len(untraced)))
    nat = native_ceiling(mach)
    values["native.edges_per_s"] = (nat["edges_per_s"], "band 2^22 x 96, best of %s passes" % NATIVE_PASSES)
    values["native.triad_gbps"] = (nat["triad_gbps"], "best of 10 passes")
    algo = values.get("algo.edges_per_s", (0.0, ""))[0]
    values["algo.vs_native"] = (algo / nat["edges_per_s"], "algo.edges_per_s / native.edges_per_s")
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so that the JVM or build in flight is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(TMP, exist_ok=True)
    mach = machine()
    src_hash = source_hash()
    launch = build(src_hash)
    deadline = time.monotonic() + RUN_DEADLINE_S

    jvm = run_jvm(launch, mach, a.workload, a.seed, a.seconds, a.trace, deadline)
    jobs = jvm["jobs"]
    bad_jvm = int(jvm["status"] != "ok")
    failed = sum(1 for j in jobs if not j["ok"]) + bad_jvm
    attempted = max(1, len(jobs) + bad_jvm)
    for j in jobs:
        if not j["ok"]:
            log("perfbench: job %d failed: %s" % (j["index"], j["detail"]))
    if bad_jvm:
        log("perfbench: %s (log: perfbench/.work/jvm-%s.log)" % (jvm["status"], a.workload))

    good = [j for j in jobs if j["ok"]]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = per_layer(jvm, good, mach) if a.trace else end_to_end(jvm, good)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing and good:
        log("perfbench: metrics not produced: %s" % ", ".join(missing))
        sys.exit(3)
    metrics = {m["name"]: {"value": values.get(m["name"], (0.0, ""))[0], "unit": m["unit"]} for m in wanted}

    prov = provenance(mach, a.seed, src_hash)
    log("perfbench: %s seed=%d trace=%d nproc=%d MemTotal=%d kB heap=%s jvm=%s commit=%s"
        % (a.workload, a.seed, a.trace, mach["nproc"], mach["mem_total_kb"], mach["heap"],
           prov["jvm"], prov["git_commit"] or "-"))
    for k, m in metrics.items():
        log("  %-26s %14.6g %-8s %s" % (k, m["value"], m["unit"], values.get(k, (0, ""))[1]))
    log("  %-26s %14.6g %-8s %d failed of %d attempted"
        % ("fail_frac", failed / attempted, "ratio", failed, attempted))
    artifact = {"workload": a.workload, "trace": a.trace, "provenance": prov, "metrics": metrics,
                "fail_frac": failed / attempted, "attempted": attempted, "failed": failed, "jvm": jvm}
    with open(os.path.join(WORK, "result-%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(artifact, f, indent=1)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
