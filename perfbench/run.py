#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload live|suite --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
benchmark runner with sbt (perfbench/build.sbt) and caches the class
path in .bench_build/; later runs reuse it until a source file changes.
Inputs are generated from --seed under .bench_run/, the JVM runner
(perfbench.Main) runs the workload, and this script checks the outputs,
turns the raw samples into metrics and prints one JSON object as the
last line of standard output. --trace 1 prints the per-layer metrics
instead of the end-to-end ones and writes the span file
.bench_run/trace/<workload>-seed<N>.json (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
sys.path.insert(0, HERE)

WORKLOADS = ("live", "suite")
SUITE_SF = 0.01
# a run whose contention sentinel moved by more than this factor between
# its before and after readings is flagged as untrustworthy
SENTINEL_BAND = 1.5
# a live run whose generator sent more than this share of events later
# than twice its flush interval is flagged
LATE_SHARE_LIMIT = 0.01
# a run during which the hypervisor took more than this share of CPU
# time (steal) is flagged
STEAL_LIMIT = 0.05
# the live latency percentiles are taken per window of the steady phase,
# and the best window counts
LATENCY_WINDOWS = 3
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def say(msg):
    print(f"perfbench: {msg}", flush=True)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---------------------------------------------------------------- stats

def percentile(xs, q):
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    k = (len(s) - 1) * q / 100.0
    f = math.floor(k)
    c = min(f + 1, len(s) - 1)
    return s[f] + (s[c] - s[f]) * (k - f)


def self_times(spans):
    """Per span kind: summed self time in ms, i.e. each span's duration
    minus the part of it that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        iv = sorted((max(a, c["start_ms"]), min(b, c["end_ms"])) for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for lo, hi in iv:
            if hi <= lo:
                continue
            if cur is None or lo > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [lo, hi]
            else:
                cur[1] = max(cur[1], hi)
        if cur:
            covered += cur[1] - cur[0]
        out[s["kind"]] = out.get(s["kind"], 0.0) + max(0.0, (b - a) - covered)
    return out


# ---------------------------------------------------------------- build

def fingerprint():
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties",
                "build.sbt", "project/build.properties"):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + runner with sbt once per source state; returns the class path."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources (src/main/scala) next to perfbench/; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(cp_file):
        stamp, cp = open(cp_file).read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    # keep sbt's temporary files (server socket, file watcher, native
    # libraries) inside the checkout, and no JVM perf data in /tmp
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT, timeout=850)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (log: {log})")
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + cps[-1].strip())
    return cps[-1].strip()


# ---------------------------------------------------------------- runtime

def _hash_work(_):
    h = hashlib.sha256()
    buf = b"\x5a" * (1 << 20)
    for _ in range(96):
        h.update(buf)


def sentinel():
    """Fixed-size CPU probe on every core (ms, median of 3 rounds): a
    reading that moves a lot between the start and end of a run means
    something else shared the machine."""
    from concurrent.futures import ProcessPoolExecutor
    n = os.cpu_count() or 1
    ts = []
    with ProcessPoolExecutor(max_workers=n) as ex:  # joins its workers on exit
        for _ in range(2):  # the first rounds in a fresh process read slow
            list(ex.map(_hash_work, range(n)))
        for _ in range(3):
            t0 = time.perf_counter()
            list(ex.map(_hash_work, range(n)))
            ts.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(ts)


def heap():
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return "4g" if kb >= 12 * 1024 * 1024 else "2g"
    except (OSError, StopIteration):
        return "2g"


def engine_cores():
    """Cores the JVM may use: half the machine's. On a shared host the
    hypervisor takes CPU time from single vCPUs now and then; with the
    other half idle, the guest moves the engine's threads off a stalled
    vCPU instead of waiting for it, so a run measures the engine rather
    than its neighbours."""
    return max(1, (os.cpu_count() or 2) // 2)


def jvm(cp, work, args):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no hsperfdata file in the system temp directory: the run writes only under `work`
    cmd += [f"-Xmx{heap()}", "-XX:-UsePerfData", f"-XX:ActiveProcessorCount={engine_cores()}",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        keep = os.path.join(RUNS, "failed-jvm.log")
        shutil.copy(log, keep)
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"runner failed ({rc}); log: {os.path.relpath(keep, ROOT)}")
    return json.load(open(os.path.join(work, "result.json")))


# ---------------------------------------------------------------- metrics

def latency_windows(samples, start_s, end_s, n=LATENCY_WINDOWS):
    """Split (due second, latency) samples of the steady phase into n
    windows of equal length between start_s and end_s, by due time."""
    span = (end_s - start_s) / n
    wins = [[] for _ in range(n)]
    for due, lat in samples:
        wins[min(n - 1, max(0, int((due - start_s) / span)))].append(lat)
    return wins


def end_to_end(w, r):
    """The four end-to-end metrics, read per workload (README.md)."""
    if w == "live":
        wins = latency_windows(r["fire_latency"], *r["steady_s"])
        if min(len(w) for w in wins) < 200:
            die(f"live: only {[len(w) for w in wins]} latency samples per window")
        # the least disturbed window, as the suite takes each query's best trial
        p50, tail = min(percentile(w, 50) for w in wins), min(percentile(w, 95) for w in wins)
        rows, ms = (sum(x) for x in zip(*r["catchup_triggers"]))
        rate = rows * 1e3 / ms
    else:
        # each query's best trial: the one least disturbed by whatever
        # else shares the machine
        q = [min(v) for v in r["query_s"].values()]
        # the tail is the slowest query: with twelve queries a p90 falls
        # between the two slowest and moves with whichever of them is lower
        rate, p50, tail = len(q) / sum(q), percentile(q, 50) * 1e3, max(q) * 1e3
    return {
        "setup_s": (statistics.median(r["setup_s"]), "s"),
        "throughput_per_s": (rate, "1/s"),
        "latency_p50_ms": (p50, "ms"),
        "latency_tail_ms": (tail, "ms"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        sys.exit(selftest.main(build()))
    if not a.workload:
        die("--workload is required")

    cp = build()
    work = os.path.join(RUNS, f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        before = sentinel()
        cpu0 = cpu_times()
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
        if a.workload == "suite":
            suite_inputs(a.seed, work)
            args += ["--data", os.path.join(work, "data")]
        t0 = time.perf_counter()
        r = jvm(cp, work, args)
        t1 = time.perf_counter()
        cpu1 = cpu_times()
        after = sentinel()
        from checks import check
        failures = list(r["failures"])
        attempted, failed = r["attempted"], r["failed"]
        a2, f2, msgs = check(a.workload, r, work)
        say(f"wall: runner {t1 - t0:.1f} s, output checks {time.perf_counter() - t1:.1f} s")
        for ph in r.get("phases", []):
            say(f"phase {ph['name']}: {(ph['end_ms'] - ph['start_ms']) / 1e3:.1f} s")
        for q, ts in sorted(r.get("query_s", {}).items()):
            say(f"query {q}: " + " ".join(f"{t:.3f}" for t in ts) + " s")
        attempted += a2
        failed += f2
        failures += msgs
        for m in failures:
            say(f"FAILED {m}")
        flags = untrustworthy(a.workload, r, before, after, cpu0, cpu1)
        for m in flags:
            say(f"FLAG untrustworthy run: {m}")
        e2e = end_to_end(a.workload, r)
        save = os.path.join(RUNS, "last")
        os.makedirs(save, exist_ok=True)
        if a.trace:
            from layers import layer_metrics, link
            spans = link(json.load(open(os.path.join(work, "spans.json"))))
            metrics = layer_metrics(a.workload, r, spans)
            report_trace(a, r, spans, e2e, metrics, flags, before, after)
        else:
            metrics = e2e
            with open(os.path.join(save, f"{a.workload}.json"), "w") as f:
                json.dump({k: v for k, (v, _) in e2e.items()}, f)
        for k, (v, u) in metrics.items():
            say(f"{a.workload} {k} = {v:.6g} {u}")
        print(json.dumps({"correct": failed == 0, "attempted": int(max(1, attempted)),
                          "failed": int(failed),
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def suite_inputs(seed, work):
    """Generate the suite's tables and write the query list."""
    import gen_tables
    data = os.path.join(work, "data")
    gen_tables.write(seed, SUITE_SF, os.path.join(data, "main"))
    shutil.copy(os.path.join(HERE, "queries.txt"), os.path.join(data, "queries.txt"))


def cpu_times():
    """(steal, total) jiffies from /proc/stat; (0, 0) where there is none."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except (OSError, ValueError):
        return 0, 0


def untrustworthy(w, r, before, after, cpu0, cpu1):
    flags = []
    ratio = after / before
    if not (1 / SENTINEL_BAND <= ratio <= SENTINEL_BAND):
        flags.append(f"contention sentinel moved {before:.1f} -> {after:.1f} ms")
    steal, total = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    if total and steal / total > STEAL_LIMIT:
        flags.append(f"the hypervisor took {100 * steal / total:.1f} % of CPU time during the run")
    if w == "live":
        if r["gen_late_share"] > LATE_SHARE_LIMIT:
            flags.append(f"generator fell behind: {100 * r['gen_late_share']:.2f} % of sends past due, "
                         f"max {r['gen_late_max_ms']:.0f} ms late")
    return flags


def report_trace(a, r, spans, e2e, metrics, flags, before, after):
    """Write the span file and print self times and tracing overhead."""
    st = self_times(spans)
    for k in sorted(st):
        say(f"self time {k:<10} {st[k] / 1e3:10.3f} s")
    last = os.path.join(RUNS, "last", f"{a.workload}.json")
    overhead = {}
    if os.path.exists(last):
        base = json.load(open(last))
        for k, (v, u) in e2e.items():
            if k in base and base[k]:
                overhead[k] = {"traced": v, "untraced": base[k], "unit": u,
                               "delta_share": (v - base[k]) / base[k]}
                say(f"trace overhead {k}: traced {v:.6g} vs untraced {base[k]:.6g} {u} "
                    f"({100 * (v - base[k]) / base[k]:+.1f} %)")
    else:
        say("trace overhead: no untraced run of this workload in this checkout to compare with")
    out = os.path.join(RUNS, "trace")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{a.workload}-seed{a.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "flags": flags, "sentinel_ms": [before, after],
                   "end_to_end": {k: v for k, (v, _) in e2e.items()},
                   "per_layer": {k: v for k, (v, _) in metrics.items()},
                   "self_time_ms": st, "overhead": overhead, "spans": spans}, f)
    say(f"span file: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
