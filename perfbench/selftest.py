"""Self-tests for the benchmark's own arithmetic and generators.

    python3 perfbench/run.py --selftest

Covers the percentile and self-time arithmetic, the suite table
generator's seed determinism, and (in the JVM) the event generator's
seed determinism and mix. Exits non-zero on any failure.
"""
import os
import shutil
import tempfile


def check_percentile(fails):
    from run import percentile
    cases = [([5.0], 50, 5.0), ([5.0], 99, 5.0), ([1, 2, 3, 4], 50, 2.5),
             ([4, 1, 3, 2], 0, 1.0), ([4, 1, 3, 2], 100, 4.0),
             (list(range(1, 101)), 99, 99.01), (list(range(1, 11)), 90, 9.1)]
    for xs, q, want in cases:
        got = percentile(xs, q)
        if abs(got - want) > 1e-9:
            fails.append(f"percentile({xs[:4]}..., {q}) = {got}, expected {want}")
    try:
        percentile([], 50)
        fails.append("percentile of an empty sample did not raise")
    except ValueError:
        pass


def check_self_time(fails):
    from run import self_times
    spans = [
        {"id": 1, "parent": 0, "kind": "query", "start_ms": 0.0, "end_ms": 100.0},
        # overlapping children cover 10..60; one child sticks out past the parent
        {"id": 2, "parent": 1, "kind": "job", "start_ms": 10.0, "end_ms": 40.0},
        {"id": 3, "parent": 1, "kind": "job", "start_ms": 30.0, "end_ms": 60.0},
        {"id": 4, "parent": 1, "kind": "job", "start_ms": 90.0, "end_ms": 120.0},
    ]
    got = self_times(spans)
    want = {"query": 100.0 - 50.0 - 10.0, "job": 30.0 + 30.0 + 30.0}
    if got != want:
        fails.append(f"self_times = {got}, expected {want}")


def check_latency(fails):
    """Latency is measured from when the event was due, not when it was
    sent: a stalled generator must not hide the stall."""
    from run import end_to_end
    # catch-up rate: all rows over all time, 6000 rows in 2.5 s
    # latency: three 4 s windows from second 2 on, 1000 samples each; the
    # middle window is the fastest (latencies 1..1000 ms), the others 1000 ms slower
    lat = [[2 + 12 * i / 3000, float(i % 1000 + 1) + (0 if 1000 <= i < 2000 else 1000)]
           for i in range(3000)]
    r = {"fire_latency": lat, "steady_s": [2.0, 14.0],
         "catchup_triggers": [[1000.0, 1000.0], [3000.0, 1000.0], [2000.0, 500.0]],
         "setup_s": [3.0, 1.0, 2.0]}
    m = end_to_end("live", r)
    if abs(m["throughput_per_s"][0] - 2400.0) > 1e-9 or m["setup_s"][0] != 2.0:
        fails.append(f"live end-to-end arithmetic: {m}")
    if abs(m["latency_p50_ms"][0] - 500.5) > 1e-9 or abs(m["latency_tail_ms"][0] - 950.05) > 1e-9:
        fails.append(f"live latency percentiles: {m}")
    # each query counts with its best trial: 1.0 + 4.0 seconds for 2 queries
    q = {"query_s": {"a": [1.0, 3.0, 2.0], "b": [4.0]}, "setup_s": [1.0]}
    m = end_to_end("suite", q)
    if abs(m["throughput_per_s"][0] - 2 / 5.0) > 1e-12 or m["latency_tail_ms"][0] != 4000.0:
        fails.append(f"suite throughput or tail: {m}")


def check_tables(fails):
    import gen_tables
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), ".bench_run"))
    try:
        gen_tables.write(3, 0.001, f"{d}/a")
        gen_tables.write(3, 0.001, f"{d}/b")
        gen_tables.write(4, 0.001, f"{d}/c")
        for t in ("events", "lineitem", "documents", "embeddings"):
            a, b, c = (pq.read_table(f"{d}/{x}/{t}.parquet") for x in "abc")
            if not a.equals(b):
                fails.append(f"gen_tables: seed 3 gave two different {t} tables")
            if a.equals(c):
                fails.append(f"gen_tables: seeds 3 and 4 gave the same {t} table")
        ts = pq.read_table(f"{d}/a/events.parquet").column("ts").to_pylist()
        if any(x >= y for x, y in zip(ts, ts[1:])):
            fails.append("gen_tables: event timestamps are not strictly increasing")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main(cp):
    import run
    fails = []
    os.makedirs(run.RUNS, exist_ok=True)
    check_percentile(fails)
    check_self_time(fails)
    check_latency(fails)
    check_tables(fails)
    work = tempfile.mkdtemp(prefix="selftest-", dir=run.RUNS)
    try:
        r = run.jvm(cp, work, ["--workload", "selftest", "--seed", "0", "--seconds", "0",
                               "--work", work])
        fails += r["failures"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in fails:
        print(f"perfbench selftest FAILED: {f}")
    print(f"perfbench selftest: {'ok' if not fails else f'{len(fails)} failed'}")
    return 1 if fails else 0
