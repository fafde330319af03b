#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark's JVM side from source (once per
source state, cached under .bench_build/), generates the workload's inputs
from the seed, runs the JVM side, checks the program's outputs, and prints a
run record and then, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from the span records of a
traced run. Workloads, metric definitions and the layer map are in
perfbench/README.md.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, BENCH_DIR)

import layers  # noqa: E402

WORKLOADS = ("transit_stream", "batch_suite")

# Workload sizes. "full" is the benchmark; "tiny" is for the benchmark's
# own smoke tests.
SCALES = {
    "full": {"backlog_trips": 500, "sf": 0.01},
    "tiny": {"backlog_trips": 300, "sf": 0.001},
}

JVM_OPTS = [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=768m", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                 "java.base/java.lang.reflect", "java.base/java.io",
                 "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                 "java.base/java.util.concurrent",
                 "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                 "java.base/sun.nio.cs", "java.base/sun.security.action",
                 "java.base/sun.util.calendar")
     for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def source_files():
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH_DIR, "build.sbt"),
            os.path.join(BENCH_DIR, "project", "build.properties")]
    return sorted(out)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    missing = [p for p in ("build.sbt", "src/main/scala/graft") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: no program to build here (missing {', '.join(missing)})")
    stamp = source_stamp()
    cache = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"], stamp
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # sbt's per-user state (extracted JDK classes, staging) stays in the checkout
    env["SBT_OPTS"] += f" -Dsbt.global.base={BUILD_DIR}/sbt-global"
    log("building with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export perfbench/Runtime/fullClasspath"],
                       cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    cp = [l.strip() for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1], stamp


# ---- run --------------------------------------------------------------------

def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s():
    """CPU time the hypervisor took from this machine's CPUs since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def nproc():
    return len(os.sched_getaffinity(0))


def git_commit():
    """HEAD of the checkout, or None when the checkout is not a git repository."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def wait_proc(p, timeout):
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None


def run_jvm(classpath, work, argv, timeout):
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "graft.perfbench.Main", *argv]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        rc = wait_proc(p, timeout)
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc})")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def incomplete_beta(a, b, x):
    """The regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0 or x >= 1.0:
        return max(0.0, min(1.0, x))
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - incomplete_beta(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300

    def step(num, c, d):
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        return (c if abs(c) > tiny else tiny), d

    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 400):
        c, d = step(m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)), c, d)
        f *= c * d
        c, d = step(-(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1)), c, d)
        f *= c * d
        if abs(c * d - 1.0) < 1e-12:
            break
    return front * f


def percentile(xs, q):
    """The Harrell-Davis estimate of the q-th percentile (q in (0, 100)) of a
    non-empty list: a weighted mean of all order statistics, with weights
    from the Beta(p(n+1), (1-p)(n+1)) distribution. With few samples (the
    22 queries of batch_suite) it moves far less with the noise of the
    samples next to the percentile than a single order statistic does."""
    s = sorted(xs)
    n, p = len(s), q / 100.0
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [incomplete_beta(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(s))


def transit_stream(a, scale, classpath, work):
    live = f"{work}/live"
    os.makedirs(live, exist_ok=True)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "transit_gen.py"), "--dir", live,
         "--seed", str(a.seed), "--backlog-trips", str(scale["backlog_trips"]),
         "--seconds", str(a.seconds)])
    try:
        r = run_jvm(classpath, work, jvm_args(a, work) + ["--live-dir", live], timeout=160)
    finally:
        if wait_proc(gen, 5) is None:
            log("generator did not finish")
    with open(f"{live}/gen.jsonl") as f:
        chunks = [json.loads(l) for l in f if l.strip()]
    with open(f"{live}/done.json") as f:
        done = json.load(f)
    ready = json.loads(r["ready"])
    pubs = sorted((p for p in r["publishes"] if p[2] >= 0), key=lambda p: p[1])

    latencies, hit_publishes, lag_max = [], set(), 0
    for c in chunks:
        hit = next((p for p in pubs if p[2] >= c["cum_trips"] and p[1] >= c["sent_ms"]), None)
        if hit is not None:
            latencies.append((hit[1] - c["due_ms"]) / 1e3)
            hit_publishes.add(hit[1])
    for p in pubs:
        sent = max((c["cum_trips"] for c in chunks if c["sent_ms"] <= p[1]), default=ready["trips"])
        lag_max = max(lag_max, sent - p[2])
    checks = r["checks"]
    bad_topics = sorted(t for t, m in checks.items() if m)
    for t in bad_topics:
        log(f"check failed: {t}: {checks[t]}")
    unpublished = len(chunks) - len(latencies)
    if unpublished:
        log(f"{unpublished} of {len(chunks)} live chunks were never published")
    backlog_missed = int(r["catchup_total"] < ready["trips"])
    attempted = 1 + len(chunks) + len(checks)
    failed = backlog_missed + unpublished + len(bad_topics)
    live_triggers = r["union_live_trigger_ms"]
    e2e = {
        "setup_s": statistics.median(r["setup_s"]),
        "latency_p50_s": percentile(latencies, 50) if latencies else None,
        "latency_p90_s": percentile(latencies, 90) if latencies else None,
        "throughput_per_s": (ready["trips"] + ready["routes"]) / r["catchup_s"],
        "cold_s": r["catchup_s"],
    }
    extra = {"warm_s": statistics.median(live_triggers) / 1e3 if live_triggers else None,
             "latency_samples": len(latencies), "latency_publishes": len(hit_publishes),
             "live_chunks": len(chunks),
             "live_triggers": len(live_triggers), "input_lag_trips_max": lag_max,
             "gen_late_ms_max": done["late_max_ms"], "check_s": r["check_s"], "result": r}
    return attempted, failed, e2e, extra


def duck_counts(data, names, sqls):
    """Row count of each oracle SQL in DuckDB over the generated tables
    (None where a query has no oracle)."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for n, sql in zip(names, sqls):
        out[n] = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0] if sql else None
    con.close()
    return out


def batch_suite(a, scale, classpath, work):
    import gen_tables
    data = f"{work}/data"
    gen_tables.generate(data, a.seed, scale["sf"])
    r = run_jvm(classpath, work, jvm_args(a, work) + ["--data", data], timeout=160)
    names, rows = r["queries"], r["rows"]
    t0 = time.time()
    oracle = duck_counts(data, names, r["oracle_sql"])
    duck_s = time.time() - t0
    failed = 0
    for n, got in zip(names, rows):
        want = oracle[n]
        if n in r["errors"]:
            log(f"{n} failed: {r['errors'][n]}")
            failed += 1
        elif want is not None and want != got:
            log(f"{n}: {got} rows, DuckDB oracle has {want}")
            failed += 1
    per_query = [statistics.median(w[i][0] + w[i][1] for w in r["warm"])
                 for i, n in enumerate(names) if n not in r["errors"]]
    warm_s = statistics.median(r["warm_s"])
    e2e = {
        "setup_s": statistics.median(r["setup_s"]),
        "latency_p50_s": percentile(per_query, 50),
        "latency_p90_s": percentile(per_query, 90),
        "throughput_per_s": len(names) / warm_s,
        "cold_s": r["cold_s"],
    }
    extra = {"warm_s": warm_s, "queries": len(names), "warm_passes": len(r["warm_s"]),
             "query_cold_s": {n: sum(t) for n, t in zip(names, r["cold"])},
             "query_warm_s": {n: [sum(w[i]) for w in r["warm"]] for i, n in enumerate(names)},
             "cold_jit_s": r["cold_jit_ms"] / 1e3,
             "warm_jit_s": [x / 1e3 for x in r["warm_jit_ms"]],
             "warm_gc_s": [x / 1e3 for x in r["warm_gc_ms"]],
             "cold_codegens": r["cold_codegens"], "warm_codegens": r["warm_codegens"],
             "no_oracle": sum(1 for n in names if oracle[n] is None),
             "duckdb_s": duck_s, "result": r}
    return len(names), failed, e2e, extra


def jvm_args(a, work):
    return ["--workload", a.workload, "--work", work, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(nproc()),
            "--run-id", a.run_id, "--inject-wrong", "1" if a.inject_wrong else "0"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="perturb one checked result (negative control)")
    a = ap.parse_args()
    t_start = time.time()
    load_start, steal_start = loadavg(), steal_s()
    classpath, stamp = build()
    a.run_id = f"{a.workload}-{a.seed}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(ROOT, ".bench_build", "runs", a.run_id)
    os.makedirs(work)
    try:
        run = transit_stream if a.workload == "transit_stream" else batch_suite
        attempted, failed, e2e, extra = run(a, SCALES[a.scale], classpath, work)
        if a.trace:
            metrics, summary = layers.per_layer(a.workload, f"{work}/spans.jsonl", e2e, extra, ROOT)
            os.makedirs(os.path.join(ROOT, ".bench_build", "traces"), exist_ok=True)
            shutil.copy(f"{work}/spans.jsonl",
                        os.path.join(ROOT, ".bench_build", "traces", f"{a.run_id}.jsonl"))
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in layers.END_TO_END_UNITS.items()}
            summary = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    r = extra.pop("result")
    record = {"run_id": a.run_id, "workload": a.workload, "seed": a.seed,
              "seconds": a.seconds, "trace": a.trace, "nproc": nproc(),
              "loadavg_start": load_start, "loadavg_end": loadavg(),
              "steal_s": steal_s() - steal_start,
              "jvm_flags": r["jvm_flags"], "git_commit": git_commit(), "source_stamp": stamp,
              "end_to_end": e2e, "peak_rss_mb": r["peak_rss_kb"] / 1024.0, **extra,
              "wall_s": time.time() - t_start, "trace_summary": summary}
    print(json.dumps({"run_record": record}))
    missing = [n for n, m in metrics.items() if m["value"] is None]
    if missing:
        log(f"no value for {', '.join(missing)}")
        failed = max(failed, 1)
        for n in missing:
            metrics[n]["value"] = 0.0
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
