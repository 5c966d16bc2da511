#!/usr/bin/env python3
"""Benchmark of the engine's analytics session and live decision feed.

    python3 perfbench/run.py --workload analytics|live \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the program
together with the benchmark harness (`perfbench/harness`, its own sbt
build over `src/main/scala`) into `.bench_build/perfbench`; later runs
reuse it while the sources are unchanged. The analytics tables are
generated once from a fixed base seed (`gen_data.py`); the run's seed
permutes the query order. The live feed is generated from the run's seed
(`livegen.py`). Each run starts a fresh JVM for the workload, checks its
outputs against references, and
prints one JSON object as the last line of stdout: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. `spec.json`
lists the workloads, the metric definitions and which layer moves which
metric. Exit status is non-zero when any output is wrong.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SPEC = json.load(open(os.path.join(HERE, "spec.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SPEC_E2E = BENCH["end_to_end"]
SPEC_LAYER = BENCH["per_layer"]
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
SETUP_PROBES = 2
BASE_SEED = 42
PROCS = []


T_START = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T_START:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256(open(os.path.join(ROOT, "build.sbt"), "rb").read())
    for base in ("src/main", "perfbench/harness"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt once per source state; return
    the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a source checkout: {need} is missing "
                 "(run from the repository root)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Xmx3g", "-XX:-UsePerfData", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building program + harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(ROOT, "perfbench", "harness"), env=env,
        stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    cp = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")][-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ------------------------------------------------------------------ processes

def java(cp, work, args, heap):
    launched = int(time.time() * 1000)
    cmd = (["java", f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
           + JAVA_OPENS + ["-cp", cp, "perfbench.Worker",
                           f"launched={launched}", f"work={work}"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                         stdout=open(f"{work}/jvm.out", "a"),
                         stderr=subprocess.STDOUT, start_new_session=True)
    PROCS.append(p)
    return p


def wait(p, timeout, what):
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_all()
        fail(f"{what} timed out after {timeout} s", 4)
    if rc != 0:
        fail(f"{what} exited with {rc}; see its log", 4)


def stop_all():
    for p in PROCS:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
    for p in PROCS:
        try:
            p.wait(timeout=20)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def worker(cp, work, mode, args, heap, timeout):
    out = f"{work}/{mode}.json"
    p = java(cp, work, [f"mode={mode}", f"out={out}"] + args, heap)
    wait(p, timeout, f"{mode} JVM")
    log(f"{mode} JVM done")
    with open(out) as f:
        return json.load(f)


def setup_probes(cp, work, heap):
    """Extra fresh JVMs, side by side, that only build the session: more
    samples of setup_s. They run after the checks, with nothing else."""
    ps = [(java(cp, work, ["mode=setup", f"out={work}/setup{i}.json"], heap),
           f"{work}/setup{i}.json") for i in range(SETUP_PROBES)]
    out = []
    for p, path in ps:
        wait(p, 120, "setup probe")
        out.append(json.load(open(path))["metrics"])
    log("setup probes done")
    return out


# ------------------------------------------------------------------ data

def dataset(sf):
    """The tables generated from BASE_SEED (every analytics run reads the
    same input; its seed permutes the query order)."""
    import gen_data
    d = os.path.join(BUILD, "data", f"sf{sf}-seed{BASE_SEED}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, BASE_SEED, sf)
        open(os.path.join(d, "DONE"), "w").close()
    return d


# ------------------------------------------------------------------ workloads

def tail(sorted_vals):
    """The highest order statistic with at least 10 samples beyond it; on
    a small sample (fewer than 50, where that would sit near the median)
    the maximum."""
    n = len(sorted_vals)
    return sorted_vals[n - 11 if n >= 50 else n - 1]


def run_analytics(cp, work, seed, trace):
    import check
    w = SPEC["workloads"]["analytics"]
    data = dataset(w["sf"])
    qs = SPEC["analytics_queries"]
    r = worker(cp, work, "analytics", [
        f"data={data}", f"seed={seed}", f"trace={int(trace)}",
        "queries=" + ",".join(qs)], w["heap"], 170)
    m = r["metrics"]
    oracle = check.Oracle(data, os.path.join(BUILD, "oracle"))
    sqls = json.load(open(f"{work}/oracle_sql.json"))
    bad = list(r.get("failures", []))
    for q in qs:
        why = oracle.compare(q, sqls[q], f"{work}/analytics/{q}")
        if why:
            bad.append(why)
    log("analytics outputs checked")
    cold = sorted(v * 1000 for k, v in r["per_query"].items() if k.endswith("#1"))
    m["analytics.cold.p50_ms"] = statistics.median(cold)
    m["analytics.cold.tail_ms"] = tail(cold)
    e2e = {"cold_s": m["analytics_cold_s"], "warm_s": m["analytics_warm_s"]}
    if trace:
        print_gap(r)
    return m, setup_probes(cp, work, w["heap"]), e2e, len(qs) * 2, bad


def print_gap(r):
    """The cold-warm gap split into builder (memo), planning and execution
    time, overall and per family (traced runs only)."""
    print("cold - warm gap (s)    total   build    plan    exec")
    rows = {f: [s["cold"][j] - s["warm"][j] for j in range(3)]
            for f, s in r["family_split"].items()}
    rows["all"] = [sum(v[j] for v in rows.values()) for j in range(3)]
    for f, d in rows.items():
        print(f"  {f:18s} {sum(d):7.2f} {d[0]:7.2f} {d[1]:7.2f} {d[2]:7.2f}")


def run_live(cp, work, seed, seconds, trace):
    import check
    w = SPEC["workloads"]["live"]
    live = f"{work}/live"
    os.makedirs(live, exist_ok=True)
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1")
    gen = [sys.executable, os.path.join(HERE, "livegen.py")]
    subprocess.run(gen + ["backfill", live, str(seed)], check=True, env=env,
                   stdin=subprocess.DEVNULL)
    out = f"{work}/live.json"
    p = java(cp, work, ["mode=live", f"out={out}", f"seed={seed}",
                        f"seconds={seconds}", f"trace={int(trace)}"], w["heap"])
    deadline = time.time() + 150
    while not os.path.exists(f"{live}/ready"):
        if p.poll() is not None or time.time() > deadline:
            stop_all()
            fail("live JVM did not start its queries", 4)
        time.sleep(0.02)
    ladder = [(w["base_rate"], w["warmup_seconds"], "warmup"),
              (w["base_rate"], seconds, "base")] + \
        [(r, w["rung_seconds"], "rung") for r in w["ladder"][1:]]
    g = subprocess.Popen(gen + ["run", live, str(seed), ",".join(
        f"{r}:{s}:{ph}" for r, s, ph in ladder)], env=env,
        stdin=subprocess.DEVNULL)
    PROCS.append(g)
    wait(g, seconds + 120, "live generator")
    log("live feed done")
    open(f"{live}/done", "w").close()
    wait(p, 170, "live JVM")
    r = json.load(open(out))
    m = r["metrics"]

    gs = json.load(open(f"{live}/gen_summary.json"))
    ledger = [json.loads(ln) for ln in open(f"{live}/ledger.jsonl")]
    # finalizing file of a window: the first whose newest event passes
    # the window end by the watermark delay
    fin_ts = _running_max([e["max_ts_ms"] for e in ledger])
    lat = {}  # phase + rate -> emit latencies (ms)
    import bisect
    for sym, win_ms, batch, commit_ms in r["emits"]:
        need = win_ms + 60_000 + w["watermark_ms"]
        i = bisect.bisect_left(fin_ts, need)
        if i >= len(ledger) or ledger[i]["phase"] not in ("base", "rung"):
            continue  # finalized by the backfill, warm-up or flush
        e = ledger[i]
        # timed from when the finalizing trades were due, so a generator
        # stall counts against the engine's latency, never hides it
        lat.setdefault(e["phase"] + str(e["rate"]), []).append(
            commit_ms - e["sched_ms"])
    base = sorted(lat.get("base" + str(float(w["base_rate"])), []))
    limit = w["latency_limit_ms"]
    prog = r["fused_progress"]  # [batch, end_ms, input_rows, trigger_ms]
    sustained = 0.0
    for rung in gs["rungs"][1:]:
        made = sum(e["rows"] for e in ledger if e["written_ms"] <= rung["end_ms"])
        done = sum(x[2] for x in prog if x[1] <= rung["end_ms"])
        backlog = max(0, made - done)
        m[f"live.backlog_rows_end.{int(rung['rate'])}"] = backlog
        ls = sorted(lat.get(rung["phase"] + str(rung["rate"]), []))
        # sustained: the tail meets the limit and what is left unprocessed
        # at the rung's end could be drained within the limit
        ok = bool(ls) and tail(ls) <= limit and \
            backlog <= rung["rate"] * limit / 1000.0
        if ok:
            sustained = max(sustained, rung["rate"])
    failed = sum(1 for x in base if x > limit)
    m["live.sustained_eps"] = sustained
    m["live.generator_lag_ms"] = gs["lag_max_ms"]
    m["live.emit_samples"] = len(base)
    bad = list(r.get("failures", []))
    if not base:
        bad.append("live: no fused result was finalized at the base rate")
    if m["live.rows_dropped_late"] != 0:
        bad.append(f"live: {m['live.rows_dropped_late']} rows dropped as late")
    if gs["lag_max_ms"] > w["max_generator_lag_ms"]:
        bad.append(f"live: generator ran {gs['lag_max_ms']:.0f} ms late; "
                   "the run is invalid")
    # the committed fused table must equal the batch replay of every
    # generated trade, over the windows the final watermark closed
    ref = check.read_dir(f"{live}/check_ref")
    closed = gs["flush_ts_ms"] - w["watermark_ms"] - 60_000
    ref = ref[ref["win_start"].astype("int64") // 1000 <= closed * 1000] \
        if ref is not None else None
    why = check.same_rows(f"{live}/check_got", ref) if ref is not None \
        else "no batch reference"
    if why:
        bad.append(f"live fused vs fusedBatch: {why}")
    # steady-state cost of the decision query: its median trigger over
    # the base phase
    b0 = gs["rungs"][1]
    steady = [x[3] for x in prog if b0["start_ms"] <= x[1] <= b0["end_ms"]]
    if base:
        m["live.emit_p50_ms"] = statistics.median(base)
        m["live.emit_tail_ms"] = tail(base)
    e2e = {"cold_s": m["live.startup_s"],
           "warm_s": statistics.median(steady) / 1000.0 if steady else None}
    return m, setup_probes(cp, work, w["heap"]), e2e, max(1, len(base)), \
        bad, failed


def _running_max(xs):
    out, cur = [], float("-inf")
    for x in xs:
        cur = max(cur, x)
        out.append(cur)
    return out


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in SPEC["workloads"]:
        fail(f"unknown workload {a.workload}")
    cp = build()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(a.trace)
    extra_failed = 0
    try:
        if a.workload == "analytics":
            m, probes, e2e, attempted, bad = run_analytics(cp, work, a.seed, trace)
        else:
            m, probes, e2e, attempted, bad, extra_failed = run_live(
                cp, work, a.seed, a.seconds, trace)
    finally:
        stop_all()
    failed = min(attempted, len(bad) + extra_failed)
    setups = [m["setup_s"]] + [p["setup_s"] for p in probes]
    e2e["setup_s"] = statistics.median(setups)
    for b in bad:
        log("MISMATCH " + b)
    hist = os.path.join(BUILD, "history", f"{a.workload}.jsonl")
    os.makedirs(os.path.dirname(hist), exist_ok=True)
    if not trace:
        with open(hist, "a") as f:
            f.write(json.dumps({"seed": a.seed, **e2e}) + "\n")
    if trace:
        metrics = per_layer(a.workload, m, e2e, hist, attempted, failed)
    else:
        metrics = {x["name"]: {"value": e2e[x["name"]], "unit": x["unit"]}
                   for x in SPEC_E2E}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        bad.append(f"metrics not measured: {missing}")
    if not bad:  # a failed run keeps its work directory and logs
        shutil.rmtree(work, ignore_errors=True)
    result = {"correct": not bad, "attempted": int(attempted),
              "failed": int(failed), "metrics": metrics}
    print(json.dumps(result))
    sys.exit(0 if not bad else 1)


def per_layer(workload, m, e2e, hist, attempted, failed):
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    past = [json.loads(ln)["cold_s"] for ln in open(hist)] \
        if os.path.exists(hist) else []
    m = dict(m)
    m["trace.cold_s"] = e2e["cold_s"]
    m["trace.overhead_s"] = e2e["cold_s"] - statistics.median(past) \
        if past else 0.0
    m["trace.untraced_runs"] = len(past)
    m["analytics.cold_s"] = m.get("analytics_cold_s", 0.0)
    m["analytics.warm_s"] = m.get("analytics_warm_s", 0.0)
    m["error_rate"] = failed / attempted
    out = {}
    for x in SPEC_LAYER:
        v = m.get(x["name"], 0.0)
        out[x["name"]] = {"value": 0.0 if v is None else v, "unit": x["unit"]}
    return out


if __name__ == "__main__":
    main()
