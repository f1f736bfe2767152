#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark client from source (`sbt` in perfbench/) and generates the
input tables; later runs reuse both (under .bench_build/perfbench/).

One run:
  1. builds the engine's session three times, each in a fresh JVM;
  2. in the last of those JVMs, after a warm-up pass over the same
     queries on sf0.01 tables, the closed-loop client runs the
     workload's queries one after another, each to a full result, in an
     order fixed by the seed, pass after pass until S seconds of passes
     have run (at least one pass). A full GC between queries, outside
     the timed window and the pass's CPU, starts every query from the
     same compact heap. `setup_s` is the time from JVM start to the
     first timed query: the session build (median of the three JVMs)
     plus the warm-up pass;
  3. checks every result against the DuckDB oracle (rendered as
     scripts/check.py renders it), and every repeated run of a query
     against that query's first run;
  4. prints one JSON line: the end-to-end metrics (--trace 0) or the
     per-layer metrics from the tracer (--trace 1).

Host-health fields (loadavg at start, middle and end; self CPU) and the
input generation time go to stderr and the run's record under
.bench_build/perfbench/runs/; they are recorded only, never judged.

Other modes:
    python3 perfbench/run.py --plan QUERY    print QUERY's executed plan
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import workloads  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
SETUPS = 3          # session builds per run, each in a fresh JVM; their median is in setup_s
BASE_SEED = 42      # the sf0.1 tables are fixed; the seed orders the queries
WARM_SF = 0.01      # tables of the warm-up pass, part of setup_s
RUN_TIMEOUT = 170   # seconds, for the whole run after the build
JVM_OPTS = [
    "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + client once per source state; returns (classpath, meta)."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    out = os.path.join(STATE, "build", source_stamp())
    cp_file, meta_file = os.path.join(out, "classpath.txt"), os.path.join(out, "meta.json")
    if os.path.isfile(cp_file) and os.path.isfile(meta_file):
        with open(cp_file) as f, open(meta_file) as g:
            return f.read().strip(), json.load(g)
    t = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.isfile(repos) else [])))
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (sbt exit {r.returncode}); log in {out}/sbt.log")
    cp = lines[-1].strip()
    jvm(cp, ["meta", f"out={meta_file}.tmp"], cwd=out, timeout=120)
    os.rename(meta_file + ".tmp", meta_file)
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t:.1f}s")
    with open(meta_file) as f:
        return cp, json.load(f)


# --------------------------------------------------------------- inputs

def base_data(sf=0.1):
    d = os.path.join(STATE, "data", f"base-{BASE_SEED}" + ("" if sf == 0.1 else f"-sf{sf}"))
    if not os.path.isdir(d):
        import gen
        gen.base(d, BASE_SEED, sf)
    return d


def inputs(w, seed):
    """(data dir, data id, generation seconds) for workload w at seed."""
    t = time.time()
    base = base_data()
    if not w.scale:
        return base, f"base-{BASE_SEED}", time.time() - t
    name = f"up{w.scale}-s{seed}"
    d = os.path.join(STATE, "data", name)
    if not os.path.isdir(d):
        # keep a few expansions; each is ~65 MB at k=4
        up = sorted((os.path.join(STATE, "data", x) for x in os.listdir(os.path.join(STATE, "data"))
                     if x.startswith("up")), key=os.path.getmtime)
        for old in up[:-2]:
            shutil.rmtree(old, ignore_errors=True)
        import gen
        gen.scale_up(base, d, w.scale, seed)
    return d, name, time.time() - t


def expected(w, data, data_id, meta):
    """Oracle results for w's queries on `data`, cached per (workload, data).
    On the fixed sf0.1 tables, one file serves every sf0.1 workload."""
    queries = sorted({q for v in workloads.WORKLOADS if not v.scale for q in v.queries}
                     if not w.scale else w.queries)
    key = hashlib.sha256(json.dumps([[q, meta["oracle"].get(q)] for q in queries]).encode())
    path = os.path.join(STATE, "expected", f"{data_id}-{key.hexdigest()[:12]}.json")
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    import duckdb
    check = load_check()
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for q in queries:
        sql = meta["oracle"].get(q)
        if sql is not None:
            cols, rows, _ = check.fetch(con, sql, oracle_side=True)
            out[q] = {"cols": cols, "rows": rows}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.rename(path + ".tmp", path)
    return out


def load_check():
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check
    return check


def verify(results_dir, names, exp):
    """{query: failure reason} for each query whose result does not match."""
    import duckdb
    check = load_check()
    con = duckdb.connect()
    bad = {}
    for q in names:
        d = os.path.join(results_dir, q)
        try:
            if q in exp:
                cols, rows, _ = check.fetch(con, f"SELECT * FROM '{d}/*.parquet'", oracle_side=False)
                e = exp[q]
                if cols != e["cols"]:
                    bad[q] = f"columns {cols} vs oracle {e['cols']}"
                elif rows != e["rows"]:
                    diff = next((i for i, (a, b) in enumerate(zip(rows, e["rows"])) if a != b),
                                min(len(rows), len(e["rows"])))
                    bad[q] = f"{len(rows)} rows vs oracle {len(e['rows'])}; first difference at row {diff}"
            else:  # no oracle SQL: the check is a non-empty result, as in check.py
                n = con.execute(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
                if n == 0:
                    bad[q] = "empty result"
        except Exception as ex:  # noqa: BLE001 - any read failure is a failed check
            bad[q] = f"unreadable result: {ex}"
    return bad


# ------------------------------------------------------------------ JVM

def jvm(cp, args, cwd, timeout):
    """Run the client JVM to completion; returns stdout. Kills it on timeout."""
    os.makedirs(cwd, exist_ok=True)
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-cp", cp, "perfbench.Harness", *args]
    # every scratch directory stays inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cwd, "spark-local"),
               SPARK_GRAFT_STREAM_CKPT_ROOT=os.path.join(cwd, "ckpt"))
    os.makedirs(env["SPARK_GRAFT_STREAM_CKPT_ROOT"], exist_ok=True)
    err = open(os.path.join(cwd, "jvm.log"), "a")
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"client timed out after {timeout:.0f}s: {' '.join(args[:1])}")
    finally:
        err.close()
    if p.returncode != 0:
        fail(f"client exited {p.returncode} in mode {args[0]}; log in {err.name}")
    return out


# -------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear interpolation between the two order statistics around q."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    i = int(pos)
    return xs[i] + (xs[min(i + 1, len(xs) - 1)] - xs[i]) * (pos - i)


def hd_quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta((n+1)q, (n+1)(1-q))
    weighted mean of all n order statistics. A run has few samples, from a
    few distinct queries, and the plain median is then the time of a single
    query; this estimate also weighs its neighbours, so it moves less from
    run to run."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    lbeta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 1000 * n  # midpoint rule; step j falls in order statistic j*n//steps
    w = [0.0] * n
    for j in range(steps):
        t = (j + 0.5) / steps
        w[j * n // steps] += math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - lbeta)
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plan", metavar="QUERY")
    a = ap.parse_args()
    t_start = time.time()

    cp, meta = build()
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    n = cores()
    if a.plan:
        print(jvm(cp, ["plan", f"cores={n}", f"data={base_data()}", f"work={work}",
                       f"query={a.plan}"], cwd=work, timeout=RUN_TIMEOUT), end="")
        shutil.rmtree(work, ignore_errors=True)
        return
    if a.workload not in workloads.BY_NAME:
        fail(f"unknown workload {a.workload!r}; one of {sorted(workloads.BY_NAME)}")
    w = workloads.BY_NAME[a.workload]
    missing = [q for q in w.queries if q not in meta["queries"]]
    if missing:
        fail(f"queries missing from the engine: {missing}")

    t_run = time.time()
    phase_s, lap = {}, [t_run]

    def phase(name):  # wall time of each step of the run, for the record
        now = time.time()
        phase_s[name] = now - lap[0]
        lap[0] = now

    data, data_id, gen_s = inputs(w, a.seed)
    phase("inputs")
    exp = expected(w, data, data_id, meta)
    phase("oracle")
    deadline = t_run + RUN_TIMEOUT

    common = [f"cores={n}", f"data={data}", f"work={work}"]
    builds = []
    for _ in range(SETUPS - 1):
        out = jvm(cp, ["setup", *common], cwd=work, timeout=deadline - time.time())
        builds.append(json.loads(out.strip().splitlines()[-1])["build_s"])
    phase("session_builds")
    jvm(cp, ["run", *common, f"warm={base_data(WARM_SF)}",
             f"queries={','.join(w.queries)}", f"seed={a.seed}",
             f"seconds={a.seconds}", f"trace={a.trace}"], cwd=work,
        timeout=deadline - time.time())
    with open(os.path.join(work, "run.json")) as f:
        r = json.load(f)
    builds.append(r["build_s"])
    phase("client")

    samples = r["samples"]
    bad = verify(os.path.join(work, "results"), sorted({s["name"] for s in samples if not s["error"]}), exp)
    phase("check")
    failed = [s for s in samples if s["error"] or s["name"] in bad]
    ok = [s for s in samples if not (s["error"] or s["name"] in bad)]
    for q, why in sorted(bad.items()):
        log(f"FAIL {q}: {why}")
    for s in samples:
        if s["error"]:
            log(f"FAIL {s['name']} (pass {s['pass']}): {s['error'][:300]}")
    passes = r["passes"]
    walls = [s["wall_s"] for s in ok] or [0.0]
    if a.trace:
        metrics = dict(r["layers"])
        metrics["collect.rows"] = sum(s["rows"] for s in samples) / passes
        metrics["jvm.gc_s"] = r["jvm"]["gc_s"]
        metrics["jvm.jit_s"] = r["jvm"]["jit_s"]
        metrics["jvm.setup_jit_s"] = r["jvm"]["setup_jit_s"]
        metrics["trace.pass_s"] = statistics.median(r["pass_wall_s"])
    else:
        metrics = {
            "setup_s": statistics.median(builds) + r["warmup_s"],
            "pass_s": statistics.median(r["pass_wall_s"]),
            "query_p50_s": hd_quantile(walls, 0.5),
            "query_p90_s": quantile(walls, 0.9),
            "cpu_s": statistics.median(r["pass_cpu_s"]),
            "peak_rss_mb": r["peak_rss_mb"],
            "ok_frac": len(ok) / len(samples),
        }
    spec = bench_spec()["per_layer" if a.trace else "end_to_end"]
    if sorted(metrics) != sorted(m["name"] for m in spec):
        fail(f"metrics {sorted(metrics)} do not match BENCHMARK.json {[m['name'] for m in spec]}")
    record = {
        "workload": w.name, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "data": data_id, "gen_s": gen_s, "builds_s": builds, "warmup_s": r["warmup_s"],
        "run_jvm_setup_s": r["setup_s"],
        "passes": passes,
        "samples": len(samples), "failed_queries": sorted({s["name"] for s in failed}),
        "health": r["health"], "run_wall_s": time.time() - t_start, "phase_s": phase_s,
        "metrics": metrics,
    }
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(runs, f"{stamp}-{w.name}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({**record, "pass_wall_s": r["pass_wall_s"],
                   "per_query": samples, "unstable": r["unstable"]}, f)
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(runs, f"{stamp}-{w.name}-s{a.seed}.spans.jsonl"))
    log(f"phases {json.dumps({k: round(v, 1) for k, v in phase_s.items()})}")
    log(f"health {json.dumps(r['health'])} gen_s {gen_s:.2f} builds {builds} "
        f"passes {passes} samples {len(samples)} failed {len(failed)}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failed, "attempted": len(samples), "failed": len(failed),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }))


if __name__ == "__main__":
    main()
