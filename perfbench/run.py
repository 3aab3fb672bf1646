#!/usr/bin/env python3
"""graft's benchmark: three workloads timed end to end, plus a traced run.

Usage:
  python3 perfbench/run.py --workload {serve,iterative,etl} --seed N
                           --seconds S --trace {0,1}

Run from the repository root. The first run builds the library and the
harness with sbt (offline); later runs reuse the build. The input tables
are the repository's sf0.01 test fixture (TESTDATA.md), committed under
perfbench/data/sf0.01 and only read. Each run:

  1. writes the workload's seeded inputs (serve's request stream, etl's
     change set and session gap) into a run directory;
  2. starts the harness (perfbench/src, class graftbench.Main) on the JVM,
     which sets up a Spark session several times, runs a cold pass over
     every distinct operation and then the measured window; with
     --trace 1 it runs the same window again with listeners and spans on,
     and once more without, to estimate the tracing overhead;
  3. checks every distinct result against DuckDB with the repository's
     tools/selfcheck.py, outside the timed region;
  4. prints each metric by name and unit, writes the whole record to
     perfbench/.out/<workload>-seed<N>-trace<T>.json, and prints one JSON
     object as the last line of standard output.

The metric names and units come from BENCHMARK.json at the repository
root: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
RUNS_DIR = os.path.join(HERE, ".runs")
OUT_DIR = os.path.join(HERE, ".out")
SETUPS = 3
HEAP = "3g"
# A run must end within 180 s (the first one, which builds, within 900 s).
BUILD_TIMEOUT_S = 600
JVM_TIMEOUT_S = 140
CHECK_TIMEOUT_S = 30

# Measured passes per run for the batch workloads: a fixed amount of work,
# sized so that it takes about --seconds on a 4-core box, so every run of a
# workload times the same passes and samples. etl's figure is below its
# pass time so that it gets 8 passes, 32 samples, enough for a tail
# percentile with ten samples beyond it.
NOMINAL_PASS_S = {"iterative": 2.0, "etl": 0.75}
# Untimed passes (serve: rounds of every template) between the cold pass
# and the measured window, so the measured passes start after the JIT
# has compiled the hot paths rather than on its warm-up slope (iterative's
# first measured pass ran 20-40% slower than its second without any, and
# still ~10% slower after one).
WARMUPS = {"serve": 0, "iterative": 2, "etl": 1}

WORKLOAD_TABLES = {
    "serve": ["orders", "lineitem", "customer", "part", "events", "documents"],
    "iterative": ["lineitem", "embeddings"],
    "etl": ["lineitem", "documents", "customer", "events"],
}

# Which end-to-end metric each per-layer metric should move, and where.
LAYER_MOVES = {
    "sources.warm_s": "setup_s (serve)",
    "sources.cached_tables": "cached_mb, latency_p50_ms (serve)",
    "sources.cached_mb": "cached_mb, latency_p50_ms (serve)",
    "sources.scan_mb": "pass_s (etl)",
    "sources.scan_rows": "pass_s (etl)",
    "sources.write_s": "pass_s, bytes_written_per_input_byte (etl)",
    "sources.written_mb": "pass_s, bytes_written_per_input_byte (etl)",
    "sources.files_written": "pass_s, bytes_written_per_input_byte (etl)",
    "queries.build_ms": "latency_p50_ms, cold_pass_s (serve)",
    "plans.analysis_ms": "latency_p50_ms, cold_pass_s (serve)",
    "plans.optimization_ms": "latency_p50_ms, cold_pass_s (serve)",
    "plans.planning_ms": "latency_p50_ms, cold_pass_s (serve)",
    "plans.exchanges": "pass_s (iterative, etl)",
    "plans.broadcasts": "pass_s (iterative, etl)",
    "exec.jobs": "latency_p50_ms (serve), pass_s (iterative)",
    "exec.stages": "latency_p50_ms (serve), pass_s (iterative)",
    "exec.tasks": "latency_p50_ms (serve), pass_s (iterative)",
    "exec.task_run_s": "pass_s (iterative, etl)",
    "exec.task_cpu_s": "pass_s (iterative, etl)",
    "exec.core_busy_ratio": "pass_s (iterative, etl)",
    "exec.sched_delay_ms": "latency_tail_ms, ops_per_s (serve)",
    "exec.gc_ms": "latency_tail_ms, ops_per_s (serve)",
    "exec.failed_tasks": "failed_ratio",
    "shuffle.write_mb": "pass_s (iterative, etl)",
    "shuffle.read_mb": "pass_s (iterative, etl)",
    "shuffle.fetch_wait_ms": "pass_s (iterative, etl)",
    "shuffle.spill_mb": "pass_s (iterative)",
    "util.cache_written_mb": "pass_s (iterative)",
    "util.cache_held_mb": "cached_mb (all)",
    "driver.result_rows": "latency_p50_ms (serve)",
    "driver.result_mb": "latency_p50_ms (serve)",
    "driver.fetch_ms": "latency_p50_ms (serve)",
}

# ---------------------------------------------------------------- serve
# The reference endpoints with fixed parameters, issued through
# Registry.allQueries(..).run, and four parameterised endpoints issued
# through graft's operators with seeded arguments.
SERVE_REGISTRY = ["q_years", "q_first_rows", "q_filter_by_token", "q_hourly_by_type",
                  "q_value_stats", "q_top_words", "q_owner_leaderboard", "q_top50_owners"]
SERVE_PARAM = ["page", "keyset", "search", "topk"]
SERVE_TEMPLATES = SERVE_REGISTRY + SERVE_PARAM
SERVE_BLOCKS = 200
CUSTOMER_COLS = "c_custkey, c_name, c_mktsegment, c_acctbal"


def fixture_values(table, column):
    """The sorted distinct values of one fixture column."""
    import pyarrow.parquet as pq
    col = pq.read_table(os.path.join(DATA_DIR, f"{table}.parquet"), columns=[column])[column]
    return sorted(set(col.to_pylist()))


def serve_request(rng, template, keywords):
    """(key, fields, oracle SQL or None) of one request; `keywords` are the
    words part names are made of."""
    if template == "page":
        p = rng.randint(1, 40)
        return (f"page_{p}", [p], f"SELECT {CUSTOMER_COLS} FROM customer "
                f"ORDER BY c_custkey LIMIT 20 OFFSET {(p - 1) * 20}")
    if template == "keyset":
        last = rng.choice([-1] + list(range(0, 800, 20)))
        where = "" if last < 0 else f"WHERE c_custkey > {last} "
        return (f"keyset_{last}", [last], f"SELECT {CUSTOMER_COLS} FROM customer "
                f"{where}ORDER BY c_custkey LIMIT 20")
    if template == "search":
        kw = rng.choice(keywords)
        lo = rng.choice([900.0, 925.0, 950.0])
        hi = lo + rng.choice([20.0, 45.0])
        brands = rng.choice(["Brand#1,Brand#2", "Brand#7,Brand#13", "Brand#21,Brand#25"])
        inlist = ", ".join(f"'{b}'" for b in brands.split(","))
        key = f"search_{kw}_{int(lo)}_{int(hi)}_{brands.replace('Brand#', '').replace(',', '-')}"
        return (key, [kw, lo, hi, brands],
                "SELECT p_partkey AS partkey, p_name AS name, p_brand AS brand, "
                "p_retailprice AS price FROM part "
                f"WHERE (contains(lower(p_name), '{kw}') OR contains(lower(p_type), '{kw}') "
                f"OR p_brand IN ({inlist})) "
                f"AND p_retailprice BETWEEN {lo} AND {hi} ORDER BY partkey")
    if template == "topk":
        k = rng.randint(1, 12)
        return (f"topk_{k}", [k], f"SELECT {CUSTOMER_COLS}, CAST(rnk AS BIGINT) AS rnk FROM "
                "(SELECT *, row_number() OVER (PARTITION BY c_mktsegment "
                "ORDER BY c_acctbal DESC, c_custkey) AS rnk FROM customer) "
                f"WHERE rnk <= {k}")
    return (template, [], None)


def serve_inputs(seed, run_dir):
    """Cold list: one request per template. Stream: blocks, each a seeded
    permutation of every template, so each block has the same mix."""
    rng = random.Random(seed)
    oracles = {}
    keywords = sorted({w for name in fixture_values("part", "p_name") for w in name.split()})

    def line(template):
        key, fields, sql = serve_request(rng, template, keywords)
        if sql is not None:
            oracles[key] = sql
        return "\t".join([key, template] + [str(f) for f in fields])

    cold = [line(t) for t in rng.sample(SERVE_TEMPLATES, len(SERVE_TEMPLATES))]
    stream = [line(t) for _ in range(SERVE_BLOCKS)
              for t in rng.sample(SERVE_TEMPLATES, len(SERVE_TEMPLATES))]
    for name, lines in (("cold.tsv", cold), ("stream.tsv", stream)):
        with open(os.path.join(run_dir, name), "w") as f:
            f.write("\n".join(lines) + "\n")
    return oracles


# ---------------------------------------------------------------- etl
def etl_inputs(seed, run_dir):
    """A seeded change set over customer (updates, inserts, null-outs)
    and a seeded session gap; returns the oracle SQL of each output."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    n_cust = len(fixture_values("customer", "c_custkey"))
    segments = fixture_values("customer", "c_mktsegment")
    n = 400
    keys = [rng.randrange(0, n_cust + n_cust // 10) for _ in range(n)]
    versions = [rng.randint(1, 5) for _ in range(n)]
    change_ids = list(range(n))
    rng.shuffle(change_ids)
    changes = pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}-v{v}" for k, v in zip(keys, versions)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
        "c_acctbal": pa.array([None if rng.random() < 0.05 else round(rng.uniform(-999.99, 9999.99), 2)
                               for _ in range(n)], pa.float64()),
        "c_mktsegment": [rng.choice(segments) for _ in range(n)],
        "version": pa.array(versions, pa.int64()),
        "change_id": pa.array(change_ids, pa.int64()),
    })
    path = os.path.join(run_dir, "changes.parquet")
    pq.write_table(changes, path)
    gap = rng.choice([10, 20, 30, 45, 60])
    with open(os.path.join(run_dir, "params.tsv"), "w") as f:
        f.write(f"changes\t{path}\ngap_minutes\t{gap}\n")
    pick = ("CASE WHEN c.c_custkey IS NOT NULL THEN c.{0} ELSE b.{0} END AS {0}")
    return {
        "etl_lineitem_clean": """
          SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
                 least(greatest(l_quantity, CAST(5.0 AS DOUBLE)), CAST(45.0 AS DOUBLE)) AS l_quantity,
                 l_extendedprice, l_discount, l_tax,
                 coalesce(CASE WHEN l_returnflag IN ('N') THEN NULL ELSE l_returnflag END, 'U')
                   AS l_returnflag,
                 l_linestatus, l_shipdate
          FROM lineitem""",
        "etl_customer_upsert": f"""
          WITH latest AS (
            SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY c_custkey
                                           ORDER BY version DESC, change_id DESC) AS rn
              FROM read_parquet('{path}')) WHERE rn = 1)
          SELECT {", ".join(pick.format(c) for c in
                            ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"])},
                 CASE WHEN c.c_custkey IS NOT NULL AND b.c_custkey IS NOT NULL THEN 'U'
                      WHEN c.c_custkey IS NOT NULL THEN 'I' ELSE 'K' END AS op
          FROM customer b FULL OUTER JOIN latest c ON b.c_custkey = c.c_custkey""",
        "etl_sessions": f"""
          WITH e AS (SELECT user_id, epoch_ns(ts) AS t FROM events),
          f AS (SELECT user_id, t,
                  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > {gap * 60 * 10**9}
                       THEN 1 ELSE 0 END AS isnew
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
          s AS (SELECT user_id, sum(isnew) OVER (PARTITION BY user_id ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
          SELECT user_id AS key, CAST(max(sid) AS BIGINT) AS n_sessions,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(count(*) AS DOUBLE) / CAST(max(sid) AS DOUBLE) AS events_per_session
          FROM s GROUP BY user_id""",
    }, path


# ---------------------------------------------------------------- plumbing
def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole
    group, waits for it and returns code None with the output so far."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        print(f"perfbench: {cmd[0]} timed out after {timeout} s", file=sys.stderr)
        return None, out or "", err or ""
    return p.returncode, out, err


def digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness; returns the JVM classpath."""
    lib = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(lib) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("graft's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    key = digest([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                  os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")])
    stamp, cp_file = os.path.join(BUILD_DIR, "stamp"), os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == key:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    code, out, err = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, cwd=HERE, env=env,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "graftbench" in lines[-1] or ":" not in lines[-1]:
        sys.stderr.write(out[-3000:] + err[-3000:])
        fail(f"sbt build failed (exit {code})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(key)
    return lines[-1].strip()


def jvm_cmd(cp, run_dir):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    args = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        args += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return args + ["-cp", cp, "graftbench.Main"]


def selfcheck(data_dir, check_dir):
    """Runs tools/selfcheck.py; returns {key: status} for every result it
    reached. A result it did not reach (it timed out) has no status and
    counts as failed."""
    code, out, err = run_group([sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"),
                                data_dir, check_dir], CHECK_TIMEOUT_S, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True)
    status = {}
    for line in out.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("OK", "FAIL", "MISS", "ORAERR", "SKIP"):
            status[parts[1].rstrip(":")] = parts[0]
            if parts[0] != "OK":
                print(f"check: {line}", file=sys.stderr)
    if code not in (0, 1):
        sys.stderr.write(err[-2000:])
    return status


def tail(values):
    """(value, percentile, samples beyond) of the highest percentile with at
    least ten samples beyond it; with fewer than 20 samples, the maximum."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        return v[-1], 100.0, 0
    return v[n - 11], 100.0 * (n - 10) / n, 10


def cpu_ticks():
    """Per-state CPU ticks since boot (user ... steal), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(t0, t1):
    """Share of CPU time the hypervisor gave to other guests, in percent:
    a run with a high share was slowed by its neighbours."""
    if not t0 or not t1:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / max(1, sum(d))


def git_commit():
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    return "unknown"


def input_stamp(data_dir, tables, extra=()):
    import pyarrow.parquet as pq
    files = [os.path.join(data_dir, f"{t}.parquet") for t in tables] + list(extra)
    return {"bytes": sum(os.path.getsize(f) for f in files),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "tables": list(tables) + [os.path.basename(f) for f in extra]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "iterative", "etl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    started = time.time()

    cp = build()
    data_dir = DATA_DIR
    if not os.path.isfile(os.path.join(data_dir, "lineitem.parquet")):
        fail(f"the input tables are missing from {os.path.relpath(data_dir, ROOT)}")
    cores = len(os.sched_getaffinity(0))
    clients = max(1, cores // 2)
    passes = max(2, round(a.seconds / NOMINAL_PASS_S.get(a.workload, 1.0)))

    run_dir = os.path.join(RUNS_DIR, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    check_dir = os.path.join(run_dir, "check")
    extra_inputs = []
    oracles = {}
    if a.workload == "serve":
        oracles = serve_inputs(a.seed, run_dir)
    elif a.workload == "etl":
        oracles, changes = etl_inputs(a.seed, run_dir)
        extra_inputs = [changes]

    try:
        jvm_args = [a.workload, data_dir, run_dir, str(a.seconds), str(a.trace), str(a.seed),
                    str(cores), str(clients), str(passes), str(SETUPS),
                    str(WARMUPS[a.workload])]
        t_jvm = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            code, _, _ = run_group(jvm_cmd(cp, run_dir) + jvm_args, JVM_TIMEOUT_S,
                                   stdout=log, stderr=subprocess.STDOUT)
        if code != 0 or not os.path.isfile(os.path.join(run_dir, "result.json")):
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            fail("harness timed out" if code is None else f"harness exited with {code}")
        with open(os.path.join(run_dir, "result.json")) as f:
            r = json.load(f)

        oracles.update(r["oracles"])
        os.makedirs(check_dir, exist_ok=True)
        with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
            json.dump(oracles, f)
        t_check = time.time()
        status = selfcheck(data_dir, check_dir)
        timings = {"prepare_s": t_jvm - started, "jvm_s": t_check - t_jvm,
                   "jvm_inside_s": r["jvm_s"], "dump_s": r["dump_s"],
                   "check_s": time.time() - t_check}
        inputs = input_stamp(data_dir, WORKLOAD_TABLES[a.workload], extra_inputs)
        record = summarise(a, r, status, inputs, passes, clients, spec)
        record["timings"] = dict(timings, total_s=time.time() - started)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record["env"] = dict(r["env"], nproc=cores, heap=HEAP, git_commit=git_commit(),
                         loadavg_start=load_start, loadavg_end=os.getloadavg(),
                         cpu_steal_pct=steal_pct(ticks_start, cpu_ticks()),
                         inputs_dir=os.path.relpath(DATA_DIR, ROOT), inputs=inputs)
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    shown = dict(record["end_to_end"], **record.get("per_layer", {}))
    for name, m in sorted(shown.items()):
        n = f" (n={m['samples']})" if "samples" in m else ""
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}{n}")
    metrics = {}
    for m in wanted:
        got = shown[m["name"]]
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


def summarise(a, r, status, inputs, passes, clients, spec):
    """Turns the harness's raw record into metrics and a correctness verdict."""
    cold, win = r["cold"], r["window"]
    runs = [cold, win] + [r[k] for k in ("traced_window", "after_window") if k in r]
    samples = [s for w in runs for s in w["samples"]]
    keys = {s[0] for s in samples}
    bad_keys = {k for k in keys if status.get(k) != "OK"} | set(r["errors"])
    failed = sum(1 for s in samples if not s[3] or s[0] in bad_keys)
    attempted = len(samples)

    ok_ms = [s[2] for s in win["samples"] if s[3]]
    n_ok = len(ok_ms)
    t_val, t_pct, t_beyond = tail(ok_ms) if ok_ms else (float("nan"), 0.0, 0)
    if a.workload == "serve":
        pass_s = win["wall_s"] * len(SERVE_TEMPLATES) / max(1, n_ok)
    else:
        pass_s = statistics.median(win["passes_s"])
    e2e = {
        "setup_s": {"value": statistics.median(r["setup_s"]), "unit": "s",
                    "samples": len(r["setup_s"])},
        "cold_pass_s": {"value": cold["wall_s"], "unit": "s", "samples": 1},
        "pass_s": {"value": pass_s, "unit": "s",
                   "samples": len(win["passes_s"]) if win["passes_s"] else n_ok},
        "ops_per_s": {"value": n_ok / win["wall_s"], "unit": "1/s", "samples": n_ok},
        "latency_p50_ms": {"value": statistics.median(ok_ms) if ok_ms else float("nan"),
                           "unit": "ms", "samples": n_ok},
        "latency_tail_ms": {"value": t_val, "unit": "ms", "samples": n_ok,
                            "percentile": t_pct, "beyond": t_beyond},
        "cached_mb": {"value": r["cached_bytes_end"] / 2**20, "unit": "MB", "samples": 1},
        "failed_ratio": {"value": failed / max(1, attempted), "unit": "ratio",
                         "samples": attempted},
    }
    # pass 0 is the cold pass, the next `warmups` are untimed
    warmups = WARMUPS[a.workload]
    written = r["written"]["pass_bytes"][1 + warmups:1 + warmups + passes]
    if written:
        e2e["bytes_written_per_input_byte"] = {
            "value": statistics.median(written) / inputs["bytes"], "unit": "ratio",
            "samples": len(written)}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "clients": clients if a.workload == "serve" else 1,
        "loop": "closed" if a.workload == "serve" else "serial passes",
        "passes": passes if a.workload != "serve" else None,
        "why": next(w["why"] for w in spec["workloads"] if w["name"] == a.workload),
        "end_to_end": e2e, "attempted": attempted, "failed": failed,
        "correct": failed == 0 and bool(keys) and all(status.get(k) == "OK" for k in keys),
        "check": {k: status.get(k, "MISSING") for k in sorted(keys)},
        "errors": r["errors"],
        "cached_tables": r["cached_tables"],
        "cached_mb_after_setup": r["cached_bytes_after_setup"] / 2**20,
        "warm_budget_mb": r["env"]["warm_budget_bytes"] / 2**20,
        "est_cached_mb": r["env"]["est_cached_bytes"] / 2**20,
        "raw": {"setup_s": r["setup_s"], "sources_setup_s": r["sources_setup_s"],
                "cold": cold, "window": win},
    }
    if a.workload == "serve":
        seen, repeats = {s[0] for s in cold["samples"]}, 0
        for s in win["samples"]:
            repeats += s[0] in seen
            seen.add(s[0])
        record["distinct_requests"] = len(keys)
        record["repeat_share"] = repeats / max(1, len(win["samples"]))
    else:
        record["distinct_requests"] = len(keys)
    if "trace" in r:
        record["per_layer"] = per_layer(r, a.workload)
        record["layer_moves"] = LAYER_MOVES
        record["trace"] = r["trace"]
        # the untraced windows before and after the traced one are the base
        tw, after = r["traced_window"], r["after_window"]
        if a.workload == "serve":
            def ok(w):
                return [s[2] for s in w["samples"] if s[3]]
            base, now = statistics.median(ok_ms + ok(after)), statistics.median(ok(tw))
        else:
            base = statistics.median(win["passes_s"] + after["passes_s"])
            now = statistics.median(tw["passes_s"])
        record["per_layer"]["trace.overhead_pct"] = {"value": 100.0 * (now / base - 1.0),
                                                     "unit": "%"}
    return record


def per_layer(r, workload):
    """Per-op means of the traced window's counters and self times."""
    t = r["trace"]
    ops = max(1, t["ops"])
    mb = 2.0 ** 20
    held = t["cache_held_bytes_after_op"]
    traced_passes = len(r["traced_window"]["passes_s"])
    m = {
        "sources.warm_s": (statistics.median(r["sources_setup_s"]), "s"),
        "sources.cached_tables": (r["cached_tables"], "count"),
        "sources.cached_mb": (r["cached_bytes_after_setup"] / mb, "MB"),
        "sources.scan_mb": (t["input_bytes"] / mb / ops, "MB/op"),
        "sources.scan_rows": (t["input_records"] / ops, "rows/op"),
        "sources.write_s": (t["write_ms"] / 1000.0 / ops, "s/op"),
        "sources.written_mb": (t["output_bytes"] / mb / ops, "MB/op"),
        # the traced passes come just before the last (untraced) window's
        "sources.files_written": (sum(r["written"]["pass_files"][-2 * traced_passes:-traced_passes])
                                  / ops if traced_passes else 0.0, "count/op"),
        "queries.build_ms": (t["build_ms"] / ops, "ms/op"),
        "plans.analysis_ms": (t["analysis_ms"] / ops, "ms/op"),
        "plans.optimization_ms": (t["optimization_ms"] / ops, "ms/op"),
        "plans.planning_ms": (t["planning_ms"] / ops, "ms/op"),
        "plans.exchanges": (t["exchanges"] / ops, "count/op"),
        "plans.broadcasts": (t["broadcasts"] / ops, "count/op"),
        "exec.jobs": (t["jobs"] / ops, "count/op"),
        "exec.stages": (t["stages"] / ops, "count/op"),
        "exec.tasks": (t["tasks"] / ops, "count/op"),
        "exec.task_run_s": (t["task_run_ms"] / 1000.0 / ops, "s/op"),
        "exec.task_cpu_s": (t["task_cpu_ns"] / 1e9 / ops, "s/op"),
        "exec.core_busy_ratio": (t["task_run_ms"] / 1000.0 / (t["wall_s"] * r["env"]["cores"]),
                                 "ratio"),
        "exec.sched_delay_ms": (t["sched_delay_ms"] / ops, "ms/op"),
        "exec.gc_ms": (t["gc_ms"] / ops, "ms/op"),
        "exec.failed_tasks": (t["failed_tasks"], "count"),
        "shuffle.write_mb": (t["shuffle_write_bytes"] / mb / ops, "MB/op"),
        "shuffle.read_mb": (t["shuffle_read_bytes"] / mb / ops, "MB/op"),
        "shuffle.fetch_wait_ms": (t["fetch_wait_ms"] / ops, "ms/op"),
        "shuffle.spill_mb": (t["spill_bytes"] / mb / ops, "MB/op"),
        "util.cache_written_mb": (t["rdd_stored_bytes"] / mb / ops, "MB/op"),
        "util.cache_held_mb": (max(held) / mb, "MB"),
        "driver.result_rows": (t["result_rows"] / ops, "rows/op"),
        "driver.result_mb": (t["result_bytes"] / mb / ops, "MB/op"),
        "driver.fetch_ms": (t["fetch_ms"] / ops, "ms/op"),
    }
    for layer, ms in t["self_ms"].items():
        m[f"self.{layer}_ms"] = (ms / ops, "ms/op")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    main()
