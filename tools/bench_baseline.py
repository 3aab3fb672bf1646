#!/usr/bin/env python3
"""DuckDB wall-clock baseline for the bench headliners.

Runs each headline query's oracle SQL (the semantically identical
DuckDB formulation the correctness gate already trusts) against the
same parquet tables Bench times Spark on, and prints a per-query
markdown table. This is the single-node engine-vs-engine reference
BENCH_r{N}.json is graded against in BASELINE.md.

Usage: python3 tools/bench_baseline.py [sfDir] [verifyOut] [runs]
(verifyOut must hold a current oracle_sql.json — run graft.Verify
first.)
"""
import sys, json, time
import duckdb

_pos = [a for a in sys.argv[1:] if not a.startswith("--")]
sf = _pos[0] if len(_pos) > 0 else "/root/testdata/sf0.1"
out = _pos[1] if len(_pos) > 1 else "/tmp/verify_out"
runs = int(_pos[2]) if len(_pos) > 2 else 3

# keep in sync with Registry.headlines
HEADLINERS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_volume",
    "q_owner_leaderboard", "q_top_brands_per_year", "q_dedup_exact",
    "q_ngram_jaccard", "q_lsh_cosine_pairs", "q_ann_topk",
    "q_window_sessions", "q_stream_hourly", "q_asof_join",
]
# q_lsh_cosine_pairs HAS a full oracle since r4 (Irwin-Hall replay),
# but that replay exists to prove correctness, not to be DuckDB's best
# formulation — single-threaded it re-runs the banded signature math
# Spark spreads over 32 cores. DuckDB's natural formulation of the
# TASK (find cosine near-dup pairs) is the exact join, so the baseline
# keeps timing that — it is also the FASTER choice for DuckDB at sf0.1.
SUBSTITUTES = {"q_lsh_cosine_pairs": "q_embedding_neardup"}

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

# same shim as selfcheck.py: ScaleUp dirs carry events.ts as ns BIGINT
ts_type = dict((r[0], r[1]) for r in
               con.execute("DESCRIBE SELECT * FROM events").fetchall())
if ts_type.get("ts") == "BIGINT":
    con.execute(f"""CREATE OR REPLACE VIEW events AS
        SELECT * REPLACE (make_timestamp(ts // 1000) AS ts)
        FROM '{sf}/events.parquet'""")

oracles = json.load(open(f"{out}/oracle_sql.json"))

# --only=q_a,q_b: time exactly those oracle keys (per-query scale
# splits, e.g. the sf10 tpch10 table round-5 verdict item 4 asks for)
# and skip the default headliner table.
_only = [a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--only=")]
if _only:
    sel = [q for grp in _only for q in grp.split(",") if q]
    total = 0.0
    for q in sel:
        sql = oracles.get(q)
        if sql is None:
            print(f"| {q} | n/a (no oracle) |")
            continue
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        total += best
        print(f"| {q} | {best:.3f} |")
    print(f"| **total** | **{total:.3f}** |")
    sys.exit(0)

# --json: one-line machine output for graft.Bench's same-session
# co-reading (round-6 verdict item 3). Times the headliners (+ tpch10,
# + bench30 when --bench30 is also passed) and prints a single JSON
# object whose keys splice straight into BENCH_r{N}.json, making the
# committed artifact self-calibrating against box load.
TPCH10 = [
    "q6_forecast_revenue", "q8_market_share", "q10_returned_items",
    "q13_order_distribution", "q14_promo_effect", "q15_top_supplier",
    "q17_small_qty_revenue", "q18_large_orders", "q19_discounted_revenue",
    "q22_dormant_customers",
]

# bench30 (round-5 verdict item 3): DuckDB twins for the frozen
# per-family regression set (Registry.bench30Names). These time each
# query's ORACLE SQL — for most members that is DuckDB's natural
# formulation of the task; for the sketch/LSH members the oracle is a
# correctness replay of the engine's arithmetic, so treat those rows
# as a parity reference, not DuckDB's best plan.
BENCH30 = [
    "q_dedup_incremental", "q_dedup_clusters", "q_semdedup",
    "q_simhash_pairs", "q_minhash_pairs", "q_ivf_pq", "q_bq_topk",
    "q_ann_eval", "q_tfidf", "q_bpe_encode", "q_contamination",
    "q_seq_pack", "q_dsir", "q_bm25", "q_mmr", "q_pagerank",
    "q_triangles", "q_kcore", "q_scd2", "q_holt_winters",
    "q_changepoint", "q_psi_drift", "q_dq_checks", "q_k_anonymity",
    "q_ndcg", "q_ewma", "q_naive_bayes", "q_kmeans",
    "q_global_median", "q_retention",
]

def _best(sql, n):
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best

if "--json" in sys.argv:
    per = {}
    def _sect(qs, subs=None):
        tot = 0.0
        for q in qs:
            sql = oracles.get((subs or {}).get(q, q))
            if sql is None:
                per[q] = None
                continue
            per[q] = _best(sql, runs)
            tot += per[q]
        return tot
    obj = {"duckdb_total": _sect(HEADLINERS, SUBSTITUTES),
           "duckdb_tpch10": _sect(TPCH10)}
    if "--bench30" in sys.argv:
        obj["duckdb_bench30"] = _sect(BENCH30)
    obj["duckdb_runs"] = runs
    obj["duckdb_queries"] = per
    print(json.dumps(obj))
    sys.exit(0)

total = 0.0
rows = []
for q in HEADLINERS:
    src = SUBSTITUTES.get(q, q)
    sql = oracles.get(src)
    if sql is None:
        rows.append((q, src, None))
        continue
    best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    total += best
    rows.append((q, src, best))

print(f"| headline | duckdb source | best-of-{runs} sec |")
print("| --- | --- | --- |")
for q, src, sec in rows:
    label = src if src != q else "oracle"
    print(f"| {q} | {label} | {'n/a' if sec is None else f'{sec:.3f}'} |")
print(f"| **total** | | **{total:.3f}** |")

# bench30 (round-5 verdict item 3): DuckDB twins for the frozen
# per-family regression set (Registry.bench30Names). These time each
# query's ORACLE SQL — for most members that is DuckDB's natural
# formulation of the task; for the sketch/LSH members the oracle is a
# correctness replay of the engine's arithmetic, so treat those rows
# as a parity reference, not DuckDB's best plan.
if "--bench30" in sys.argv:
    total30 = 0.0
    rows30 = []
    for q in BENCH30:
        sql = oracles.get(q)
        if sql is None:
            rows30.append((q, None))
            continue
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        total30 += best
        rows30.append((q, best))
    print()
    print(f"| bench30 | duckdb best-of-{runs} sec |")
    print("| --- | --- |")
    for q, sec in rows30:
        print(f"| {q} | {'n/a' if sec is None else f'{sec:.3f}'} |")
    print(f"| **total** | **{total30:.3f}** |")
