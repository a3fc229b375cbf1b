"""Seeded input generator for the graft benchmark.

Every value is a pure function of (seed, table, row, column) through
DuckDB's `hash`, so the same seed gives the same table contents on any
machine and any thread count. Generation is never timed. Each table's
row count and a content digest are printed, so two runs can show they
used the same data.

Shapes follow the repo's testdata: the TPC-H-like star schema (region,
nation, customer, supplier, part, orders, lineitem) at a given scale
factor, and an embedding table (`embeddings`) with seeded ANN query
vectors.
"""
import json
import os
import random

import duckdb

# both workloads use the repo's bench scale. sales_nightly measures two
# DAG runs after one warm-up run on a small copy of the inputs: the
# warm-up compiles the same plans and JIT paths at a fraction of the
# cost of a cold full-size run
SF = 0.1
WARMUP_SF = 0.01
SALES_OPS_PER_ROUND = 2

N_EMBEDDINGS = 2_000
DIM = 64
N_LABELS = 10

# interactive request mix: one round is one render of the reference's
# dashboard (dashboard.py, SURVEY.md section 1 and the "dashboard
# analytics" rows of section 2), which asks each of its six panels once,
# so the analytics mix is uniform. The ANN probe is one extra request
# per render: the reference dashboard has no ANN panel, so this share is
# an assumption, not a measurement. One round is this set in a seeded
# order; a run measures whole rounds.
DASHBOARD_PANELS = [
    "q_kpi_summary", "q_top_products", "q_top_customers",
    "q_revenue_by_category", "q_revenue_by_region", "q_monthly_trend",
]
ANN_PER_ROUND = 1
INTERACTIVE_MIN_ROUNDS = 2  # a run measures at least 14 requests
ANN_BATCH = 8             # query vectors per ANN request
N_ROUNDS = 40


def _u(seed, salt, *idx):
    """SQL for a uniform double in [0, 1) keyed on (seed, salt, idx...)."""
    args = ", ".join([str(seed), f"'{salt}'", *idx])
    return f"((hash({args}) % 1000000007)::DOUBLE / 1000000007.0)"


def _pick(seed, salt, n, *idx):
    """SQL for a uniform integer in [0, n)."""
    args = ", ".join([str(seed), f"'{salt}'", *idx])
    return f"(hash({args}) % {n})::BIGINT"


def _write(con, name, sql, out):
    # one row group per file, like the repo's testdata, so the loaders'
    # scan-parallelism gate (Tables.spread) takes the same path
    path = os.path.join(out, f"{name}.parquet")
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 100000000)")
    n, digest = con.execute(
        f"SELECT count(*), bit_xor(hash(t)) FROM read_parquet('{path}') t").fetchone()
    return {"rows": int(n), "digest": f"{int(digest or 0):016x}"}


def star_schema(con, seed, out, sf):
    """The sales tables at scale factor `sf`. Row order is a seeded
    permutation."""
    s = seed
    n_customer, n_supplier, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_lineitem = int(1_500_000 * sf), int(6_000_000 * sf)
    info = {}
    info["region"] = _write(con, "region", """
        SELECT i::INTEGER AS r_regionkey,
               ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
        FROM range(5) r(i)""", out)
    info["nation"] = _write(con, "nation", """
        SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
               (i % 5)::INTEGER AS n_regionkey
        FROM range(25) r(i)""", out)
    info["customer"] = _write(con, "customer", f"""
        SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
               {_pick(s, 'c_nat', 25, 'i')}::INTEGER AS c_nationkey,
               round({_u(s, 'c_bal', 'i')} * 10999.65 - 999.85, 2) AS c_acctbal,
               ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
                 [{_pick(s, 'c_seg', 5, 'i')} + 1] AS c_mktsegment
        FROM range({n_customer}) r(i) ORDER BY hash({s}, 'c_ord', i)""", out)
    info["supplier"] = _write(con, "supplier", f"""
        SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
               {_pick(s, 's_nat', 25, 'i')}::INTEGER AS s_nationkey,
               round({_u(s, 's_bal', 'i')} * 10999.65 - 999.85, 2) AS s_acctbal
        FROM range({n_supplier}) r(i)""", out)
    info["part"] = _write(con, "part", f"""
        SELECT i AS p_partkey,
               ['large','hot','blue','old','cold','red','small','new'][{_pick(s, 'p_a', 8, 'i')} + 1]
                 || ' ' ||
               ['ring','bolt','plate','gear','widget','rod','anvil','nut'][{_pick(s, 'p_n', 8, 'i')} + 1]
                 AS p_name,
               'Brand#' || ({_pick(s, 'p_b', 25, 'i')} + 1) AS p_brand,
               ['LARGE','ECONOMY','STANDARD','SMALL','MEDIUM','PROMO'][{_pick(s, 'p_t', 6, 'i')} + 1] AS p_type,
               ({_pick(s, 'p_s', 50, 'i')} + 1)::INTEGER AS p_size,
               round(900 + (i % 1000) * 0.1, 1) AS p_retailprice
        FROM range({n_part}) r(i)""", out)
    info["orders"] = _write(con, "orders", f"""
        SELECT i AS o_orderkey,
               {_pick(s, 'o_c', n_customer, 'i')} AS o_custkey,
               ['O','F','P'][{_pick(s, 'o_st', 3, 'i')} + 1] AS o_orderstatus,
               round(1000 + {_u(s, 'o_p', 'i')} * 499000, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01' + to_days({_pick(s, 'o_d', 2404, 'i')}::INTEGER) AS o_orderdate,
               ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][{_pick(s, 'o_pr', 5, 'i')} + 1]
                 AS o_orderpriority
        FROM range({n_orders}) r(i) ORDER BY hash({s}, 'o_ord', i)""", out)
    info["lineitem"] = _write(con, "lineitem", f"""
        SELECT {_pick(s, 'l_o', n_orders, 'i')} AS l_orderkey,
               {_pick(s, 'l_p', n_part, 'i')} AS l_partkey,
               {_pick(s, 'l_s', n_supplier, 'i')} AS l_suppkey,
               ({_pick(s, 'l_n', 7, 'i')} + 1)::INTEGER AS l_linenumber,
               ({_pick(s, 'l_q', 50, 'i')} + 1)::DOUBLE AS l_quantity,
               round(900 + {_u(s, 'l_e', 'i')} * 104099, 2) AS l_extendedprice,
               {_pick(s, 'l_d', 11, 'i')} / 100.0 AS l_discount,
               {_pick(s, 'l_t', 9, 'i')} / 100.0 AS l_tax,
               ['A','N','R'][{_pick(s, 'l_rf', 3, 'i')} + 1] AS l_returnflag,
               ['O','F'][{_pick(s, 'l_ls', 2, 'i')} + 1] AS l_linestatus,
               TIMESTAMP '1995-01-02' + to_days({_pick(s, 'l_sd', 2498, 'i')}::INTEGER) AS l_shipdate
        FROM range({n_lineitem}) r(i) ORDER BY hash({s}, 'l_ord', i)""", out)
    # the bronze gate's rules (QueriesEtl.lineitemRules), evaluated
    # independently of the engine: every surviving line has an order,
    # so silver and gold must carry exactly this many rows
    lpath = os.path.join(out, "lineitem.parquet")
    valid = con.execute(f"""
        SELECT count(*) FROM read_parquet('{lpath}')
        WHERE l_orderkey IS NOT NULL AND l_quantity > 0 AND l_extendedprice > 0
          AND l_discount BETWEEN 0.0 AND 0.05 AND l_shipdate IS NOT NULL""").fetchone()[0]
    return info, {"bronze_valid": int(valid)}


def embeddings(con, seed, out, n_queries):
    """Clustered embeddings (10 labels) and seeded ANN query vectors."""
    s = seed
    cent = f"(({_u(s, 'cent', 'lbl', 'j')}) - 0.5)"
    noise = f"(({_u(s, 'noise', 'i', 'j')}) - 0.5)"
    info = {"embeddings": _write(con, "embeddings", f"""
        SELECT i AS vec_id,
               list_transform(range({DIM}), j -> ({cent} + 0.8 * {noise})::FLOAT) AS embedding,
               lbl::INTEGER AS label
        FROM (SELECT i, {_pick(s, 'lbl', N_LABELS, 'i')} AS lbl FROM range({N_EMBEDDINGS}) r(i))""", out)}
    qnoise = f"(({_u(s, 'qnoise', 'i', 'j')}) - 0.5)"
    info["ann_queries"] = _write(con, "ann_queries", f"""
        SELECT 1000000000 + i AS vec_id,
               list_transform(range({DIM}), j -> ({cent} + 0.8 * {qnoise})::FLOAT) AS embedding
        FROM (SELECT i, {_pick(s, 'qlbl', N_LABELS, 'i')} AS lbl FROM range({n_queries}) r(i))""", out)
    return info


def request_sequence(seed):
    """Seeded closed-loop request sequence: each round is the same set
    of requests in a seeded order; an ANN request names its slice of the
    query vectors."""
    rng = random.Random(seed)
    base = DASHBOARD_PANELS + ["ann"] * ANN_PER_ROUND
    seq, ann = [], 0
    for _ in range(N_ROUNDS):
        rnd = base[:]
        rng.shuffle(rnd)
        for q in rnd:
            if q == "ann":
                seq.append(f"ann:{ann * ANN_BATCH}:{ANN_BATCH}")
                ann += 1
            else:
                seq.append(q)
    return seq, ann * ANN_BATCH


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return the manifest."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    manifest = {"seed": seed, "tables": {}}
    if workload == "interactive":
        sales = os.path.join(out, "sales")
        os.makedirs(sales)
        tables, _ = star_schema(con, seed, sales, SF)
        seq, n_q = request_sequence(seed)
        manifest["tables"].update(tables)
        # one extra slice of query vectors for the warm-up probe
        manifest["tables"].update(embeddings(con, seed, sales, n_q + ANN_BATCH))
        manifest["sales_dir"] = sales
        manifest["requests"] = seq
        manifest["warmup"] = DASHBOARD_PANELS + [f"ann:{n_q}:{ANN_BATCH}"]
        manifest["request_mix"] = dict({q: 1 for q in DASHBOARD_PANELS}, ann=ANN_PER_ROUND)
        manifest["round_length"] = len(DASHBOARD_PANELS) + ANN_PER_ROUND
        manifest["min_rounds"] = INTERACTIVE_MIN_ROUNDS
    elif workload == "sales_nightly":
        sales = os.path.join(out, "sales")
        os.makedirs(sales)
        tables, expect = star_schema(con, seed, sales, SF)
        warm = os.path.join(out, "warmup")
        os.makedirs(warm)
        star_schema(con, seed + 1, warm, WARMUP_SF)
        manifest["warmup_dir"] = warm
        manifest["tables"].update(tables)
        manifest["sales_dir"] = sales
        manifest["expect"] = expect
        manifest["round_length"] = SALES_OPS_PER_ROUND
    else:
        raise ValueError(f"unknown workload {workload!r}")
    con.close()
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
