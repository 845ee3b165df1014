"""Seeded input generator for the benchmark.

Everything a run feeds the program comes from here: parquet tables shaped
like the repository's sf test data (TESTDATA.md), and the operation
sequence of the workload. The same (workload, seed) always yields byte-identical files;
`tests/test_gen.py` checks that.

    python3 perfbench/gen.py --workload dialect_select --seed 1 --out DIR
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("dialect_select", "persist_find", "stream_tail", "pipeline_ops")

# dialect_select reads tables at this scale factor (lineitem ~6M x sf rows):
# large enough that scans matter, small enough for ~100 statements in 10 s.
DIALECT_SF = 0.02
# pipeline_ops runs on one fixed sf0.01 corpus. Its results are checked
# against DuckDB oracle hashes stored in expected_pipeline.json; the
# oracle SQL of the dedup queries is super-linear (q_dedup_ngram alone
# takes ~10 min in DuckDB at sf0.1), so it cannot run per seed.
PIPELINE_SF = 0.01
PIPELINE_CORPUS_SEED = 20240101
PIPELINE_QUERIES = ("q_dedup_ngram", "q_dedup_cc", "q_split_leakfree",
                    "q_dedup_minhash", "q_bpe", "q_classifier", "q_ivm",
                    "q_lm_score", "q_unigram_encode", "q_fuzzy_join")
PERSIST_LOAD_ROWS = 20000
PERSIST_CHUNK_ROWS = 100
STREAM_BACKLOG_ROWS = 2000
STREAM_CHUNK_ROWS = 20
# Op sequences are longer than any run can consume; a run stops at its
# time limit, never at the end of the list.
N_OPS = 4000

WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data the join vector customer").split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "hot", "new", "small", "large", "old", "green"]
PART_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "nut", "gear", "pin"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_T0 = dt.datetime(2024, 1, 1)


def _ts(base, offsets, unit):
    return pa.array(np.datetime64(base, "us") + offsets.astype(f"timedelta64[{unit}]"),
                    pa.timestamp("us"))


def _write(out, name, cols):
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    texts, langs = [], []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[rng.integers(0, i)].split()
            j = rng.integers(0, len(words))
            words[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 80))))
        langs.append(["en", "zh", "es", "fr", "de"][rng.integers(0, 5)])
    return {"doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def _events(rng, n, n_users):
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    return {"event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(EVENT_T0, (secs * 1e6).astype(np.int64), "us"),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(rng.uniform(0, 200, n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())}


def order_rows(rng, keys, n_cust):
    """orders-shaped rows for the given keys, as plain lists (also the
    persist_find entity rows)."""
    n = len(keys)
    return {"o_orderkey": [int(k) for k in keys],
            "o_custkey": rng.integers(0, n_cust, n).tolist(),
            "o_orderstatus": rng.choice(STATUSES, n).tolist(),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2).tolist(),
            "o_orderdate_day": rng.integers(0, ORDER_DAYS, n).tolist(),
            "o_orderpriority": rng.choice(PRIORITIES, n).tolist()}


def _orders(rng, n, n_cust):
    r = order_rows(rng, np.arange(n), n_cust)
    return {"o_orderkey": pa.array(r["o_orderkey"], pa.int64()),
            "o_custkey": pa.array(r["o_custkey"], pa.int64()),
            "o_orderstatus": pa.array(r["o_orderstatus"], pa.string()),
            "o_totalprice": pa.array(r["o_totalprice"], pa.float64()),
            "o_orderdate": _ts(ORDER_DAY0, np.array(r["o_orderdate_day"]), "D"),
            "o_orderpriority": pa.array(r["o_orderpriority"], pa.string())}


def tables(seed, sf, out, names):
    """Write sf-shaped parquet tables `names` into `out`."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(100, int(150000 * sf)), max(10, int(10000 * sf))
    n_part, n_ord = max(100, int(200000 * sf)), max(100, int(1500000 * sf))
    n_line, n_ev = 4 * n_ord, max(1000, int(1000000 * sf))
    gens = {
        "region": lambda: {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": pa.array(REGIONS, pa.string())},
        "nation": lambda: {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": lambda: {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string())},
        "supplier": lambda: {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2), pa.float64())},
        "part": lambda: {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))], pa.string()),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2), pa.float64())},
        "orders": lambda: _orders(rng, n_ord, n_cust),
        "lineitem": lambda: {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["N", "R", "A"], n_line), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
            "l_shipdate": _ts(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n_line), "D")},
        "events": lambda: _events(rng, n_ev, max(100, int(15000 * sf))),
        "documents": lambda: _documents(rng, max(100, int(50000 * sf))),
    }
    for name in names:  # fixed order: each table's draws depend on the ones before
        _write(out, name, gens[name]())


def _date_literal(day):
    d = ORDER_DAY0 + dt.timedelta(days=int(day))
    return d.strftime("%d.%m.%Y"), d.strftime("%Y-%m-%d")


def dialect_ops(seed, n=N_OPS):
    """Statements of dialect_select: (template, dialect SQL, Spark SQL twin).

    Ops come in fixed-composition rounds, so the class mix of a run does
    not depend on the seed. Each template draws one literal from
    a small pool of literals with similar result sizes, so a run repeats
    statements (as applications do) and the reference pass after the timed
    phase has at most ~50 distinct statements to check."""
    rng = np.random.default_rng([seed, 2])

    def agg(q):
        sel = ("count(l.l_orderkey) c, sum(l.l_quantity) sq, min(l.l_quantity) mn, "
               "max(l.l_quantity) mx, avg(l.l_quantity) av")
        return (f"select l.l_returnflag f, {sel} from lineitem l where l.l_quantity >= {q} "
                "group by l.l_returnflag order by l.l_returnflag",
                f"select l_returnflag f, {sel.replace('l.', '')} from lineitem "
                f"where l_quantity >= {q} group by l_returnflag")

    def join(x):
        return ("select r.r_name rname, n.n_name nname, count(c.c_custkey) n_cust "
                "from customer c, nation n, region r where c.c_nationkey = n.n_nationkey "
                f"and n.n_regionkey = r.r_regionkey and c.c_acctbal > {x} "
                "group by r.r_name, n.n_name order by r.r_name, n.n_name",
                "select r_name rname, n_name nname, count(c_custkey) n_cust "
                "from customer join nation on c_nationkey = n_nationkey "
                f"join region on n_regionkey = r_regionkey where c_acctbal > {x} "
                "group by r_name, n_name")

    def in_date(day):
        dd, iso = _date_literal(day)
        return ("select o.o_orderkey k, o.o_orderpriority p from orders o "
                f"where o.o_orderpriority in ['1-URGENT', '2-HIGH'] and o.o_orderdate >= '{dd}' "
                "order by o.o_orderkey",
                "select o_orderkey k, o_orderpriority p from orders "
                f"where o_orderpriority in ('1-URGENT', '2-HIGH') "
                f"and o_orderdate >= timestamp '{iso} 00:00:00'")

    def like(w):
        a, b = w
        return (f"select p.p_partkey k, p.p_name nm from part p where p.p_name like '{a}' "
                f"or p.p_name like '{b}' order by p.p_partkey",
                f"select p_partkey k, p_name nm from part where p_name like '%{a}%' "
                f"or p_name like '%{b}%'")

    def in_sub(q):
        return ("select o.o_orderkey k, o.o_orderpriority p from orders o where o.o_orderkey in "
                f"[select l.l_orderkey from lineitem l where l.l_quantity >= {q}] order by o.o_orderkey",
                "select o_orderkey k, o_orderpriority p from orders where o_orderkey in "
                f"(select l_orderkey from lineitem where l_quantity >= {q})")

    def not_in(p):
        return ("select c.c_custkey k, c.c_name nm from customer c where c.c_custkey not in "
                f"[select o.o_custkey from orders o where o.o_orderpriority = '{p}'] "
                "order by c.c_custkey",
                "select c_custkey k, c_name nm from customer where c_custkey not in "
                f"(select o_custkey from orders where o_orderpriority = '{p}')")

    def window(t):
        return ("select e.event_id id, count(e.event_id) c, min(e.value) mn, max(e.value) mx "
                f"from events e where e.event_type = '{t}' window by e.event_id interval = 50",
                "select id, c, mn, mx from (select event_id id, count(*) over w c, "
                "min(value) over w mn, max(value) over w mx, "
                "row_number() over (order by event_id) rn "
                f"from events where event_type = '{t}' "
                "window w as (order by event_id rows between 49 preceding and current row)) "
                "where rn >= 50")

    def keyed(u):
        return ("select e.user_id uid, e.event_id id, count(e.event_id) c, min(e.value) mn, "
                f"max(e.value) mx from events e where e.user_id >= {u} and e.user_id < {u + 40} "
                "window by e.event_id interval = 5 partition by e.user_id "
                "order by e.user_id, e.event_id",
                "select uid, id, c, mn, mx from (select user_id uid, event_id id, "
                "count(*) over w c, min(value) over w mn, max(value) over w mx, "
                "row_number() over (partition by user_id order by event_id) rn "
                f"from events where user_id >= {u} and user_id < {u + 40} "
                "window w as (partition by user_id "
                "order by event_id rows between 4 preceding and current row)) where rn >= 5")

    def top(s):
        return ("select o.o_orderkey k, o.o_totalprice tp from orders o "
                f"where o.o_orderstatus = '{s}' order by o.o_totalprice desc, o.o_orderkey limit 20",
                "select o_orderkey k, o_totalprice tp from orders "
                f"where o_orderstatus = '{s}' order by o_totalprice desc, o_orderkey limit 20")

    def point(k):
        return ("select o.o_orderkey k, o.o_custkey c, o.o_totalprice tp from orders o "
                f"where o.o_orderkey = {k}",
                f"select o_orderkey k, o_custkey c, o_totalprice tp from orders where o_orderkey = {k}")

    n_ord = int(1500000 * DIALECT_SF)
    pools = {
        "group_by": (agg, [10, 20, 30, 40, 45]),
        "join_where": (join, [0, 2000, 4000, 6000, 8000]),
        "in_list_date": (in_date, [2300, 2320, 2340, 2360, 2380]),
        "like_or": (like, [("ring", "bolt"), ("rod", "pin"), ("red", "nut"),
                           ("gear", "plate"), ("hot", "anvil")]),
        "in_subquery": (in_sub, [49, 50]),
        "not_in_subquery": (not_in, PRIORITIES),
        "window_global": (window, EVENT_TYPES),
        "window_keyed": (keyed, [0, 40, 80, 120, 160]),
        "order_limit": (top, STATUSES),
        "point_lookup": (point, [int(k) for k in np.random.default_rng([seed, 3])
                                 .integers(0, n_ord, 8)]),
    }
    ops = []
    # rounds of 11 in seeded order: every template once and the global
    # window (the slowest) twice. Sorted by latency, p50 then falls among
    # templates of similar cost and p90 inside the global windows, instead of
    # on a boundary between a fast and a slow template, where it would jump
    # from run to run.
    while len(ops) < n:
        for name in rng.permutation(list(pools) + ["window_global"]):
            fn, pool = pools[name]
            sql, ref = fn(pool[rng.integers(0, len(pool))])
            ops.append({"op": "select", "class": str(name), "sql": sql, "ref": ref})
    return ops


def persist_ops(seed, n=N_OPS):
    """persist_find: initial load, then 3 reads per write. Reads and
    updates favour recent ids (exponential skew back from the newest)."""
    rng = np.random.default_rng([seed, 4])
    n_cust = 15000
    load = order_rows(rng, np.arange(PERSIST_LOAD_ROWS), n_cust)
    next_id = PERSIST_LOAD_ROWS

    def recent(span):
        return int(max(0, next_id - 1 - rng.exponential(span)))

    ops = []
    # rounds of 20 ops in seeded order: 4 persist, 1 process, 7 find, 8
    # select. Sorted by latency the classes are find < select < persist <
    # process, so p50 falls inside the selects and p90 inside the persists.
    kinds = np.array([0] * 4 + [1] + [2] * 7 + [3] * 8)
    for k in np.concatenate([rng.permutation(kinds) for _ in range(n // len(kinds))]):
        if k == 0:
            n_upd = int(PERSIST_CHUNK_ROWS * 0.3)
            keys = list(range(next_id, next_id + PERSIST_CHUNK_ROWS - n_upd))
            keys += sorted({recent(2000) for _ in range(n_upd)})
            next_id += PERSIST_CHUNK_ROWS - n_upd
            ops.append({"op": "persist", "rows": order_rows(rng, keys, n_cust)})
        elif k == 1:
            lo = recent(3000)
            ops.append({"op": "process", "lo": lo, "hi": lo + 200,
                        "sql": f"process o_orderkey from orders within 'perfbench.Consume' "
                               f"where o_orderkey >= {lo} and o_orderkey < {lo + 200} "
                               "and o_orderstatus = 'P'"})
        elif k == 2:
            ops.append({"op": "find", "id": recent(1000)})
        else:
            lo = recent(2000)
            hi = lo + int(rng.integers(20, 200))
            ops.append({"op": "select", "lo": lo, "hi": hi,
                        "sql": "select o.o_orderkey k, o.o_custkey c, o.o_orderstatus s, "
                               "o.o_totalprice tp, o.o_orderpriority p from orders o "
                               f"where o.o_orderkey >= {lo} and o.o_orderkey < {hi}"})
    return load, ops


def stream_ops(seed, n=N_OPS):
    """stream_tail: a backlog, then one chunk per schedule slot, due at a
    seeded point `at` (fraction of the slot) inside it. Random placement
    keeps the rate fixed while arrivals take every phase against the
    consumers' 100 ms triggers; a fixed phase would bias a whole run.
    `kind` routes rows: 1 → the SELECT STREAM filter consumer, 2 → PROCESS
    STREAM."""
    rng = np.random.default_rng([seed, 5])

    def rows(first, m):
        return {"event_id": list(range(first, first + m)),
                "kind": rng.integers(0, 3, m).tolist(),
                "value": rng.integers(0, 1000, m).tolist()}

    backlog = rows(0, STREAM_BACKLOG_ROWS)
    chunks = [rows(STREAM_BACKLOG_ROWS + i * STREAM_CHUNK_ROWS, STREAM_CHUNK_ROWS)
              for i in range(n)]
    at = np.round(rng.random(n), 3).tolist()
    return backlog, [{"op": "chunk", "at": a, "rows": c} for a, c in zip(at, chunks)]


def pipeline_ops(seed, n=N_OPS):
    """pipeline_ops: passes over the ten queries, each pass in its own
    seeded order."""
    rng = np.random.default_rng([seed, 6])
    ops = []
    for p in range(n // len(PIPELINE_QUERIES)):
        for q in rng.permutation(PIPELINE_QUERIES):
            ops.append({"op": "query", "pass": p, "query": str(q)})
    return ops


def generate(workload, seed, out):
    """Write the inputs of one run into `out`; returns the ops file path."""
    os.makedirs(out, exist_ok=True)
    header = {"workload": workload, "seed": seed}
    if workload == "dialect_select":
        tables(seed, DIALECT_SF, os.path.join(out, "tables"),
               ["region", "nation", "customer", "part", "orders", "lineitem", "events"])
        ops = dialect_ops(seed)
    elif workload == "persist_find":
        header["load"], ops = persist_ops(seed)
    elif workload == "stream_tail":
        header["load"], ops = stream_ops(seed)
    elif workload == "pipeline_ops":
        tables(PIPELINE_CORPUS_SEED, PIPELINE_SF, os.path.join(out, "tables"),
               ["events", "documents"])
        ops = pipeline_ops(seed)
    else:
        raise ValueError(f"unknown workload {workload}")
    path = os.path.join(out, "ops.jsonl")
    with open(path, "w") as f:
        f.write(json.dumps(header, sort_keys=True) + "\n")
        for op in ops:
            f.write(json.dumps(op, sort_keys=True) + "\n")
    return path


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.workload, a.seed, a.out))
