"""Seeded request generation and answer checking for each workload.

Every HTTP request is generated from a template together with an equivalent
DuckDB query over the same parquet files; run.py sends the requests through
the engine and this module compares each response with DuckDB's answer.
"""
import datetime
import decimal
import json
import math
import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

import datagen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EVENT_TYPES = datagen.EVENT_TYPES
INGEST_TABLE = "ingest_events"


def duck(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def day_str(d):
    return str(datagen.EPOCH_DAY + int(d))


day_num = datagen.day


def native(body):
    body = dict(body)
    body["context"] = dict(body.get("context", {}), queryId="__OPID__")
    return json.dumps(body)


def sql(text, context=None):
    return json.dumps({"query": text, "context": dict(context or {}, sqlQueryId="__OPID__")})


# ------------------------------------------------------------ dashboard templates
# Each returns (key, route, body, shape, oracle SQL). `key` is unique per
# distinct request, so a cache can only hit when the key repeats. `i` counts
# the template's earlier requests: variants that change the cost of a request
# (granularity, time zone, threshold) alternate on it, so every seed sends the
# same mix and only the parameters within a variant are drawn.

def t_timeseries(rng, env, i):
    g = ["month", "year"][i % 2]
    a = rng.integers(day_num("1995-01-02"), day_num("2001-06-01"))
    b = a + rng.integers(90, 900)
    flag = "ANR"[rng.integers(0, 3)]
    body = {"queryType": "timeseries", "dataSource": "lineitem", "timeColumn": "l_shipdate",
            "granularity": g, "intervals": [f"{day_str(a)}/{day_str(b)}"],
            "filter": {"type": "selector", "dimension": "l_returnflag", "value": flag},
            "aggregations": [{"type": "count", "name": "cnt"},
                             {"type": "doubleSum", "name": "revenue", "fieldName": "l_extendedprice"},
                             {"type": "doubleSum", "name": "qty", "fieldName": "l_quantity"}],
            "context": {"skipEmptyBuckets": True}}
    oracle = (f"SELECT strftime(date_trunc('{g}', l_shipdate), '%Y-%m-%d') AS timestamp, "
              f"count(*) AS cnt, sum(l_extendedprice) AS revenue, sum(l_quantity) AS qty "
              f"FROM lineitem WHERE l_shipdate >= '{day_str(a)}' AND l_shipdate < '{day_str(b)}' "
              f"AND l_returnflag = '{flag}' GROUP BY 1")
    return f"ts:{g}:{a}:{b}:{flag}", "native", native(body), "timeseries", oracle


def t_topn(rng, env, i):
    a = rng.integers(day_num("1995-01-02"), day_num("2001-06-01"))
    b = a + rng.integers(30, 700)
    k = [5, 10][i % 2]
    status = "FO"[rng.integers(0, 2)]
    body = {"queryType": "topN", "dataSource": "lineitem", "timeColumn": "l_shipdate",
            "granularity": "all", "intervals": [f"{day_str(a)}/{day_str(b)}"],
            "dimension": "l_suppkey", "metric": "revenue", "threshold": k,
            "filter": {"type": "selector", "dimension": "l_linestatus", "value": status},
            "aggregations": [{"type": "doubleSum", "name": "revenue", "fieldName": "l_extendedprice"},
                             {"type": "count", "name": "cnt"}]}
    oracle = (f"SELECT CAST(l_suppkey AS VARCHAR) AS l_suppkey, sum(l_extendedprice) AS revenue, count(*) AS cnt FROM lineitem "
              f"WHERE l_shipdate >= '{day_str(a)}' AND l_shipdate < '{day_str(b)}' "
              f"AND l_linestatus = '{status}' GROUP BY 1 ORDER BY revenue DESC LIMIT {k}")
    return f"topn:{a}:{b}:{k}:{status}", "native", native(body), "topN", oracle


def t_groupby(rng, env, i):
    a = rng.integers(day_num("1995-01-01"), day_num("2001-03-01"))
    b = a + rng.integers(60, 900)
    body = {"queryType": "groupBy", "dataSource": "orders", "timeColumn": "o_orderdate",
            "granularity": "all", "intervals": [f"{day_str(a)}/{day_str(b)}"],
            "dimensions": ["o_orderstatus", "o_orderpriority"],
            "aggregations": [{"type": "count", "name": "cnt"},
                             {"type": "doubleSum", "name": "total", "fieldName": "o_totalprice"}]}
    oracle = (f"SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, sum(o_totalprice) AS total "
              f"FROM orders WHERE o_orderdate >= '{day_str(a)}' AND o_orderdate < '{day_str(b)}' "
              f"GROUP BY 1, 2")
    return f"gb:{a}:{b}", "native", native(body), "groupBy", oracle


def t_scan(rng, env, i):
    u = int(rng.integers(0, env["n_users"]))
    et = EVENT_TYPES[rng.integers(0, 5)]
    body = {"queryType": "scan", "dataSource": "events", "timeColumn": "ts",
            "columns": ["event_id", "user_id", "event_type", "value"],
            "filter": {"type": "and", "fields": [
                {"type": "selector", "dimension": "user_id", "value": str(u)},
                {"type": "selector", "dimension": "event_type", "value": et}]},
            "limit": 1000}
    oracle = (f"SELECT event_id, user_id, event_type, \"value\" FROM events "
              f"WHERE user_id = {u} AND event_type = '{et}'")
    return f"scan:{u}:{et}", "native", native(body), "scan", oracle


def t_sql_lineitem(rng, env, i):
    a = rng.integers(day_num("1995-01-02"), day_num("2001-06-01"))
    b = a + rng.integers(30, 900)
    d = int(rng.integers(0, 8))
    text = (f"SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, SUM(l_quantity) AS qty, "
            f"SUM(l_extendedprice * (1 - l_discount)) AS rev FROM lineitem "
            f"WHERE l_shipdate >= '{day_str(a)}' AND l_shipdate < '{day_str(b)}' "
            f"AND l_discount >= {d / 100:.2f} GROUP BY l_returnflag, l_linestatus")
    return f"sqll:{a}:{b}:{d}", "sql", sql(text), "sql", text


def t_sql_orders(rng, env, i):
    a = rng.integers(day_num("1995-01-01"), day_num("2001-03-01"))
    b = a + rng.integers(30, 400)
    flag = "ANR"[rng.integers(0, 3)]
    text = (f"SELECT o_orderpriority, COUNT(*) AS cnt, SUM(l_quantity) AS qty FROM orders "
            f"JOIN lineitem ON l_orderkey = o_orderkey "
            f"WHERE o_orderdate >= '{day_str(a)}' AND o_orderdate < '{day_str(b)}' "
            f"AND l_returnflag = '{flag}' GROUP BY o_orderpriority")
    return f"sqlo:{a}:{b}:{flag}", "sql", sql(text), "sql", text


ZONES = ["America/Los_Angeles", "Asia/Kolkata", "Europe/Berlin"]


def t_sql_events(rng, env, i):
    lo = int(rng.integers(0, env["n_users"] - 10))
    hi = lo + int(rng.integers(5, max(6, env["n_users"] // 4)))
    v = int(rng.integers(0, 50))
    zone = ZONES[rng.integers(0, 3)] if i % 2 == 0 else None
    text = (f"SELECT event_type, COUNT(*) AS cnt, SUM(value) AS total, "
            f"COUNT(DISTINCT user_id) AS users FROM events "
            f"WHERE user_id BETWEEN {lo} AND {hi} AND value >= {v} GROUP BY event_type")
    oracle = text.replace("SUM(value)", "SUM(\"value\")").replace("value >=", "\"value\" >=")
    ctx = {"sqlTimeZone": zone} if zone else None
    return f"sqle:{lo}:{hi}:{v}:{zone}", "sql", sql(text, ctx), "sql", oracle


def bad_request(i):
    body = {"queryType": "timeseries", "dataSource": "no_such_datasource", "granularity": "all",
            "intervals": ["2000-01-01/2001-01-01"], "aggregations": [{"type": "count", "name": "cnt"}],
            "context": {"skipEmptyBuckets": True, "bad": i}}
    return f"bad:{i}", "native", native(body), "timeseries", "SELECT 1 WHERE false"


TEMPLATES = [t_timeseries, t_topn, t_groupby, t_scan, t_sql_lineitem, t_sql_orders, t_sql_events]


def env_of(data_dir):
    users = pq.read_table(f"{data_dir}/events.parquet", columns=["user_id"]).column(0)
    return {"n_users": int(users.to_numpy().max()) + 1}


def distinct_requests(rng, env, n, seen):
    """`n` requests whose keys are all new, templates in a fixed rotation so
    every run sends the same mix in a seeded order."""
    out = []
    rotation = list(range(len(TEMPLATES)))
    made = [0] * len(TEMPLATES)
    while len(out) < n:
        rng.shuffle(rotation)
        for t in rotation:
            for _ in range(100):
                r = TEMPLATES[t](rng, env, made[t])
                if r[0] not in seen:
                    seen.add(r[0])
                    out.append(r)
                    made[t] += 1
                    break
    return out[:n]


def dashboard_guard(route, body):
    """A zoned SQL request runs apart from native queries (see the client-side
    guard in scala/graft/perfbench/Main.scala); other SQL needs no guard, the
    facade's session lock already orders it against zoned SQL."""
    if route == "sql":
        return "exclusive" if "sqlTimeZone" in json.loads(body).get("context", {}) else ""
    return "shared"


def dashboard_plan(workload, seed, data_dir, w, seconds, bad_share=0.0):
    """Requests per client and the untimed warm list. `bad_share` replaces
    that share of the timed requests with requests for an unknown datasource
    (used to test the failure accounting).

    A fresh client's requests must all be distinct, so its list is sized for
    `list_rate` requests per second of the window and it may not start over;
    a repeat client draws from its pool and starts over when its list ends."""
    rng = np.random.default_rng(seed)
    env = env_of(data_dir)
    seen = set()
    clients, pool_size = w["clients"], w.get("pool", 0)
    fresh = workload == "dashboard_fresh"
    per_client = math.ceil(seconds * w["list_rate"]) if fresh else w["requests_per_client"]
    if fresh:
        reqs = distinct_requests(rng, env, clients * per_client, seen)
        for i in range(len(reqs)):
            if rng.random() < bad_share:
                reqs[i] = bad_request(i)
        lists = [reqs[c::clients] for c in range(clients)]
        warm = distinct_requests(rng, env, w["warm_per_template"] * len(TEMPLATES), seen)
    else:
        pool = distinct_requests(rng, env, pool_size, seen)
        ranks = np.arange(1, pool_size + 1)
        p = 1.0 / ranks ** 1.1
        p /= p.sum()
        lists = [[pool[i] for i in rng.choice(pool_size, per_client, p=p)] for _ in range(clients)]
        # the first pass fills the caches; the later ones hit, which gets the
        # hit path compiled before the window opens
        warm = pool * 4
    catalog = {r[0]: (r[3], r[4]) for lst in lists + [warm] for r in lst}
    as_req = lambda r: {"key": r[0], "route": r[1], "body": r[2], "guard": dashboard_guard(r[1], r[2])}
    plan = {"clients": [[as_req(r) for r in lst] for lst in lists],
            "warm": [as_req(r) for r in warm], "warm_parallel": True, "wrap": not fresh}
    return plan, catalog


# ------------------------------------------------------------ ingest

def ingest_plan(seed, data_dir, w, seconds):
    """One writer's INSERTs, the readers' request lists, and per INSERT the
    aggregates its rows add, from which every read's answer is checked. The
    lists are sized for `insert_rate` and `read_rate` requests per second of
    the window; no client may start its list over, since a repeated INSERT
    would break the checks. The first `warm_inserts` INSERTs run before the
    window: the first creates the datasource, the rest warm the write path."""
    rng = np.random.default_rng(seed)
    readers, warm_n = w["readers"], w["warm_inserts"]
    inserts, per_reader = math.ceil(seconds * w["insert_rate"]), math.ceil(seconds * w["read_rate"])
    rows_lo, rows_hi = w["rows_per_insert"]
    ev = pq.read_table(f"{data_dir}/events.parquet",
                       columns=["event_id", "user_id", "event_type", "value"]).to_pandas()
    n = len(ev)
    slices = []
    for _ in range(warm_n + inserts):
        k = min(int(rng.integers(rows_lo, rows_hi + 1)), n // 2)
        a = int(rng.integers(0, n - k))
        slices.append((a, a + k))

    def insert(i):
        a, b = slices[i]
        text = (f"INSERT INTO {INGEST_TABLE} SELECT ts AS __time, event_id, user_id, event_type, value "
                f"FROM events WHERE event_id >= {a} AND event_id < {b} PARTITIONED BY DAY")
        return {"key": f"insert:{i}", "route": "sql", "body": sql(text), "guard": "exclusive"}

    readers_pool = [
        {"key": "read:sql_types", "route": "sql", "body": sql(
            f"SELECT event_type, COUNT(*) AS n, SUM(value) AS v FROM {INGEST_TABLE} GROUP BY event_type")},
        {"key": "read:native_ts", "route": "native", "body": native({
            "queryType": "timeseries", "dataSource": INGEST_TABLE, "granularity": "all",
            "intervals": ["2024-01-01/2024-02-01"],
            "aggregations": [{"type": "count", "name": "n"},
                             {"type": "doubleSum", "name": "v", "fieldName": "value"}]})},
        {"key": "read:native_gb", "route": "native", "body": native({
            "queryType": "groupBy", "dataSource": INGEST_TABLE, "granularity": "all",
            "intervals": ["2024-01-01/2024-02-01"], "dimensions": ["event_type"],
            "aggregations": [{"type": "count", "name": "n"},
                             {"type": "longSum", "name": "u", "fieldName": "user_id"}]})},
    ] + [{"key": f"read:sql_one:{t}", "route": "sql", "body": sql(
        f"SELECT COUNT(*) AS n, SUM(user_id) AS u FROM {INGEST_TABLE} WHERE event_type = '{t}'")}
        for t in EVENT_TYPES]
    # a read never overlaps an INSERT (the client-side guard): the writer and
    # the readers take turns, each INSERT followed by one read per reader
    for r in readers_pool:
        r["guard"] = "shared"
    # each reader cycles through its own seeded order of the pool, so every
    # seed sends the same read mix
    orders = [rng.permutation(len(readers_pool)) for _ in range(readers)]
    reader_lists = [[readers_pool[o[i % len(o)]] for i in range(per_reader)] for o in orders]
    # per insert and event type: rows, sum(value), sum(user_id)
    parts = []
    for a, b in slices:
        s = ev.iloc[a:b]
        g = s.groupby("event_type").agg(n=("event_id", "size"), v=("value", "sum"), u=("user_id", "sum"))
        parts.append({t: (int(r.n), float(r.v), int(r.u)) for t, r in g.iterrows()})
    plan = {"clients": [[insert(i) for i in range(warm_n, warm_n + inserts)]] + reader_lists,
            "warm": [insert(0)] + readers_pool + [insert(i) for i in range(1, warm_n)], "wrap": False,
            "after": [{"key": "final:count", "route": "sql",
                       "body": sql(f"SELECT COUNT(*) AS n FROM {INGEST_TABLE}")}]}
    return plan, {"slices": slices, "parts": parts, "warm_inserts": warm_n}


# ------------------------------------------------------------ checking

def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def norm(v):
    """Engine-neutral form of a cell: numbers as floats, timestamps to the
    millisecond, lists and maps as tuples."""
    if v is None or isinstance(v, (str, bool)):
        return v
    if isinstance(v, (int, float, np.integer, np.floating, decimal.Decimal)):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)[:23]
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm(x) for x in v)
    return str(v)


def same_rows(got, exp, cols):
    g = [tuple(norm(r.get(c)) for c in cols) for r in got]
    e = [tuple(norm(r.get(c)) for c in cols) for r in exp]
    if len(g) != len(e):
        return False
    key = lambda row: tuple((0, round(x, 4), "") if isinstance(x, float) and not math.isnan(x)
                            else (1, 0.0, str(x)) for x in row)
    return all(close(x, y) for gr, er in zip(sorted(g, key=key), sorted(e, key=key))
               for x, y in zip(gr, er))


def response_rows(shape, body):
    j = json.loads(body)
    if shape == "timeseries":
        return [dict(r["result"], timestamp=(r["timestamp"] or "")[:10]) for r in j]
    if shape == "topN":
        return j[0]["result"] if j else []
    if shape == "groupBy":
        return [r["event"] for r in j]
    if shape == "scan":
        return j[0]["events"] if j else []
    return j


def oracle_rows(con, text):
    cur = con.execute(text)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()], cols


def check_dashboard(bodies, catalog, data_dir):
    """Verdict per (key, sha): True when the response equals DuckDB's answer."""
    con = duck(data_dir)
    verdict = {}
    for (key, digest), body in sorted(bodies.items()):
        shape, oracle = catalog[key]
        exp, cols = oracle_rows(con, oracle)
        try:
            got = response_rows(shape, body)
            ok = same_rows(got, exp, cols)
        except (ValueError, KeyError, IndexError, TypeError):
            got, ok = body, False
        if not ok and all(verdict.values()):
            print(f"check: {key} answered {str(got)[:400]}\n  expected {str(exp)[:400]}",
                  file=sys.stderr)
        verdict[(key, digest)] = ok
    return verdict


def insert_rows(meta, key):
    """Rows an `insert:<i>` request adds."""
    a, b = meta["slices"][int(key.split(":")[1])]
    return b - a


def check_ingest(ops, extra, meta, bodies):
    """Verdict per op id for the ingest workload, plus the run-level check:
    every INSERT of the warm pass acknowledged and the final count equal to
    the acknowledged rows.

    A read sent after the k-th acknowledged INSERT must show at least k
    inserts and at most the number started before its response arrived; the
    INSERTs of the warm pass come first."""
    parts, slices, warm_n = meta["parts"], meta["slices"], meta["warm_inserts"]

    def state(s):
        tot = {}
        for p in parts[:s]:
            for t, (n, v, u) in p.items():
                a = tot.setdefault(t, [0, 0.0, 0])
                a[0] += n
                a[1] += v
                a[2] += u
        return tot

    def rows_of(key):
        return insert_rows(meta, key)

    def body(o):
        return bodies.get((o["key"], o["sha"]), "")

    def parsed(o):
        try:
            return json.loads(body(o))
        except ValueError:
            return None

    # the facade answers an INSERT with the datasource's row count once the
    # write is published; the single writer runs its INSERTs in order
    total = 0

    def acknowledged(o):
        nonlocal total
        ok = o["status"] == 200 and parsed(o) == [{"inserted": total + rows_of(o["key"])}]
        if ok:
            total += rows_of(o["key"])
        return ok

    warm_ok = all([acknowledged(o) for o in extra["warm"] if o["key"].startswith("insert:")])
    writes = sorted((o for o in ops if o["key"].startswith("insert:")), key=lambda o: o["start_ms"])
    verdict = {o["id"]: acknowledged(o) for o in writes}
    acked = [o for o in writes if verdict[o["id"]]]
    states = {}
    for o in ops:
        if o["key"].startswith("insert:") or o["status"] != 200:
            continue
        lo = warm_n + sum(1 for w in acked if w["end_ms"] <= o["start_ms"])
        hi = warm_n + sum(1 for w in writes if w["start_ms"] < o["end_ms"])
        verdict[o["id"]] = any(read_matches(o["key"], body(o), states.setdefault(s, state(s)))
                               for s in range(lo, hi + 1))
    want = total
    final = extra["after"][0]
    final_ok = final["status"] == 200 and parsed(final) == [{"n": want}]
    return verdict, warm_ok and final_ok, want


def read_matches(key, body, tot):
    try:
        j = json.loads(body)
    except ValueError:
        return False
    n_all = sum(a[0] for a in tot.values())
    v_all = sum(a[1] for a in tot.values())
    if key == "read:sql_types":
        exp = [{"event_type": t, "n": a[0], "v": a[1]} for t, a in tot.items() if a[0]]
        return same_rows(j, exp, ["event_type", "n", "v"])
    if key == "read:native_ts":
        return len(j) == 1 and same_rows([j[0]["result"]], [{"n": n_all, "v": v_all}], ["n", "v"])
    if key == "read:native_gb":
        exp = [{"event_type": t, "n": a[0], "u": a[2]} for t, a in tot.items() if a[0]]
        return same_rows([r["event"] for r in j], exp, ["event_type", "n", "u"])
    t = key.split(":")[2]
    a = tot.get(t, [0, 0.0, 0])
    return same_rows(j, [{"n": a[0], "u": a[2] if a[0] else None}], ["n", "u"])


def check_olap(results_dir, data_dir):
    """Verdict per query name: its warm-pass answer against its oracle SQL.
    Queries without an oracle must at least have produced a result."""
    con = duck(data_dir)
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    with open(os.path.join(results_dir, "suite.json")) as fh:
        names = json.load(fh)
    verdict = {}
    for name in names:
        d = os.path.join(results_dir, name)
        if not os.path.isdir(d):
            verdict[name] = False
            continue
        got = pq.read_table(d)
        if name not in oracles:
            verdict[name] = True
            continue
        try:
            exp = con.execute(oracles[name]).fetch_arrow_table()
        except duckdb.Error:
            verdict[name] = False
            continue
        cols = sorted(got.column_names)
        if cols != sorted(exp.column_names):
            verdict[name] = False
            continue
        verdict[name] = same_rows(got.to_pylist(), exp.to_pylist(), cols)
    return verdict
