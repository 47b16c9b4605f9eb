"""Expected outputs for the graft benchmark, computed with DuckDB or taken
from the generator's planted ground truth, and the comparison against the
rows the benchmark process returned.

Cells are compared in the type-tagged canonical form the harness writes
(`graftbench.Canon`): `i:` integers, `f:` doubles, `d:` decimals, `s:`
strings, `t:` timestamps, `b:` booleans, `n` null.
"""
import datetime
import decimal
import json
import math
import os
import random

import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


# ---- canonical cells ----------------------------------------------------

def _dec(s):
    d = decimal.Decimal(s)
    return "0" if d == 0 else format(d.normalize(), "f")


def canon_py(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b:true" if v else "b:false"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return "d:" + _dec(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        return "t:" + v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return "t:" + v.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(v, (list, tuple)):
        return "a:[" + ",".join(canon_py(x) for x in v) + "]"
    return "s:" + str(v)


def canon_jvm(cell):
    if cell.startswith("f:"):
        x = cell[2:]
        return "f:NaN" if x == "NaN" else f"f:{float(x)!r}"
    if cell.startswith("d:"):
        return "d:" + _dec(cell[2:])
    return cell


def compare(got, exp_cols, exp_rows, ignore=()):
    """None when `got` (the harness's {cols, rows}) holds the same multiset
    of rows as the expected ones, matching columns by name; else a reason."""
    gcols = [c for c in got["cols"] if c not in ignore]
    if sorted(gcols) != sorted(exp_cols):
        return f"columns {sorted(gcols)} != {sorted(exp_cols)}"
    order = sorted(gcols)
    gi = [got["cols"].index(c) for c in order]
    ei = [exp_cols.index(c) for c in order]
    g = sorted(tuple(canon_jvm(r[i]) for i in gi) for r in got["rows"])
    e = sorted(tuple(canon_py(r[i]) for i in ei) for r in exp_rows)
    if len(g) != len(e):
        return f"{len(g)} rows, expected {len(e)}"
    for a, b in zip(g, e):
        if a != b:
            return f"row {a} != expected {b}"
    return None


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def query(con, sql):
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


# ---- stats_report: the catalog's own DuckDB oracles ----------------------

def stats_expected(data_dir, oracle_sql):
    con = connect(data_dir)
    return {name: query(con, sql) for name, sql in oracle_sql.items()}


# ---- agent_session: seed-drawn tool calls and their DuckDB twins ---------

KINDS = ["search", "bar", "pie", "trend", "hist", "insights", "sql", "validate",
         "schema", "knn", "chart_bar", "chart_pie", "chart_line", "chart_hist"]
P_ADJ = ["blue", "red", "green", "large", "small", "hot", "cold", "shiny"]
P_NOUN = ["bolt", "gear", "ring", "widget", "anvil"]
STATUSES = [["F", "O", "P"], ["F"], ["O", "P"]]
SQL = [
    "SELECT c_mktsegment, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total "
    "FROM agent_view JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment",
    "SELECT o_orderpriority, COUNT(*) AS n FROM agent_view "
    "WHERE o_totalprice > 250000 GROUP BY o_orderpriority",
    "SELECT n_name, COUNT(*) AS n FROM agent_view JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n DESC, n_name LIMIT 5",
]
VALIDATE = [
    "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority",
    "SELECT p_brand, MAX(p_size) AS s FROM part WHERE p_size > 10 GROUP BY p_brand",
    "SELECT o_totalprise FROM orders",
    "SELECT * FROM no_such_table",
    "SELEC 1 FROM orders",
]
CHART_SIZE = {"chart_bar": (800, 500), "chart_pie": (600, 500),
              "chart_line": (800, 500), "chart_hist": (800, 500)}


def agent_plan(seed, n_blocks):
    """`n_blocks` blocks, each one call of every kind in a seed-shuffled
    order, parameters drawn from a bounded vocabulary."""
    rng = random.Random(seed)
    blocks = []
    for _ in range(n_blocks):
        kinds = KINDS[:]
        rng.shuffle(kinds)
        block = []
        for kind in kinds:
            c = {"kind": kind}
            if kind == "search":
                groups = [rng.sample(P_NOUN, rng.randint(1, 2))]
                if rng.random() < 0.5:
                    groups.append(rng.sample(P_ADJ, rng.randint(1, 3)))
                c["concepts"] = groups
            elif kind == "validate":
                c["sql"] = rng.choice(VALIDATE)
            elif kind == "knn":
                c["ids"] = sorted(rng.sample(range(50), rng.randint(1, 3)))
                c["k"] = rng.choice([5, 10])
            elif kind != "schema":
                q = rng.randrange(24)
                year, month = 1995 + q // 4, 1 + 3 * (q % 4)
                span = rng.choice([6, 12, 24])
                end = year * 12 + month - 1 + span
                c["from"] = f"{year:04d}-{month:02d}-01"
                c["until"] = f"{end // 12:04d}-{end % 12 + 1:02d}-01"
                c["statuses"] = rng.choice(STATUSES)
                if kind == "sql":
                    c["sql"] = rng.choice(SQL)
            c["key"] = json.dumps(c, sort_keys=True)
            block.append(c)
        blocks.append(block)
    return {"blocks": blocks}


def _filtered(c):
    st = ", ".join(f"'{s}'" for s in c["statuses"])
    return (f"SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '{c['from']}' "
            f"AND o_orderdate < TIMESTAMP '{c['until']}' AND o_orderstatus IN ({st})")


def _dsum(col):
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,6))) AS DOUBLE)"


def _insights(col, src):
    return (f"SELECT COUNT(*) AS n_packages, CAST(MIN({col}) AS DOUBLE) AS min_budget, "
            f"CAST(MAX({col}) AS DOUBLE) AS max_budget, {_dsum(col)} AS total_budget, "
            f"{_dsum(col)} / COUNT(*) AS mean_budget FROM ({src})")


_SPARK_TYPES = {"int64": "bigint", "int32": "int", "double": "double", "string": "string",
                "list<element: float>": "array<float>"}


def _schema_rows(data_dir):
    rows = []
    for t in TABLES:
        for f in pq.read_schema(os.path.join(data_dir, f"{t}.parquet")):
            typ = str(f.type)
            if typ.startswith("timestamp"):
                # Snapshot normalizes events.ts to a session-TZ timestamp;
                # other tz-less timestamps read as timestamp_ntz
                typ = "timestamp" if (t, f.name) == ("events", "ts") else "timestamp_ntz"
            else:
                typ = _SPARK_TYPES.get(typ, typ)
            rows.append((t, f.name, typ, True))
    return ["table_name", "column_name", "data_type", "nullable"], rows


def _cos(a, b):
    def dot(x, y):
        return (f"list_reduce(list_transform(range(1, len({x})+1), "
                f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)), (u,v) -> u+v)")
    return f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


def agent_expected(con, data_dir, c):
    """(cols, rows) a call must return, plus columns not compared."""
    kind = c["kind"]
    if kind == "search":
        cond = " AND ".join(
            "(" + " OR ".join(f"contains(p_name, '{w}')" for w in g) + ")" for g in c["concepts"])
        return query(con, _insights("p_retailprice", f"SELECT * FROM part WHERE {cond}")), ()
    if kind == "validate":
        try:
            con.execute("EXPLAIN " + c["sql"])
            valid = True
        except duckdb.Error:
            valid = False
        return (["valid"], [(valid,)]), ()
    if kind == "schema":
        return _schema_rows(data_dir), ()
    if kind == "knn":
        ids = ", ".join(str(i) for i in c["ids"])
        sql = (f"WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id IN ({ids})), "
               f"c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings), "
               f"sc AS (SELECT query_id, neighbor_id, {_cos('qe', 'ce')} AS sim FROM q, c "
               f"WHERE query_id <> neighbor_id), "
               f"r AS (SELECT query_id, neighbor_id, sim, ROW_NUMBER() OVER "
               f"(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk FROM sc) "
               f"SELECT query_id, rnk, neighbor_id, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim "
               f"FROM r WHERE rnk <= {c['k']}")
        return query(con, sql), ()
    if kind in CHART_SIZE:
        return (["width", "height"], [CHART_SIZE[kind]]), ("sha1",)
    f = _filtered(c)
    if kind == "bar":
        sql = (f"SELECT o_orderpriority, {_dsum('o_totalprice')} AS total_budget, "
               f"COUNT(*) AS n_packages FROM ({f}) GROUP BY o_orderpriority")
    elif kind == "pie":
        sql = (f"SELECT o_orderstatus, COUNT(*) AS n_packages, CAST(COUNT(*) AS DOUBLE) / "
               f"CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share FROM ({f}) GROUP BY o_orderstatus")
    elif kind == "trend":
        sql = (f"SELECT date_trunc('month', o_orderdate) AS month, {_dsum('o_totalprice')} AS total_budget, "
               f"COUNT(*) AS n_packages FROM ({f}) GROUP BY 1")
    elif kind == "hist":
        sql = (f"SELECT CAST(month(o_orderdate) AS BIGINT) AS month_num, COUNT(*) AS n_packages "
               f"FROM ({f}) GROUP BY 1")
    elif kind == "insights":
        sql = _insights("o_totalprice", f)
    elif kind == "sql":
        con.execute(f"CREATE OR REPLACE VIEW agent_view AS {f}")
        sql = c["sql"]
    else:
        raise ValueError(f"unknown call kind {kind}")
    return query(con, sql), ()


# ---- corpus_pipeline: the generator's planted ground truth ---------------

def _ids(cell):
    inner = cell[len("a:["):-1]
    return {int(x[2:]) for x in inner.split(",")} if inner else set()


CORPUS_STAGES = ("exact", "minhash", "quality", "write")


def corpus_check(truth, results):
    """{stage: None or reason} for the first output of each stage. A stage
    with no output (it raised in every pass) fails, and so does every later
    stage, whose check needs it."""
    exact, near, junk = (set(truth[k]) for k in ("exact_copies", "near_copies", "junk"))
    everything = set(range(truth["n_docs"]))
    out = {s: "no output: the stage raised in every pass" for s in CORPUS_STAGES if s not in results}
    try:
        n_exact = int(results["exact"]["rows"][0][0][2:])
        out["exact"] = None if n_exact == len(everything - exact) else \
            f"{n_exact} docs after exact dedup, expected {len(everything - exact)}"
        row = results["minhash"]["rows"][0]
        removed = _ids(row[1])
        recall = len(removed & near) / max(1, len(near))
        false = removed - near
        out["minhash"] = (f"near-duplicate recall {recall:.4f} < 0.99" if recall < 0.99 else
                          f"{len(false)} docs removed that are not planted near copies" if false else
                          f"count {row[0]} != {n_exact - len(removed)}"
                          if int(row[0][2:]) != n_exact - len(removed) else None)
        kept = _ids(results["quality"]["rows"][0][1])
        want = everything - exact - removed - junk
        out["quality"] = None if kept == want else \
            f"{len(kept)} docs kept by the quality filter, expected {len(want)} ({len(kept ^ want)} differ)"
        n, id_sum, shards = (int(x[2:]) for x in results["write"]["rows"][0])
        out["write"] = None if (n, id_sum) == (len(want), sum(want)) and shards >= 1 else \
            f"shards hold {n} docs (id sum {id_sum}), expected {len(want)} ({sum(want)})"
    except (KeyError, IndexError, ValueError) as e:
        for s in CORPUS_STAGES:
            out.setdefault(s, f"not checkable: {type(e).__name__} {e}")
    return out
