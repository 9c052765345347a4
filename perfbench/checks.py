"""Correctness checks, computed apart from the program with DuckDB.

Each check reads the program's output and the generated inputs and
returns a list of failure messages (empty when the output is right).
Money is compared as exact integers in units of 1/10000 (every money
value in the inputs has two decimals, and discounted amounts four), so
a sum that is off by one cent fails.
"""
import glob
import json
import os

import duckdb

ANN_RECALL_MIN = 0.8       # sim_ann_ivf recall@5 over 20 queries vs brute force
PAGERANK_ITERS = 3         # iterations graph_pagerank runs


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _views(con, data_dir):
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{f}')")


def _got(path):
    return f"read_parquet('{path}/*.parquet')"


def compare(con, got_sql, exp_sql, keys, exact=(), money=()):
    """Full comparison of two relations on `keys`: row sets must be
    equal, `exact` columns equal and `money` columns equal to 1/10000."""
    on = " AND ".join(f"g.{k} IS NOT DISTINCT FROM e.{k}" for k in keys)
    diffs = [f"g.{c} IS DISTINCT FROM e.{c}" for c in exact]
    diffs += [f"CAST(round(g.{c} * 10000) AS HUGEINT) IS DISTINCT FROM "
              f"CAST(round(e.{c} * 10000) AS HUGEINT)" for c in money]
    cond = " OR ".join(["g.__x IS NULL", "e.__x IS NULL"] + diffs)
    sql = (f"SELECT count(*) FROM (SELECT *, 1 AS __x FROM ({got_sql})) g "
           f"FULL OUTER JOIN (SELECT *, 1 AS __x FROM ({exp_sql})) e "
           f"ON {on} WHERE {cond}")
    bad = con.execute(sql).fetchone()[0]
    n_got = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    n_exp = con.execute(f"SELECT count(*) FROM ({exp_sql})").fetchone()[0]
    if bad or n_got != n_exp:
        return [f"{bad} differing rows (got {n_got} rows, expected {n_exp})"]
    return []


M2 = "CAST({} AS DECIMAL(12,2))"
REV = (f"{M2.format('l_extendedprice')} * "
       f"(1 - {M2.format('l_discount')})")

# registry name -> (expected SQL over the generated tables, keys,
# exact columns, money columns)
WAREHOUSE = {
    "dwd_trade_order_detail": (
        f"""SELECT l_orderkey AS order_id, l_linenumber AS line_id,
            o_custkey AS user_id, CAST(o_orderdate AS DATE) AS order_date,
            l_partkey AS sku_id, l_quantity AS sku_num,
            {REV} AS split_total_amount
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
        ["order_id", "line_id"], ["user_id", "order_date", "sku_id",
                                  "sku_num"], ["split_total_amount"]),
    "dws_trade_sku_order": (
        f"""SELECT p_brand AS trademark, p_type AS category,
            l_partkey AS sku_id, p_name AS sku_name, count(*) AS order_ct,
            sum({M2.format('l_quantity')}) AS sku_num,
            sum({REV}) AS order_amount
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2, 3, 4""",
        ["sku_id"], ["trademark", "category", "sku_name", "order_ct"],
        ["sku_num", "order_amount"]),
    "pub_gmv_daily": (
        f"""SELECT CAST(o_orderdate AS DATE) AS cur_date,
            sum({M2.format('o_totalprice')}) AS gmv, count(*) AS order_ct
            FROM orders GROUP BY 1""",
        ["cur_date"], ["order_ct"], ["gmv"]),
    "pub_province_topn": (
        f"""SELECT * FROM (SELECT province_name, order_amount,
            row_number() OVER (ORDER BY order_amount DESC, province_name)
            AS rk FROM (SELECT n_name AS province_name,
              sum({M2.format('o_totalprice')}) AS order_amount
              FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey GROUP BY 1))
            WHERE rk <= 10""",
        ["rk"], ["province_name"], ["order_amount"]),
}

CHANNEL = """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
           AS ch, count(DISTINCT user_id) AS uv_ct, count(*) AS pv_ct
           FROM events GROUP BY 1"""

EDGES = """SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
           FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"""


def check_dedup(con, got, truth):
    """Every document lands in exactly one cluster, and the clusters of
    two or more documents are exactly the planted near-duplicate groups,
    each labelled by its smallest doc_id."""
    rows = con.execute(f"SELECT doc_id, cluster_id FROM {got}").fetchall()
    errs = []
    ids = [r[0] for r in rows]
    if len(ids) != len(set(ids)):
        errs.append("a document is in more than one cluster")
    root = {}
    for dup, src in truth["dup_groups"].items():
        root.setdefault(int(src), {int(src)}).add(int(dup))
    expected = {d: min(g) for g in root.values() for d in g}
    got_map = {int(d): int(c) for d, c in rows}
    if got_map != expected:
        missing = len(set(expected.items()) - set(got_map.items()))
        extra = len(set(got_map.items()) - set(expected.items()))
        errs.append(f"clusters differ from the planted groups "
                    f"({missing} missing, {extra} extra labels)")
    return errs


def check_ann(con, got, k=5, n_queries=20):
    """Recall of the IVF answer against a DuckDB brute-force top-k."""
    exact = con.execute(f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings),
        s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                list_cosine_similarity(q.e, c.e) AS cos
              FROM v q JOIN v c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < {n_queries})
        SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
          FROM s) WHERE rk <= {k}""").fetchall()
    approx = con.execute(
        f"SELECT query_id, neighbor_id, rk FROM {got}").fetchall()
    errs = []
    if len(approx) > n_queries * k or any(r[2] > k for r in approx):
        errs.append("more than k neighbours per query")
    recall = len(set(exact) & {(q, n) for q, n, _ in approx}) / len(exact)
    if recall < ANN_RECALL_MIN:
        errs.append(f"recall {recall:.3f} < {ANN_RECALL_MIN}")
    return errs


def check_triangles(con, got):
    n = con.execute(f"""WITH e AS ({EDGES})
        SELECT count(*) FROM e e1 JOIN e e2 ON e1.t = e2.s
        JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t""").fetchone()[0]
    total = con.execute(f"SELECT sum(tri_ct) FROM {got}").fetchone()[0] or 0
    return [] if total == 3 * n else [f"triangle corners {total} != 3 x {n}"]


def check_pagerank(con, got):
    """Mass is conserved up to the integer-division rounding: each
    iteration loses less than one unit per directed edge and node."""
    nodes, edges = con.execute(f"""WITH e AS ({EDGES})
        SELECT (SELECT count(*) FROM (SELECT s FROM e UNION SELECT t FROM e)),
               (SELECT count(*) FROM e)""").fetchone()
    n, mass = con.execute(
        f"SELECT count(*), sum(pr_score) FROM {got}").fetchone()
    slack = PAGERANK_ITERS * (2 * edges + nodes)
    errs = []
    if n != nodes:
        errs.append(f"{n} ranked nodes, graph has {nodes}")
    if mass is None or abs(mass - nodes * 1_000_000) > slack:
        errs.append(f"mass {mass} vs {nodes * 1_000_000} (slack {slack})")
    return errs


def check_text(con, got):
    return compare(con, f"SELECT * FROM {got}", """
        SELECT lang, count(*) AS doc_ct, sum(length(text)) AS chars_sum,
          sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
            AS tokens_sum,
          min(length(text)) AS min_chars, max(length(text)) AS max_chars
        FROM documents GROUP BY 1""", ["lang"],
        ["doc_ct", "chars_sum", "tokens_sum", "min_chars", "max_chars"])


def check_batch_pass(con, data_dir, out_dir, truth):
    """Check every query output of one refresh pass."""
    _views(con, data_dir)
    errs = []
    for name, (sql, keys, exact, money) in WAREHOUSE.items():
        got = f"SELECT * FROM {_got(os.path.join(out_dir, name))}"
        errs += [f"{name}: {e}" for e in
                 compare(con, got, sql, keys, exact, money)]
    ops = {
        "dedup_clusters": lambda g: check_dedup(con, g, truth),
        "sim_ann_ivf": lambda g: check_ann(con, g),
        "graph_triangles": lambda g: check_triangles(con, g),
        "graph_pagerank": lambda g: check_pagerank(con, g),
        "text_corpus_stats": lambda g: check_text(con, g),
    }
    for name, fn in ops.items():
        errs += [f"{name}: {e}" for e in fn(_got(os.path.join(out_dir, name)))]
    return errs


# ---- stream_live -----------------------------------------------------

def check_stream(con, run_dir, n_files, rows_per_file, batches):
    errs = []
    ev = f"read_parquet('{run_dir}/in/events/*.parquet')"
    det = f"read_parquet('{run_dir}/in/details/*.parquet')"
    want = n_files * rows_per_file
    for q in ("pageview", "sku_order"):
        got = sum(b["rows"] for b in batches if b["query"] == q)
        if got != want:
            errs.append(f"{q}: consumed {got} rows, generated {want}")
        if any(b["dropped"] for b in batches if b["query"] == q):
            errs.append(f"{q}: rows dropped by the watermark")
    for name, path in (("events", ev), ("details", det)):
        n = con.execute(f"SELECT count(*) FROM {path}").fetchone()[0]
        if n != want:
            errs.append(f"{name}: {n} rows on disk, {want} generated")
    serving = os.path.join(run_dir, "serving")
    errs += [f"pageview: {e}" for e in compare(
        con, f"SELECT * FROM {_got(serving + '/pageview')}",
        f"""SELECT date_trunc('hour', ts) AS wstart, event_type,
            count(*) AS pv_ct, sum(value) AS value_sum FROM {ev}
            GROUP BY 1, 2""", ["wstart", "event_type"], ["pv_ct"],
        ["value_sum"])]
    # the HLL distinct count stays within 4 standard errors (rsd 0.05)
    far = con.execute(f"""
        SELECT count(*) FROM {_got(serving + '/pageview')} g JOIN
        (SELECT date_trunc('hour', ts) AS wstart, event_type,
           count(DISTINCT user_id) AS uv FROM {ev} GROUP BY 1, 2) e
        USING (wstart, event_type)
        WHERE abs(g.uv_ct_approx - e.uv) > greatest(2, 0.2 * e.uv)""").fetchone()[0]
    if far:
        errs.append(f"pageview: {far} approximate distinct counts out of bound")
    errs += [f"sku_order: {e}" for e in compare(
        con, f"SELECT * FROM {_got(serving + '/sku_order')}",
        f"""SELECT date_trunc('day', d_time) AS wstart, p_brand,
            count(*) AS order_ct, sum(amount) AS order_amount
            FROM {det} d JOIN read_parquet('{run_dir}/dim/part.parquet') p
            ON d.sku_id = p.p_partkey GROUP BY 1, 2""",
        ["wstart", "p_brand"], ["order_ct"], ["order_amount"])]
    return errs


# ---- serve_http ------------------------------------------------------

def serve_expected(con, data_dir):
    _views(con, data_dir)
    gmv = {str(d): (int(c), int(round(float(g) * 100))) for d, g, c in
           con.execute(f"""SELECT CAST(o_orderdate AS DATE),
               sum({M2.format('o_totalprice')}), count(*)
               FROM orders GROUP BY 1""").fetchall()}
    topn = [(r, p, int(round(float(a) * 100))) for p, a, r in
            con.execute(WAREHOUSE["pub_province_topn"][0]
                        + " ORDER BY rk").fetchall()]
    chan = sorted(con.execute(CHANNEL).fetchall())
    return {"gmv": gmv, "topn": topn, "channel": chan}


def check_response(kind, arg, body, exp):
    """Compare one HTTP response body with DuckDB's answer."""
    try:
        rows = json.loads(body)
    except ValueError:
        return ["not JSON"]
    cents = lambda x: int(round(float(x) * 100))
    if kind == "day":
        got = [(r["cur_date"], int(r["order_ct"]), cents(r["gmv"]))
               for r in rows]
        want = [(arg,) + exp["gmv"][arg]] if arg in exp["gmv"] else []
    elif kind == "all":
        got = [(r["cur_date"], int(r["order_ct"]), cents(r["gmv"]))
               for r in rows]
        want = sorted((d,) + v for d, v in exp["gmv"].items())
    elif kind == "topn":
        got = [(int(r["rk"]), r["province_name"], cents(r["order_amount"]))
               for r in rows]
        want = exp["topn"]
    else:
        got = sorted((int(r["ch"]), int(r["uv_ct"]), int(r["pv_ct"]))
                     for r in rows)
        want = [tuple(int(x) for x in r) for r in exp["channel"]]
    return [] if got == want else [f"{kind} {arg}: response differs"]
