"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

1. Runs every workload end to end on the tiny input shape (untraced,
   and serve_http traced too) and requires a correct result with no
   failed operations.
2. Feeds every correctness check one right and one deliberately wrong
   answer, both made with DuckDB from generated inputs, and requires the
   check to accept the first and reject the second.
Exits 0 when everything holds.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen  # noqa: E402

failures = []


def expect(name, ok):
    print(f"{'ok  ' if ok else 'FAIL'} {name}")
    if not ok:
        failures.append(name)


def end_to_end():
    for workload, trace in (("batch_refresh", 0), ("stream_live", 0),
                            ("serve_http", 0), ("serve_http", 1)):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "7", "--seconds", "2", "--trace",
             str(trace), "--shape", "tiny"],
            capture_output=True, text=True, cwd=os.path.dirname(HERE))
        try:
            res = json.loads(p.stdout.strip().splitlines()[-1])
        except (IndexError, ValueError):
            res = {}
        ok = (p.returncode == 0 and res.get("correct") is True
              and res.get("failed") == 0 and res.get("attempted", 0) > 0)
        if not ok:
            print(p.stderr[-3000:])
        expect(f"{workload} trace={trace} runs and is correct", ok)


def write(con, sql, path):
    os.makedirs(path, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")


def wrong_answers(tmp):
    con = checks.connect()
    data = os.path.join(tmp, "data")
    truth = gen.dataset(data, [7, 0], "tiny")
    checks._views(con, data)
    out = os.path.join(tmp, "out")
    got = lambda name: checks._got(os.path.join(out, name))

    # warehouse: the expected relation passes; one cent off fails
    for name, (sql, keys, exact, money) in checks.WAREHOUSE.items():
        write(con, sql, f"{out}/{name}")
        right = checks.compare(con, f"SELECT * FROM {got(name)}", sql, keys,
                               exact, money)
        col = money[0]
        bad = (f"SELECT * REPLACE ({col} + 0.01 AS {col}) FROM ({sql})")
        write(con, bad, f"{out}/{name}_bad")
        wrong = checks.compare(con, f"SELECT * FROM {got(name + '_bad')}",
                               sql, keys, exact, money)
        expect(f"{name}: right accepted, one cent off rejected",
               not right and wrong)

    # dedup: the planted groups pass; merging two clusters fails
    pairs = sorted(truth["dup_groups"].items())
    groups = {}
    for dup, src in pairs:
        groups.setdefault(src, {src}).add(dup)
    rows = [(d, min(g)) for g in groups.values() for d in g]
    vals = ",".join(f"({d},{c})" for d, c in rows)
    write(con, f"SELECT * FROM (VALUES {vals}) t(doc_id, cluster_id)",
          f"{out}/dedup")
    merged = [(d, 0 if c == rows[-1][1] else c) for d, c in rows]
    vals = ",".join(f"({d},{c})" for d, c in merged)
    write(con, f"SELECT * FROM (VALUES {vals}) t(doc_id, cluster_id)",
          f"{out}/dedup_bad")
    expect("dedup_clusters: planted groups accepted, merged clusters rejected",
           not checks.check_dedup(con, got("dedup"), truth)
           and checks.check_dedup(con, got("dedup_bad"), truth))

    # ANN: the brute-force answer passes; neighbours shifted by one fail
    exact = """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings),
        s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                list_cosine_similarity(q.e, c.e) AS cos
              FROM v q JOIN v c ON q.vec_id <> c.vec_id WHERE q.vec_id < 20)
        SELECT query_id, rk, neighbor_id FROM (SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
          FROM s) WHERE rk <= 5"""
    write(con, exact, f"{out}/ann")
    write(con, f"SELECT query_id, rk, (neighbor_id + 1) % 64 AS neighbor_id "
               f"FROM ({exact})", f"{out}/ann_bad")
    expect("sim_ann_ivf: exact top-k accepted, shifted neighbours rejected",
           not checks.check_ann(con, got("ann"))
           and checks.check_ann(con, got("ann_bad")))

    # triangles: per-corner counts from DuckDB pass; one extra corner fails
    tri = f"""WITH e AS ({checks.EDGES}),
        t AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c FROM e e1
              JOIN e e2 ON e1.t = e2.s JOIN e e3 ON e3.s = e1.s
              AND e3.t = e2.t)
        SELECT part_id, count(*) AS tri_ct FROM (SELECT a AS part_id FROM t
          UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t) GROUP BY 1"""
    write(con, tri, f"{out}/tri")
    write(con, f"SELECT part_id, tri_ct + CASE WHEN part_id = "
               f"(SELECT min(part_id) FROM ({tri})) THEN 1 ELSE 0 END "
               f"AS tri_ct FROM ({tri})", f"{out}/tri_bad")
    expect("graph_triangles: exact count accepted, one extra corner rejected",
           not checks.check_triangles(con, got("tri"))
           and checks.check_triangles(con, got("tri_bad")))

    # pagerank: uniform initial mass passes; one node doubled fails
    nodes = f"""WITH e AS ({checks.EDGES})
        SELECT s AS part_id FROM e UNION SELECT t FROM e"""
    write(con, f"SELECT part_id, 1000000 AS pr_score FROM ({nodes})",
          f"{out}/pr")
    write(con, f"SELECT part_id, CASE WHEN part_id = (SELECT min(part_id) "
               f"FROM ({nodes})) THEN 100000000 ELSE 1000000 END AS pr_score "
               f"FROM ({nodes})", f"{out}/pr_bad")
    expect("graph_pagerank: conserved mass accepted, inflated mass rejected",
           not checks.check_pagerank(con, got("pr"))
           and checks.check_pagerank(con, got("pr_bad")))

    # text: DuckDB's own statistics pass; one token more fails
    stats = """SELECT lang, count(*) AS doc_ct, sum(length(text)) AS chars_sum,
          sum(len(string_split(text, ' '))) AS tokens_sum,
          min(length(text)) AS min_chars, max(length(text)) AS max_chars
        FROM documents GROUP BY 1"""
    write(con, stats, f"{out}/text")
    write(con, f"SELECT * REPLACE (tokens_sum + 1 AS tokens_sum) "
               f"FROM ({stats})", f"{out}/text_bad")
    expect("text_corpus_stats: exact statistics accepted, one token off "
           "rejected", not checks.check_text(con, got("text"))
           and checks.check_text(con, got("text_bad")))

    stream_checks(con, tmp)
    serve_checks(con, data)


def stream_checks(con, tmp):
    import numpy as np
    run = os.path.join(tmp, "stream")
    for d in ("in/events", "in/details", "dim"):
        os.makedirs(f"{run}/{d}")
    gen._write(gen.part_table(np.random.default_rng(1), 80),
               f"{run}/dim/part.parquet")
    n = 3
    for k in range(n):
        ev, det = gen.stream_files(7, k, 80)
        gen.write_atomic(ev, f"{run}/in/events", f"{k:06d}.parquet")
        gen.write_atomic(det, f"{run}/in/details", f"{k:06d}.parquet")
    ev = f"read_parquet('{run}/in/events/*.parquet')"
    det = f"read_parquet('{run}/in/details/*.parquet')"
    pv = f"""SELECT date_trunc('hour', ts) AS wstart, event_type,
        count(*) AS pv_ct, count(DISTINCT user_id) AS uv_ct_approx,
        sum(value) AS value_sum, 0 AS ver FROM {ev} GROUP BY 1, 2"""
    sku = f"""SELECT date_trunc('day', d_time) AS wstart, p_brand,
        count(*) AS order_ct, sum(amount) AS order_amount, 0 AS ver
        FROM {det} d JOIN read_parquet('{run}/dim/part.parquet') p
        ON d.sku_id = p.p_partkey GROUP BY 1, 2"""
    write(con, pv, f"{run}/serving/pageview")
    write(con, sku, f"{run}/serving/sku_order")
    rows = n * gen.STREAM_ROWS
    batches = [{"query": q, "rows": rows, "dropped": 0}
               for q in ("pageview", "sku_order")]
    right = checks.check_stream(con, run, n, gen.STREAM_ROWS, batches)
    dropped = [dict(b, dropped=1) for b in batches]
    late = checks.check_stream(con, run, n, gen.STREAM_ROWS, dropped)
    shutil.rmtree(f"{run}/serving/sku_order")
    write(con, f"SELECT * REPLACE (order_ct - 1 AS order_ct) FROM ({sku})",
          f"{run}/serving/sku_order")
    short = checks.check_stream(con, run, n, gen.STREAM_ROWS, batches)
    expect("stream_live: exact serving tables accepted, watermark drop and "
           "one lost row rejected", not right and late and short)
    shutil.rmtree(f"{run}/serving/sku_order")
    write(con, sku, f"{run}/serving/sku_order")
    lost = [dict(batches[0], rows=rows - gen.STREAM_ROWS), batches[1]]
    missed = checks.check_stream(con, run, n, gen.STREAM_ROWS, lost)
    shutil.rmtree(f"{run}/serving/pageview")
    write(con, f"SELECT * REPLACE (uv_ct_approx * 2 + 3 AS uv_ct_approx) "
               f"FROM ({pv})", f"{run}/serving/pageview")
    far = checks.check_stream(con, run, n, gen.STREAM_ROWS, batches)
    expect("stream_live: a file's rows never consumed and distinct counts "
           "far off rejected",
           any("consumed" in e for e in missed)
           and any("approximate" in e for e in far))


def serve_checks(con, data):
    exp = checks.serve_expected(con, data)
    day = sorted(exp["gmv"])[0]
    ct, cents = exp["gmv"][day]
    good = json.dumps([{"gmv": cents / 100, "order_ct": ct, "cur_date": day}])
    bad = json.dumps([{"gmv": (cents + 1) / 100, "order_ct": ct,
                       "cur_date": day}])
    topn = json.dumps([{"province_name": p, "order_amount": a / 100, "rk": r}
                       for r, p, a in exp["topn"]])
    topn_bad = json.dumps([{"province_name": p, "order_amount": a / 100,
                            "rk": r + 1} for r, p, a in exp["topn"]])
    expect("serve_http: exact responses accepted, one cent and a wrong rank "
           "rejected",
           not checks.check_response("day", day, good, exp)
           and checks.check_response("day", day, bad, exp)
           and not checks.check_response("topn", None, topn, exp)
           and checks.check_response("topn", None, topn_bad, exp))
    days = [{"cur_date": d, "order_ct": c, "gmv": g / 100}
            for d, (c, g) in sorted(exp["gmv"].items())]
    chan = [{"ch": c, "uv_ct": u, "pv_ct": p} for c, u, p in exp["channel"]]
    chan_bad = [dict(r, uv_ct=r["uv_ct"] + (i == 0))
                for i, r in enumerate(chan)]
    expect("serve_http: full GMV and channel UV/PV accepted, a missing day "
           "and one uv_ct off rejected",
           not checks.check_response("all", None, json.dumps(days), exp)
           and checks.check_response("all", None, json.dumps(days[1:]), exp)
           and not checks.check_response("channel", None, json.dumps(chan),
                                         exp)
           and checks.check_response("channel", None, json.dumps(chan_bad),
                                     exp))


def main():
    work = os.path.join(os.path.dirname(HERE), ".bench_build")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        wrong_answers(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    end_to_end()
    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
