"""Seeded input generator for the three benchmark workloads.

Every table is a pure function of (seed, shape): the same seed always
gives byte-identical rows. Schemas match the star schema the program
loads through `graft.sources.Tables` (TPC-H-like dims and facts plus the
`events`, `documents` and `embeddings` tables of the pipeline operators).
Generation is single-threaded numpy and pyarrow.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
ORDER_START = dt.datetime(1995, 1, 1)
EVENT_START = dt.datetime(2024, 1, 1)
WORDS = ("the a of and to is in that it for data spark table query join "
         "merge window stream batch order line part sku user value key "
         "hash sort scan filter group agg fast slow big small column row "
         "page view click cart pay refund brand nation region supply ship "
         "price quantity discount tax date time event source sink state").split()
EVENT_TYPES = ["view", "click", "cart", "purchase", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"]

# Shapes. `batch` is one fresh dataset per refresh pass; `serve` is the
# dataset ServeDemo materializes; `tiny` is the self-test shape.
SHAPES = {
    "batch": dict(customers=600, suppliers=40, parts=800, orders=4000,
                  order_days=730, events=3000, event_days=3, users=500,
                  docs=200, dup_share=0.1, vectors=300, dim=32,
                  clusters=8),
    "serve": dict(customers=600, suppliers=40, parts=800, orders=6000,
                  order_days=60, events=4000, event_days=3, users=500,
                  docs=40, dup_share=0.1, vectors=64, dim=16, clusters=4),
    "tiny": dict(customers=60, suppliers=10, parts=80, orders=400,
                 order_days=40, events=300, event_days=1, users=50,
                 docs=40, dup_share=0.1, vectors=64, dim=16, clusters=4),
}


def _ts(base, seconds):
    """numpy seconds offsets -> arrow timestamp[us] column."""
    us = (np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    base_us = int((base - EPOCH).total_seconds()) * 1_000_000
    return pa.array(base_us + us, type=pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return rng.integers(lo, hi, n) / 100.0


def _fixed(rng, values, n):
    """`n` draws with a fixed multiset of `values` (cycled), shuffled:
    the distribution is the same for every seed, only the order moves."""
    out = np.resize(np.asarray(values), n)
    rng.shuffle(out)
    return out


def _zipf_keys(rng, n_keys, n, a=1.1):
    """Skewed keys over [0, n_keys): key of rank r gets a share
    proportional to r^-a. The per-rank counts are the same for every
    seed (so every pass does equal work); the seed picks which key
    holds which rank and the row order."""
    w = np.arange(1, n_keys + 1, dtype=np.float64) ** -a
    exact = n * w / w.sum()
    counts = np.floor(exact).astype(np.int64)
    short = n - int(counts.sum())
    counts[np.argsort(-(exact - counts), kind="stable")[:short]] += 1
    keys = np.repeat(rng.permutation(n_keys), counts)
    rng.shuffle(keys)
    return keys.astype(np.int64)


def _write(tbl, path):
    pq.write_table(tbl, path, compression="snappy")


def _text(rng, n_words):
    return " ".join(rng.choice(WORDS, n_words))


def documents(rng, n, dup_share):
    """Documents plus planted near-duplicate groups.

    Returns (table, groups) where groups maps each planted duplicate's
    doc_id to the doc_id of the original it copies (one word replaced),
    the ground truth for the dedup check.
    """
    texts, groups = [], {}
    n_dup = int(n * dup_share)
    originals = n - n_dup
    for n_words in _fixed(rng, np.arange(30, 80), originals):
        texts.append(_text(rng, int(n_words)))
    for j, src in enumerate(rng.choice(originals, n_dup, replace=False)):
        src = int(src)
        w = texts[src].split()
        w[int(rng.integers(0, len(w)))] = str(rng.choice(WORDS))
        texts.append(" ".join(w))
        groups[originals + j] = src
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n),
        "source": pa.array([f"src{int(k)}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    return tbl, groups


def part_table(rng, n):
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([" ".join(rng.choice(WORDS, 2))
                            for _ in range(n)]),
        "p_brand": pa.array([f"Brand#{int(b)}"
                             for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(_cents(rng, 90000, 200000, n)),
    })


def embeddings(rng, n, dim, clusters):
    centers = rng.normal(0, 1, (clusters, dim))
    label = _fixed(rng, np.arange(clusters), n)
    v = centers[label] + rng.normal(0, 0.35, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def events(rng, n, days, users, start=EVENT_START, first_id=0):
    secs = np.sort(rng.uniform(0, days * 86400, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n,
                                       dtype=np.int64)),
        "ts": _ts(start, secs),
        "user_id": pa.array(_zipf_keys(rng, users, n)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(_cents(rng, 1, 10000, n)),
        "props": pa.array([f'{{"k": {int(k)}}}'
                           for k in rng.integers(0, 100, n)]),
    })


def dataset(out_dir, seed, shape="batch"):
    """Write one full star-schema dataset; return its ground truth."""
    sh = SHAPES[shape]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    w = lambda t, name: _write(t, os.path.join(out_dir, f"{name}.parquet"))
    w(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                    "MIDDLE EAST"])}), "region")
    w(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5)
                                        .astype(np.int32))}), "nation")
    nc, ns, npart, no = (sh["customers"], sh["suppliers"], sh["parts"],
                         sh["orders"])
    w(pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, 0, 1000000, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    }), "customer")
    w(pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, 0, 1000000, ns)),
    }), "supplier")
    w(part_table(rng, npart), "part")
    # every day of the span carries at least one order, so the serving
    # layer has exactly `order_days` daily partitions
    days = np.concatenate([np.arange(sh["order_days"]),
                           rng.integers(0, sh["order_days"],
                                        no - sh["order_days"])])
    rng.shuffle(days)
    w(pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], no)),
        "o_totalprice": pa.array(_cents(rng, 100000, 50000000, no)),
        "o_orderdate": _ts(ORDER_START, days * 86400),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    }), "orders")
    lines = _fixed(rng, np.arange(1, 8), no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    w(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(_zipf_keys(rng, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 90000, 10000000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
        "l_shipdate": _ts(ORDER_START, (days[okey] + rng.integers(1, 121, nl))
                          * 86400),
    }), "lineitem")
    w(events(rng, sh["events"], sh["event_days"], sh["users"]), "events")
    docs, groups = documents(rng, sh["docs"], sh["dup_share"])
    w(docs, "documents")
    w(embeddings(rng, sh["vectors"], sh["dim"], sh["clusters"]),
      "embeddings")
    return {"dup_groups": groups}


# ---- stream_live inputs ----------------------------------------------

STREAM_ROWS = 400          # rows per generated file, each stream
STREAM_PARTS = 800         # part dim the order-detail stream joins
EVENT_SPAN_S = 120         # event time one events file covers
DETAIL_SPAN_S = 1800       # event time one order-detail file covers


def stream_files(seed, seq, parts):
    """The events file and the order-detail file of tick `seq`.

    Event time only moves forward: file `seq` covers the slice right
    after file `seq - 1`, so in-order input never falls behind the
    watermark. `seq` rides in every order-detail row and event ids start
    at `seq * STREAM_ROWS`, so every row can be traced to its file.
    """
    rng = np.random.default_rng([seed, seq])
    n = STREAM_ROWS
    ev = events(rng, n, EVENT_SPAN_S / 86400.0, 500,
                start=EVENT_START + dt.timedelta(seconds=seq * EVENT_SPAN_S),
                first_id=seq * n)
    secs = np.sort(rng.uniform(0, DETAIL_SPAN_S, n))
    det = pa.table({
        "d_time": _ts(ORDER_START + dt.timedelta(seconds=seq * DETAIL_SPAN_S),
                      secs),
        "sku_id": pa.array(_zipf_keys(rng, parts, n)),
        "amount": pa.array(_cents(rng, 100, 500000, n)),
        "seq": pa.array(np.full(n, seq, dtype=np.int64)),
    })
    return ev, det


def write_atomic(tbl, directory, name):
    """Write `name` so that it appears at once: a hidden temp file the
    stream source ignores, then a rename."""
    tmp = os.path.join(directory, "." + name + ".tmp")
    _write(tbl, tmp)
    os.rename(tmp, os.path.join(directory, name))
