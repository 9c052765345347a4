"""graft benchmark: batch refresh, live stream freshness, HTTP serving.

    python3 perfbench/run.py --workload <batch_refresh|stream_live|serve_http>
        --seed <n> --seconds <s> --trace <0|1> [--shape batch|tiny]

Run from the root of a checkout. The program and the harness are
compiled on first use (see build.py). The last line of stdout is one
JSON object: correct, attempted, failed and metrics (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). A traced run also
writes its spans and per-layer numbers to .bench_build/traces/.
"""
import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import socket  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
from procs import Child  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# Spark threads: four, never more than the machine has; PERFBENCH_CORES
# overrides it for baseline runs (e.g. the single-threaded catch-up)
CORES = max(1, min(int(os.environ.get("PERFBENCH_CORES", 4)),
                   os.cpu_count() or 1))
HEAP = "3g"
RUN_LIMIT_S = 150          # hard stop for one run after the build

# per-layer metrics printed with --trace 1: the ones every workload
# exercises, per measured unit of work (see README.md)
PER_LAYER = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_cpu_s": "s",
    "spark.task_skew_max": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "plans.optimization_s": "s",
    "plans.planning_s": "s", "jvm.gc_s": "s", "jvm.jit_s": "s",
    "sources.files_discovered": "count"}

# stream_live shape
BACKLOG_FILES = 44         # staged files per stream before the query starts
FILES_PER_TRIGGER = 4      # catch-up micro-batch size, in files
LIVE_PERIOD_S = 1.6        # one file per stream every 1.6 s in the live phase
LIVE_FILES = 12            # live files per stream, at least
WARM_BATCHES = 3           # first catch-up batches of each query not timed

# serve_http shape: a round is this fixed sequence; `day` dates are drawn
# per round from the seeded script
ROUND = ["day", "day", "day", "topn", "day", "day", "channel", "day", "all"]


def tail(xs):
    """The highest percentile with at least ten samples beyond it, once a
    run has 40 samples (it is then the 75th percentile or above); with
    fewer, the nearest-rank 90th percentile, since the rule would fall to
    the median at 20 samples."""
    s = sorted(xs)
    if len(s) >= 40:
        return s[len(s) - 11]
    return s[max(0, -(-9 * len(s) // 10) - 1)]


def jvm_cmd(cp, rundir, main, *args):
    return (["java"] + build.JVM_FLAGS +
            [f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xmn512m",
             "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={rundir}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + [str(a) for a in args])


def child_env(rundir):
    env = dict(os.environ)
    env.update(SPARK_LOCAL_DIRS=f"{rundir}/tmp", SPARK_GRAFT_CPUS=str(CORES),
               PERFBENCH_CORES=str(CORES))
    return env


def ready_s(build_s):
    return time.monotonic() - PROCESS_START - build_s


# ---------------------------------------------------------------- batch

def run_batch(a, cp, rundir, build_s, trace_path):
    passes = 1 + max(1, round(a.seconds / 12))
    truths = []
    for p in range(passes):
        truths.append(gen.dataset(f"{rundir}/data/pass_{p}", [a.seed, p],
                                  a.shape))
    jvm = Child(jvm_cmd(cp, rundir, "perfbench.Harness", "batch",
                        f"{rundir}/data", f"{rundir}/out", passes,
                        trace_path or "-"), rundir, child_env(rundir))
    jvm.expect("ready")
    setup = ready_s(build_s)
    recs = [jvm.expect("pass", timeout=120) for _ in range(passes)]
    done = jvm.expect("done")
    rss = jvm.peak_rss_mb()
    jvm.quit()
    con = checks.connect()
    errs = []
    for p in range(passes):
        errs += [f"pass {p}: {e}" for e in checks.check_batch_pass(
            con, f"{rundir}/data/pass_{p}", f"{rundir}/out/pass_{p}",
            truths[p])]
    queries = [q for r in recs for q in r["queries"]]
    # a refreshed table is readable when its query finishes: latency is
    # the time from the pass's start to each table's completion
    warm = []
    for r in recs[1:]:
        done_s = 0.0
        for q in r["queries"]:
            done_s += q["s"]
            warm.append(done_s)
    return {
        "errors": errs,
        "attempted": len(queries),
        "failed": sum(not q["ok"] for q in queries),
        "metrics": {
            "setup_s": setup,
            "cold_pass_s": recs[0]["s"],
            "pass_s": statistics.median(r["s"] for r in recs[1:]),
            "latency_p50_ms": 1000 * statistics.median(warm),
            "latency_tail_ms": 1000 * tail(warm),
            "peak_rss_mb": rss,
        },
        "info": {"passes": passes, "pinned_rdds_end": done["pinned_rdds"],
                 "layout_builds": done["layout_builds"]},
    }


# --------------------------------------------------------------- stream

def run_stream(a, cp, rundir, build_s, trace_path):
    live = max(LIVE_FILES, round(a.seconds / LIVE_PERIOD_S))
    n_files = BACKLOG_FILES + live
    for d in ("in/events", "in/details", "dim"):
        os.makedirs(f"{rundir}/{d}", exist_ok=True)
    parts = gen.STREAM_PARTS
    gen._write(gen.part_table(np.random.default_rng([a.seed, 9]), parts),
               f"{rundir}/dim/part.parquet")
    now = time.time()
    for k in range(BACKLOG_FILES):
        ev, det = gen.stream_files(a.seed, k, parts)
        for tbl, d in ((ev, "events"), (det, "details")):
            name = f"{k:06d}.parquet"
            gen.write_atomic(tbl, f"{rundir}/in/{d}", name)
            # staged backlog: mod times ascend in event-time order
            t = now - (BACKLOG_FILES - k)
            os.utime(f"{rundir}/in/{d}/{name}", (t, t))
    jvm = Child(jvm_cmd(cp, rundir, "perfbench.Harness", "stream", rundir,
                        BACKLOG_FILES, FILES_PER_TRIGGER, gen.STREAM_ROWS,
                        trace_path or "-"),
                rundir, child_env(rundir))
    started = jvm.expect("ready")["ms"]
    setup = ready_s(build_s)
    jvm.expect("caught_up", timeout=120)
    created, lag = {}, []
    t_live = time.monotonic()
    for i, k in enumerate(range(BACKLOG_FILES, n_files)):
        ev, det = gen.stream_files(a.seed, k, parts)
        # the two streams are independent feeds: the order-detail file of
        # a tick lands half a period after the events file
        for off, tbl, d, q in ((0.0, ev, "events", "pageview"),
                               (0.5, det, "details", "sku_order")):
            due = t_live + (i + off) * LIVE_PERIOD_S
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            lag.append(max(0.0, time.monotonic() - due))
            gen.write_atomic(tbl, f"{rundir}/in/{d}", f"{k:06d}.parquet")
            created[(q, k)] = time.time() * 1000
    jvm.send(f"end {n_files - 1}")
    done = jvm.expect("done", timeout=150)
    rss = jvm.peak_rss_mb()
    jvm.quit()
    batches = done["batches"]
    data = {q: sorted((b for b in batches if b["query"] == q and b["rows"]),
                      key=lambda b: b["id"]) for q in ("pageview", "sku_order")}
    fresh, missing = [], 0
    for (q, k), c in created.items():
        hit = [b for b in data[q] if b["lo"] <= k <= b["hi"]]
        if hit:
            fresh.append(hit[0]["readable_ms"] - c)
        else:
            missing += 1
    catchup = {q: [b for b in bs[WARM_BATCHES:] if b["hi"] < BACKLOG_FILES]
               for q, bs in data.items()}
    rate = {q: 1000 * sum(b["rows"] for b in bs) /
            sum(b["trigger_ms"] for b in bs) for q, bs in catchup.items()}
    first = max(q[0]["readable_ms"] for q in data.values()) - started
    errs = checks.check_stream(checks.connect(), rundir, n_files,
                               gen.STREAM_ROWS, batches)
    if missing:
        errs.append(f"{missing} files never became readable")
    return {
        "errors": errs,
        "attempted": 2 * n_files,
        "failed": missing,
        "metrics": {
            "setup_s": setup,
            "cold_pass_s": first / 1000,
            "pass_s": statistics.median(
                b["trigger_ms"] for bs in catchup.values() for b in bs) / 1000,
            "latency_p50_ms": statistics.median(fresh),
            "latency_tail_ms": tail(fresh),
            "peak_rss_mb": rss,
        },
        "info": {"files": n_files, "batches": len(batches),
                 # both queries run at once, so their rates add up
                 "catchup_rows_per_s": sum(rate.values()),
                 # the open loop's margin: live rate against the slower
                 # query's catch-up rate, and the share of the live phase
                 # the busier query spent in triggers
                 "live_share_of_catchup_rate":
                     gen.STREAM_ROWS / LIVE_PERIOD_S / min(rate.values()),
                 "live_busy_share": max(
                     sum(b["trigger_ms"] for b in bs
                         if b["lo"] >= BACKLOG_FILES) / 1000 /
                     (live * LIVE_PERIOD_S) for bs in data.values()),
                 "generator_lag_ms_max": 1000 * max(lag)},
    }


# ---------------------------------------------------------------- serve

def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def run_serve(a, cp, rundir, build_s, trace_path):
    data = f"{rundir}/data"
    gen.dataset(data, [a.seed, 0], "serve" if a.shape == "batch" else a.shape)
    port = free_port()
    if trace_path:
        cmd = jvm_cmd(cp, rundir, "perfbench.Harness", "serve", data, port,
                      trace_path)
    else:
        cmd = jvm_cmd(cp, rundir, "graft.tools.ServeDemo", data, port)
    srv = Child(cmd, rundir, child_env(rundir))
    srv.expect_raw('"serving"')
    setup = ready_s(build_s)
    days = sorted(checks.serve_expected(checks.connect(), data)["gmv"])
    rng = random.Random(a.seed)
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    rounds, log = [], []
    t_end = None
    while len(rounds) < 2 or time.monotonic() < t_end:
        r0 = time.monotonic()
        for kind in ROUND:
            arg = rng.choice(days) if kind == "day" else None
            path = {"day": f"/gmv?date={arg}", "all": "/gmv",
                    "topn": "/province/topn", "channel": "/channel/uvct"}[kind]
            q0 = time.monotonic()
            conn.request("GET", path)
            resp = conn.getresponse()
            body = resp.read().decode()
            log.append((len(rounds), kind, arg, resp.status, body,
                        time.monotonic() - q0))
        rounds.append(time.monotonic() - r0)
        if t_end is None:   # the cold round is not part of the measured time
            t_end = time.monotonic() + a.seconds
            if trace_path:
                srv.send("begin")
    conn.close()
    if trace_path:
        srv.send(f"end {len(log) - len(ROUND)}")
        srv.expect("done")
    rss = srv.peak_rss_mb()
    srv.stop()
    exp = checks.serve_expected(checks.connect(), data)
    errs, failed = [], 0
    for _, kind, arg, status, body, _ in log:
        if status != 200:
            failed += 1
            continue
        errs += checks.check_response(kind, arg, body, exp)
    warm = [1000 * x[5] for x in log if x[0] > 0]
    layers = {f"serve.{k}_p50_ms": statistics.median(
        1000 * x[5] for x in log if x[0] > 0 and x[1] == k)
        for k in set(ROUND)}
    return {
        "layers": layers,
        "errors": errs[:20],
        "attempted": len(log),
        "failed": failed,
        "metrics": {
            "setup_s": setup,
            "cold_pass_s": rounds[0],
            "pass_s": statistics.median(rounds[1:]),
            "latency_p50_ms": statistics.median(warm),
            "latency_tail_ms": tail(warm),
            "peak_rss_mb": rss,
        },
        "info": {"rounds": len(rounds), "requests": len(log),
                 "rps": (len(log) - len(ROUND)) / sum(rounds[1:])},
    }


def layer_times(spans, units):
    """Seconds per measured unit spent in each layer span, counting only
    spans that start after the first (cold) pass."""
    passes = sorted((s for s in spans if s["name"].startswith("pass_")),
                    key=lambda s: s["start_ns"])
    t0 = passes[1]["start_ns"] if len(passes) > 1 else 0
    out = {}
    for s in spans:
        if s["name"].startswith("pass_") or s["start_ns"] < t0:
            continue
        out[s["name"] + "_s"] = (out.get(s["name"] + "_s", 0.0) +
                                 (s["end_ns"] - s["start_ns"]) / 1e9)
    return {k: v / max(units, 1) for k, v in out.items()}


WORKLOADS = {"batch_refresh": run_batch, "stream_live": run_stream,
             "serve_http": run_serve}
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
              "latency_p50_ms": "ms", "latency_tail_ms": "ms",
              "peak_rss_mb": "MB"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape", default="batch", choices=("batch", "tiny"))
    a = ap.parse_args()

    def on_signal(signum, _frame):
        raise SystemExit(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGALRM, on_signal)

    b0 = time.monotonic()
    cp = build.ensure(ROOT, BUILD_DIR)
    build_s = time.monotonic() - b0
    signal.alarm(RUN_LIMIT_S)
    rundir = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(f"{rundir}/tmp")
    trace_path = (os.path.join(rundir, "trace.json") if a.trace else None)
    try:
        res = WORKLOADS[a.workload](a, cp, rundir, build_s, trace_path)
        if a.trace:
            with open(trace_path) as fh:
                trace = json.load(fh)
            trace["per_layer"].update(layer_times(trace["spans"],
                                                  trace["per_layer"]["units"]))
            trace["per_layer"].update(res.get("layers", {}))
            trace.update(workload=a.workload, seed=a.seed, info=res["info"],
                         end_to_end_traced=res["metrics"])
            out = os.path.join(BUILD_DIR, "traces")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"{a.workload}-seed{a.seed}.json"),
                      "w") as fh:
                json.dump(trace, fh)
            metrics = {k: {"value": float(trace["per_layer"][k]), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                       for k, v in res["metrics"].items()}
    finally:
        Child.stop_all()
        shutil.rmtree(rundir, ignore_errors=True)
    for e in res["errors"]:
        print(f"[perfbench] check failed: {e}", file=sys.stderr)
    print(json.dumps(res["info"]), file=sys.stderr)
    print(json.dumps({"correct": not res["errors"],
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
