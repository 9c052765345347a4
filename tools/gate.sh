#!/bin/bash
# One-command gate (r8 VERDICT 'Next round' #7): chains the five
# checks the round artifacts rest on and REFUSES to emit artifacts on
# any red. Every stage is the same command the driver/judge runs;
# nothing here is a weaker stand-in.
#
#   counts.py   — key-consistency (SURVEY sync, sf1 classification)
#   Verify      — Spark dumps every SparkEntry query to parquet
#   check.py    — DuckDB oracle replay + row/schema/hash diff
#   sbt test    — the full ScalaTest suite
#   Bench       — one JSON line, committed as BENCH_full_r<N>.json
#
# Usage: tools/gate.sh <round> [sf_dir] [--sf1]
#   round   e.g. 9  → artifacts CHECK_LOCAL_r9.json, BENCH_full_r9.json
#   sf_dir  correctness SF dir (default /root/testdata/sf0.01);
#           bench always runs at sf0.1.
#   --sf1   also run the sf1 oracle gate (stage 6): the
#           magnitude-sensitive subset value-graded on the TileSf
#           ×10 corpus, and the shingle-basis subset (quadratic
#           DuckDB oracles) value-graded on the deterministic
#           SubCorpus doc_id%50 slice of the same corpus. Both
#           query lists live in tools/sf1.json (one place) and reach
#           `graft.Verify <sfDir> <outDir> [query...]` as names.
#           Emits CHECK_LOCAL_sf1_r<N>.json.
# Env: GATE_SKIP_SBT=1 skips the sbt test stage (already-green reruns).
set -u
cd "$(dirname "$0")/.."

ROUND="${1:?usage: tools/gate.sh <round> [sf_dir] [--sf1]}"
SF_DIR="${2:-/root/testdata/sf0.01}"
RUN_SF1=0
for a in "$@"; do [ "$a" = "--sf1" ] && RUN_SF1=1; done
[ "$SF_DIR" = "--sf1" ] && SF_DIR=/root/testdata/sf0.01
VDIR="/tmp/gate_verify_r${ROUND}"
CHECK_OUT="CHECK_LOCAL_r${ROUND}.json"
BENCH_OUT="BENCH_full_r${ROUND}.json"
LOG="/tmp/gate_r${ROUND}.log"

fail() { echo "GATE RED at stage $1 — no artifacts emitted (log: $LOG)"; exit 1; }
echo "gate r${ROUND}: sf=${SF_DIR} log=${LOG}" | tee "$LOG"

echo "== stage 1/5: counts.py ==" | tee -a "$LOG"
python3 tools/counts.py >>"$LOG" 2>&1 || fail counts

echo "== stage 2/5: sbt compile + graft.Verify ==" | tee -a "$LOG"
sbt -batch compile >>"$LOG" 2>&1 || fail compile
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  tools/run.sh graft.Verify "$SF_DIR" "$VDIR" >>"$LOG" 2>&1 || fail verify
[ "$(cat "$VDIR/verify_errors.json")" = "{}" ] || fail verify-errors

echo "== stage 3/5: check.py (DuckDB oracle) ==" | tee -a "$LOG"
CHECK_TMP="/tmp/gate_check_r${ROUND}.json"
python3 tools/check.py "$SF_DIR" "$VDIR" "$CHECK_TMP" >>"$LOG" 2>&1 || fail check
grep -E '^FAIL' "$LOG" >/dev/null && fail check
python3 - "$CHECK_TMP" <<'EOF' || fail check-parse
import json, sys
d = json.load(open(sys.argv[1]))
bad = [k for k, v in d.items() if not k.startswith("_")
       and isinstance(v, dict)
       and not (v.get("match") or v.get("rows_only"))]
if bad:
    print("red queries:", bad); sys.exit(1)
EOF

# BENCH BEFORE SBT TEST (r10 VERDICT #2): the test suite leaves a
# multi-minute GC/IO load tail that inflated the r9/r10 raw bench
# numbers (probe ratio 1.39 at r10); running bench directly after the
# (lighter) verify stage plus an idle gate makes the RAW numbers
# trustworthy so normalization is a cross-check, not a crutch.
echo "== stage 4/5: Bench (sf0.1, idle-gated) ==" | tee -a "$LOG"
# block until the 1-min loadavg decays below 2.0 (cap 10 min), and
# stamp the final pre-bench load into the log for adjudication
for _ in $(seq 1 40); do
  L=$(cut -d' ' -f1 /proc/loadavg)
  awk -v l="$L" 'BEGIN{exit !(l < 2.0)}' && break
  sleep 15
done
echo "   bench starts at load $(cut -d' ' -f1 /proc/loadavg)" | tee -a "$LOG"
BENCH_TMP="/tmp/gate_bench_r${ROUND}.out"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  tools/run.sh graft.Bench >"$BENCH_TMP" 2>>"$LOG" || fail bench
grep -E '^\{"metric"' "$BENCH_TMP" | tail -1 > /tmp/gate_bench_line.json
[ -s /tmp/gate_bench_line.json ] || fail bench-json

if [ "${GATE_SKIP_SBT:-0}" != "1" ]; then
  echo "== stage 5/5: sbt test ==" | tee -a "$LOG"
  sbt -batch test >>"$LOG" 2>&1 || fail sbt-test
else
  echo "== stage 5/5: sbt test SKIPPED (GATE_SKIP_SBT=1) ==" | tee -a "$LOG"
fi

if [ "$RUN_SF1" = "1" ]; then
  echo "== stage 6: sf1 oracle gate ==" | tee -a "$LOG"
  SF1_DIR="${GATE_SF1_DIR:-/tmp/sf1}"
  SF1_SUB="${GATE_SF1_SUB:-/tmp/sf1_sub}"
  if [ ! -d "$SF1_DIR/lineitem.parquet" ]; then
    echo "   building $SF1_DIR (TileSf x10)" | tee -a "$LOG"
    tools/run.sh graft.tools.TileSf /root/testdata/sf0.1 "$SF1_DIR" 10 \
      >>"$LOG" 2>&1 || fail sf1-tile
  fi
  echo "   building $SF1_SUB (SubCorpus mod 50)" | tee -a "$LOG"
  tools/run.sh graft.tools.SubCorpus "$SF1_DIR" "$SF1_SUB" 50 \
    >>"$LOG" 2>&1 || fail sf1-subcorpus
  SF1_BK="${GATE_SF1_BK:-/tmp/sf1_basket}"
  echo "   building $SF1_BK (BasketSlice mod 10)" | tee -a "$LOG"
  tools/run.sh graft.tools.BasketSlice "$SF1_DIR" "$SF1_BK" 10 \
    >>"$LOG" 2>&1 || fail sf1-basketslice
  sf1_names() {
    python3 -c "import json, sys; print(' '.join(json.load(open('tools/sf1.json'))[sys.argv[1]]))" "$1"
  }
  echo "   verify magnitude subset at $SF1_DIR" | tee -a "$LOG"
  SPARK_GRAFT_CPUS=32 tools/run.sh graft.Verify "$SF1_DIR" /tmp/gate_verify_sf1 \
    $(sf1_names magnitude_queries) >>"$LOG" 2>&1 || fail sf1-verify
  python3 tools/check.py "$SF1_DIR" /tmp/gate_verify_sf1 \
    /tmp/gate_check_sf1.json >>"$LOG" 2>&1 || fail sf1-check
  echo "   verify shingle-basis subset at $SF1_SUB" | tee -a "$LOG"
  SPARK_GRAFT_CPUS=32 tools/run.sh graft.Verify "$SF1_SUB" /tmp/gate_verify_sf1sub \
    $(sf1_names shingle_basis) >>"$LOG" 2>&1 || fail sf1sub-verify
  python3 tools/check.py "$SF1_SUB" /tmp/gate_verify_sf1sub \
    /tmp/gate_check_sf1sub.json >>"$LOG" 2>&1 || fail sf1sub-check
  echo "   verify basket-basis subset at $SF1_BK" | tee -a "$LOG"
  SPARK_GRAFT_CPUS=32 tools/run.sh graft.Verify "$SF1_BK" /tmp/gate_verify_sf1bkt \
    $(sf1_names basket_basis) >>"$LOG" 2>&1 || fail sf1bkt-verify
  python3 tools/check.py "$SF1_BK" /tmp/gate_verify_sf1bkt \
    /tmp/gate_check_sf1bkt.json >>"$LOG" 2>&1 || fail sf1bkt-check
  python3 - "$ROUND" <<'EOF' || fail sf1-merge
import json, subprocess, sys
rnd = sys.argv[1]
mag = json.load(open("/tmp/gate_check_sf1.json"))
sub = json.load(open("/tmp/gate_check_sf1sub.json"))
bkt = json.load(open("/tmp/gate_check_sf1bkt.json"))
sha = subprocess.run(["git", "rev-parse", "HEAD"],
                     capture_output=True, text=True).stdout.strip()
out = {}
red = []
for src, basis in ((mag, "sf1_tiled_x10"), (sub, "sf1_sub_mod50"),
                   (bkt, "sf1_basket_mod10")):
    for k, v in src.items():
        if k.startswith("_") or not isinstance(v, dict):
            continue
        v = dict(v)
        v["basis"] = basis
        out[k] = v
        if not (v.get("match") or v.get("rows_only")):
            red.append(k)
cfg = json.load(open("tools/sf1.json"))
out["_meta"] = {
    "git_sha": sha,
    "note": ("sf1 oracle gate: magnitude subset value-graded on the "
             "TileSf x10 corpus; shingle-basis subset (quadratic "
             "DuckDB oracles) value-graded on the deterministic "
             "SubCorpus doc_id%50 slice; basket-basis subset "
             "(recursive/quadratic graph oracles) value-graded on "
             "the deterministic BasketSlice o_orderkey%10 slice "
             "(tools/sf1.json is the single source of all three "
             "lists; counts.py enforces every query is classified)"),
    "n_magnitude": len(cfg["magnitude_queries"]),
    "n_shingle_basis": len(cfg["shingle_basis"]),
    "n_basket_basis": len(cfg["basket_basis"]),
    "n_sf1_insensitive": len(cfg["sf1_insensitive"]),
    "sf1_excluded": [],
    "red": red,
}
json.dump(out, open(f"CHECK_LOCAL_sf1_r{rnd}.json", "w"), indent=1)
if red:
    print("sf1 red queries:", red)
    sys.exit(1)
print(f"sf1 gate green: {len(out) - 1} queries")
EOF
  echo "   wrote CHECK_LOCAL_sf1_r${ROUND}.json" | tee -a "$LOG"
fi

# all green → emit artifacts. Bench writes the FULL per-query map to
# bench_full.json beside its summary stdout line; the committed
# artifact is the full map (the r8 convention), falling back to the
# stdout summary if the file is absent. A same-round rerun stamps the
# displaced pass as _meta.superseded (r10 VERDICT #4: a retained
# pre-rerun r9 file with a different total confused cross-round
# diffs) so only one total per round is ever citable.
cp "$CHECK_TMP" "$CHECK_OUT"
if [ -e "$BENCH_OUT" ]; then
  python3 - "$BENCH_OUT" "$ROUND" <<'EOF'
import json, sys
p, rnd = sys.argv[1], sys.argv[2]
try:
    d = json.load(open(p))
except Exception:
    sys.exit(0)
d["_meta"] = {"superseded": True,
              "note": f"displaced by a same-round gate rerun of r{rnd}; "
                      "do not cite this pass's totals"}
json.dump(d, open(p.replace(".json", "_superseded.json"), "w"))
EOF
fi
if [ -s bench_full.json ]; then
  cp bench_full.json "$BENCH_OUT"
else
  cp /tmp/gate_bench_line.json "$BENCH_OUT"
fi
echo "GATE GREEN — wrote $CHECK_OUT and $BENCH_OUT"
