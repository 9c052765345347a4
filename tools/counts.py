#!/usr/bin/env python3
"""Count-consistency gate (r7 VERDICT 'Next round' #8): one number
everywhere, enforced.

Reads the query names from the rows of SparkEntry.table — an oracle
row is `q("name", build, sql)`, a rows-only row is
`Query("name", build, None)` — and asserts, without running Spark:
  1. Every query name appears (backtick-quoted) in SURVEY.md §2 —
     an operator without a SURVEY row is ungraded surface; a SURVEY
     row whose query key vanished is a stale claim.
  2. If a CORRECTNESS/check artifact is given (arg 1), its query
     keys match SparkEntry.queries exactly.
  3. Every query key is sf1-CLASSIFIED (r10 VERDICT "What's wrong"
     #3): tools/sf1.json must place each key in exactly one of
     magnitude_queries / shingle_basis / basket_basis /
     sf1_insensitive (the last with a one-line reason) — a new query
     can no longer silently ship outside the sf1 gate by omission.
A repeated name, or an oracle without a query, cannot be written:
the table is one Seq of rows and rejects a repeated name when built.

Usage: tools/counts.py [CORRECTNESS_rN.json]
"""
import json, re, sys, pathlib

root = pathlib.Path(__file__).resolve().parent.parent
src = (root / "src/main/scala/graft/SparkEntry.scala").read_text()
survey = (root / "SURVEY.md").read_text()

errors = []

rows = re.findall(r'^    (q|Query)\("([A-Za-z0-9_]+)",', src, re.M)
qkeys = [n for _, n in rows]
okeys = [n for kind, n in rows if kind == "q"]
qset, oset = set(qkeys), set(okeys)

# SURVEY §2 rows and backticked query names
sec2 = survey[survey.index("## §2"):survey.index("## §3")]
rows = [l for l in sec2.splitlines()
        if re.match(r"^\| \d+\w*'? \|", l)]
ticked = set(re.findall(r"`([A-Za-z0-9_]+)`", sec2))
unsurveyed = sorted(qset - ticked)
if unsurveyed:
    errors.append(f"{len(unsurveyed)} queries with no SURVEY §2 row: "
                  f"{unsurveyed[:10]}{'...' if len(unsurveyed) > 10 else ''}")

# sf1 classification partition: every query key in EXACTLY one list
sf1 = json.load(open(root / "tools/sf1.json"))
sf1_lists = {
    "magnitude_queries": set(sf1["magnitude_queries"]),
    "shingle_basis": set(sf1["shingle_basis"]),
    "basket_basis": set(sf1["basket_basis"]),
    "sf1_insensitive": set(sf1["sf1_insensitive"]),
}
unclassified = sorted(qset - set().union(*sf1_lists.values()))
if unclassified:
    errors.append(f"{len(unclassified)} queries in NO sf1.json list "
                  f"(classify or add to sf1_insensitive with a reason): "
                  f"{unclassified[:10]}{'...' if len(unclassified) > 10 else ''}")
names = list(sf1_lists)
for i, a in enumerate(names):
    for b in names[i + 1:]:
        both = sorted(sf1_lists[a] & sf1_lists[b])
        if both:
            errors.append(f"sf1.json keys in BOTH {a} and {b}: {both[:8]}")
stale_sf1 = sorted(set().union(*sf1_lists.values()) - qset)
if stale_sf1:
    errors.append(f"sf1.json keys with NO query: {stale_sf1[:8]}")
empty_reason = sorted(k for k, v in sf1["sf1_insensitive"].items()
                      if not str(v).strip())
if empty_reason:
    errors.append(f"sf1_insensitive keys with EMPTY reason: {empty_reason[:8]}")

artifact_n = None
if len(sys.argv) > 1:
    art = json.load(open(sys.argv[1]))
    akeys = {k for k in art if not k.startswith("_")}
    if akeys != qset:
        missing = sorted(qset - akeys)[:8]
        stray = sorted(akeys - qset)[:8]
        errors.append(f"artifact {sys.argv[1]} != SparkEntry.queries: "
                      f"missing={missing} stray={stray}")
    artifact_n = len(akeys)

print(f"queries={len(qkeys)} oracles={len(okeys)} "
      f"rows_only={len(qset - oset)} survey_rows={len(rows)} "
      f"sf1=[mag={len(sf1_lists['magnitude_queries'])} "
      f"shingle={len(sf1_lists['shingle_basis'])} "
      f"basket={len(sf1_lists['basket_basis'])} "
      f"insensitive={len(sf1_lists['sf1_insensitive'])}]"
      + (f" artifact={artifact_n}" if artifact_n is not None else ""))
for e in errors:
    print("FAIL " + e)
sys.exit(1 if errors else 0)
