#!/usr/bin/env bash
# Round-start preflight: catch the two failure modes that cost rounds
# 8-10 their gate evidence BEFORE building anything new.
#
#  1. HEAD must compile — the driver's end-of-round snapshot commits the
#     working tree verbatim, and one type error zeroes every
#     CORRECTNESS/BENCH artifact until someone notices (r8/r9).
#  2. The driver can regenerate /root/testdata between rounds with
#     different physical parquet schemas (events.ts changed
#     TIMESTAMP(NANOS) -> TIMESTAMP micros before r10, breaking 12
#     tests at a green HEAD). Run the suite against the CURRENT data,
#     then eyeball the schema dump if anything timestamp-shaped fails.
#
# Usage: scripts/preflight.sh           (round start; ~6 min)
#        scripts/preflight.sh --close   (round end: regenerate the
#            headline numbers STATUS must quote — full suite count,
#            full oracle pass count, bench query count — FROM the
#            artifacts, so STATUS can never drift from them again
#            (VERDICT r10 "What's wrong" #3) — and the main-source
#            size, in lines of src/main/scala)
set -u

if [ "${1:-}" = "--close" ]; then
  echo "== close 1/4 full unit suite (authoritative test count)"
  sbt -batch test 2>&1 | tail -6 | tee /tmp/preflight_close_test.log
  grep -q "All tests passed" /tmp/preflight_close_test.log || exit 1
  echo "== close 2/4 full oracle gate at sf0.01"
  SPARK_GRAFT_CPUS=8 sbt -batch \
    "runMain graft.Verify /root/testdata/sf0.01 target/close_verify" \
    > /tmp/preflight_close_verify.log 2>&1 || { tail -20 /tmp/preflight_close_verify.log; exit 1; }
  python3 scripts/check.py /root/testdata/sf0.01 target/close_verify \
    | tail -3 || exit 1
  echo "== close 3/4 full sf0.1 bench with per-query wall ceiling"
  # VERDICT r13 Next #2: d53 passed every gate the close ran (unit
  # fixtures + sf0.01 oracle, both tiny) and then hung the driver's
  # sf0.1 bench for 56 minutes. The close now runs the FULL bench at
  # bench scale and fails if any single query exceeds 30 s (~300x the
  # per-query median) or reports a failure — a per-row-CPU pathology
  # must die here, not in the driver's artifact.
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    timeout 3600 sbt -batch "runMain graft.Bench" \
    > /tmp/preflight_close_bench.log 2>&1 \
    || { tail -20 /tmp/preflight_close_bench.log; exit 1; }
  python3 - <<'EOF' || exit 1
import json
b = json.load(open("target/bench_full.json"))
slow = {k: v["sec"] for k, v in b["queries"].items() if v["sec"] > 30.0}
failed = [k for k, v in b["queries"].items() if v["sec"] < 0]
if slow or failed:
    print(f"CLOSE RED: queries over the 30 s sf0.1 ceiling: {slow}; "
          f"failed: {failed}")
    raise SystemExit(1)
print(f"bench ceiling OK: {b['n_queries']} queries, total {b['total']} s, "
      f"slowest under 30 s")
EOF
  echo "== close 4/4 headline numbers"
  python3 - <<'EOF' || exit 1
import json, re
suite = open("/tmp/preflight_close_test.log").read()
m = re.search(r"Total number of tests run: (\d+)", suite)
s = re.search(r"Suites: completed (\d+)", suite)
nq = len(json.load(open("target/close_verify/oracle_sql.json")))
import os
dirs = [d for d in os.listdir("target/close_verify")
        if os.path.isdir(os.path.join("target/close_verify", d))]
print("CLOSE SUMMARY (copy into STATUS verbatim):")
print(f"  tests: {m.group(1)} across {s.group(1)} suites")
print(f"  queries materialized: {len(dirs)}; oracle-checked: {nq}")
# the size metric: every line of main Scala, as
# `find src/main/scala -name '*.scala' | xargs cat | wc -l` counts it
main = [os.path.join(d, f) for d, _, fs in os.walk("src/main/scala")
        for f in fs if f.endswith(".scala")]
lines = sum(open(f, "rb").read().count(b"\n") for f in main)
print(f"  main Scala: {lines} lines in {len(main)} files")
bench = "target/bench_full.json"
if os.path.exists(bench):
    b = json.load(open(bench))
    print(f"  bench: {b['total']} s / {b['n_queries']} queries"
          f" at {b['sf']} (target/bench_full.json)")
EOF
  echo "CLOSE GREEN"
  exit 0
fi

echo "== 1/4 compile"
sbt -batch compile || exit 1

echo "== 2/4 testdata physical schemas (compare against Tables.load assumptions)"
# failure-gated: a missing python3/duckdb or absent parquet must fail the
# preflight, not let it print GREEN without the schema evidence this
# script exists to capture
python3 - <<'EOF' || exit 1
import duckdb
for t in ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]:
    d = duckdb.sql(
        f"DESCRIBE SELECT * FROM '/root/testdata/sf0.01/{t}.parquet'"
    ).fetchall()
    print(f"{t}: " + ", ".join(f"{c[0]}:{c[1]}" for c in d))
EOF

echo "== 3/4 full unit suite"
sbt -batch test || exit 1

echo "== 4/4 oracle smoke (3 queries spanning scan/join/edit paths)"
SPARK_GRAFT_CPUS=8 sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 target/preflight q01_pricing_summary e02_sessionize d41_edit_pairs" \
  || exit 1
python3 scripts/check.py /root/testdata/sf0.01 target/preflight || exit 1

echo "PREFLIGHT GREEN"
