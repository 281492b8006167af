#!/usr/bin/env bash
# Round-close checklist, mechanized. Runs every check a round-close record
# claims, in order, and prints a one-screen PASS/FAIL summary:
#   1. full unit suite (sbt test)
#   2. gate replay on all four corpora (sf0.001, sf0.01, sf0.1, adversarial)
#      via graft.Verify -> scripts/check.py (DuckDB oracle, hash-exact)
#   3. sf0.1 bench (graft.Bench, stdout line + BENCH_DETAIL_sf0.1.json)
#   4. ScaleBench headlines vs BASELINE budgets
# plus the benchmark's own unit tests (perfbench/tests: workload
# generators, percentile and check rules; no Spark) before step 1.
# Usage: scripts/roundclose.sh [--skip-test] [--skip-bench]
# Logs land under /tmp/roundclose/; the summary is also written to
# /tmp/roundclose/SUMMARY.txt. Exit 0 iff every executed step passed.
set -u
cd "$(dirname "$0")/.."
LOGS=/tmp/roundclose
mkdir -p "$LOGS"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
SKIP_TEST=0; SKIP_BENCH=0
for a in "$@"; do
  case "$a" in
    --skip-test) SKIP_TEST=1 ;;
    --skip-bench) SKIP_BENCH=1 ;;
    *) echo "unknown arg: $a" >&2; exit 2 ;;
  esac
done

declare -a RESULTS
step() { # step <name> <exitcode>
  if [ "$2" -eq 0 ]; then RESULTS+=("PASS  $1"); else RESULTS+=("FAIL  $1"); fi
}
# per-step wall seconds in the summary (VERDICT r15 #5): the close's cost
# is dominated by a few steps, and the gate-size trim audit needs a
# number to rank by, not an intuition. Usage: t_start; ... ; t_end -> $DT
t_start() { T0=$(date +%s); }
t_end() { DT=$(( $(date +%s) - T0 )); }

echo "== benchmark unit tests =="
t_start
python3 -m unittest discover -s perfbench/tests > "$LOGS/perfbench_tests.log" 2>&1
urc=$?
t_end
step "perfbench unit tests [${DT}s]" "$urc"

if [ "$SKIP_TEST" -eq 0 ]; then
  echo "== [1/4] sbt test =="
  t_start
  sbt -batch test > "$LOGS/test.log" 2>&1
  trc=$?
  t_end
  # tail exits 0 on empty input, so test a missing marker explicitly (an
  # early sbt crash never prints the total line)
  ntests=$(grep -Eo 'Total number of tests run: [0-9]+' "$LOGS/test.log" | tail -1)
  [ -n "$ntests" ] || ntests='?'
  step "sbt test ($ntests) [${DT}s]" "$trc"
else
  RESULTS+=("SKIP  sbt test")
fi

echo "== [2/4] four-corpora gate replay =="
declare -a CORPORA=(
  "/root/testdata/sf0.001 sf0.001"
  "/root/testdata/sf0.01 sf0.01"
  "/root/testdata/sf0.1 sf0.1"
)
# only replay the adversarial corpus if THIS run generated it: a failed
# generator must not let a stale /tmp/advdata masquerade as a PASS for
# the current HEAD (make_advdata rmtree's the dir first, but it can die
# before that, e.g. on an import error)
if python3 scripts/make_advdata.py /root/testdata/sf0.001 /tmp/advdata \
    > "$LOGS/advdata.log" 2>&1; then
  CORPORA+=("/tmp/advdata adversarial")
else
  RESULTS+=("FAIL  make_advdata (adversarial replay not run)")
fi
for entry in "${CORPORA[@]}"; do
  dir="${entry% *}"; tag="${entry#* }"
  out="/tmp/verify_rc_$tag"
  rm -rf "$out"
  t_start
  SPARK_GRAFT_CPUS="$CPUS" sbt -batch "runMain graft.Verify $dir $out" \
    > "$LOGS/verify_$tag.log" 2>&1
  vrc=$?
  python3 scripts/check.py "$out" "$dir" > "$LOGS/check_$tag.log" 2>&1
  crc=$?
  t_end
  n_ok=$(grep -c ': OK ' "$LOGS/check_$tag.log" || true)
  # every per-query verdict check.py can print: OK / FAIL / SPARK OUTPUT
  # MISSING / ORACLE SQL ERROR — a narrower set would let an errored
  # query vanish from the denominator and read as a perfect score
  n_all=$(grep -cE ': (OK |FAIL |SPARK OUTPUT|ORACLE SQL)' "$LOGS/check_$tag.log" || true)
  step "gate replay $tag ($n_ok/$n_all hash-exact) [${DT}s]" $(( vrc || crc ))
done
# the replay logs carry per-entry seconds ([verify] <name> ok in Ns) —
# surface the slowest entries so the gate-size trim audit ranks by
# measurement, not intuition (VERDICT r15 #5)
rm -f "$LOGS/replay_cost.txt"
grep -h '\[verify\] .* ok in' "$LOGS"/verify_*.log 2>/dev/null \
  | sed 's/.*\[verify\] //' \
  | awk '{gsub(/s$/, "", $4); sums[$1] += $4}
         END {for (q in sums) printf "%s %.1f\n", q, sums[q]}' \
  | sort -k2 -rn | head -5 \
  | awk '{printf "INFO  slowest replay entry (all-corpora sum): %s %ss\n", $1, $2}' \
  > "$LOGS/replay_cost.txt" || true
if [ -s "$LOGS/replay_cost.txt" ]; then
  while IFS= read -r l; do RESULTS+=("$l"); done < "$LOGS/replay_cost.txt"
fi

# Second-scale plan drift (VERDICT r12 #5): stats-driven choices
# (broadcast-vs-SMJ flips) could legitimately differ by SF; the committed
# PLAN_SF0.01_r*.json artifact pins the sf0.01 executed plans (r13 finding:
# currently IDENTICAL to the sf0.001 set — every gate plan is SF-invariant
# at gate scales). Re-derive fresh and diff hashes; a flip must ship with a
# reviewed artifact update, exactly like the sf0.001 spec gate.
echo "== second-scale (sf0.01) plan fingerprints =="
sf2_committed=$(ls PLAN_SF0.01_r*.json 2>/dev/null | sort -V | tail -1)
if [ -z "$sf2_committed" ]; then
  RESULTS+=("FAIL  sf0.01 plan check (no committed PLAN_SF0.01_r*.json)")
else
  t_start
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 SPARK_GRAFT_CPUS="$CPUS" \
    sbt -batch "runMain graft.tools.PlanFingerprint 0 $LOGS/plan_sf001_fresh.json" \
    > "$LOGS/plan_sf001.log" 2>&1
  prc=$?
  t_end
  pdrift=$(python3 - "$sf2_committed" "$LOGS/plan_sf001_fresh.json" <<'PY'
import json, sys
try:
    old = json.load(open(sys.argv[1]))['queries']
    new = json.load(open(sys.argv[2]))['queries']
except Exception as e:
    print(f'unreadable: {e}'); sys.exit(0)
drift = [q for q in old if new.get(q, {}).get('hash') != old[q]['hash']]
drift += [q for q in new if q not in old]
print('; '.join(sorted(set(drift))))
PY
)
  if [ "$prc" -ne 0 ]; then
    RESULTS+=("FAIL  sf0.01 plan derivation (see plan_sf001.log)")
  elif [ -n "$pdrift" ]; then
    RESULTS+=("FAIL  sf0.01 plans drifted vs $sf2_committed: $pdrift")
  else
    RESULTS+=("PASS  sf0.01 plans match $sf2_committed [${DT}s]")
  fi
fi

if [ "$SKIP_BENCH" -eq 0 ]; then
  echo "== [3/4] sf0.1 bench =="
  t_start
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$CPUS" \
    sbt -batch "runMain graft.Bench" > "$LOGS/bench.log" 2>&1
  brc=$?
  t_end
  line=$(grep -E '^\{"metric"' "$LOGS/bench.log" | tail -1)
  nerr=$(printf '%s' "$line" | python3 -c \
    'import json,sys; print(json.load(sys.stdin).get("n_err",99))' 2>/dev/null || echo 99)
  total=$(printf '%s' "$line" | python3 -c \
    'import json,sys; print(json.load(sys.stdin).get("value","?"))' 2>/dev/null || echo '?')
  step "bench sf0.1 (total ${total}s, n_err $nerr) [${DT}s]" $(( brc || nerr != 0 ))

  # the noise-triage rule, automated: a per-query time shift with flat
  # job/stage counts is environment noise; a count change is a plan
  # regression and must ship with a reviewed fingerprint/detail diff.
  # Compare the fresh detail against the committed one and fail loudly
  # on count drift (time is deliberately NOT compared here). Only judge
  # a detail file THIS bench run wrote: on a failed bench the working-tree
  # file may be stale and a PASS line would be misleading (ADVICE r12) —
  # mirror the make_advdata guard and mark the step SKIP instead.
  if [ "$brc" -ne 0 ]; then
    RESULTS+=("SKIP  bench job/stage count check (bench step failed)")
  else
  jobdrift=$(python3 - <<'PY'
import json, subprocess, sys
try:
    new = json.load(open('BENCH_DETAIL_sf0.1.json'))
    old = json.loads(subprocess.run(
        ['git', 'show', 'HEAD:BENCH_DETAIL_sf0.1.json'],
        capture_output=True, text=True, check=True).stdout)
except Exception as e:
    print(f'unreadable: {e}'); sys.exit(0)
drift = [f'{q} jobs {old["jobs"][q]}->{new["jobs"].get(q)}'
         for q in old.get('jobs', {}) if new.get('jobs', {}).get(q) != old['jobs'][q]]
drift += [f'{q} stages {old["stages"][q]}->{new["stages"].get(q)}'
          for q in old.get('stages', {}) if new.get('stages', {}).get(q) != old['stages'][q]]
print('; '.join(drift))
PY
)
  if [ -n "$jobdrift" ]; then
    RESULTS+=("FAIL  bench job/stage counts vs committed detail: $jobdrift")
  else
    RESULTS+=("PASS  bench job/stage counts flat vs committed detail")
  fi
  fi

  echo "== [4/4] ScaleBench headlines =="
  t_start
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$CPUS" \
    sbt -batch "runMain graft.ScaleBench" > "$LOGS/scalebench.log" 2>&1
  src=$?
  t_end
  # budgets: 2x the reference baselines, parsed from BASELINE.md's §1
  # table (ADVICE r12: a hardcoded copy silently goes stale if the
  # baseline document is corrected) — refuse to judge if parsing fails.
  sline=$(grep -E '^\{"' "$LOGS/scalebench.log" | tail -1)
  inb=$(printf '%s' "$sline" | python3 -c '
import json, re, sys
try:
    d = json.load(sys.stdin)
    rows = {"Point query latency": "point_search",
            "Single upsert latency": "point_upsert",
            "Pairwise merge": "merge_1k_pending"}
    budget = {}
    for line in open("BASELINE.md"):
        for label, key in rows.items():
            if label in line:
                m = re.search(r"\|\s*([0-9.]+)\s*s\s*\|", line)
                if m:
                    budget[key] = 2 * float(m.group(1))
    if set(budget) != set(rows.values()):
        print(1); sys.exit()  # baseline table unparseable: fail loudly
    bad = [k for k, lim in budget.items() if float(d[k]) > lim]
    print(0 if not bad else 1)
except Exception:
    print(1)' 2>/dev/null || echo 1)
  step "scalebench headlines within 2x budget [${DT}s]" $(( src || inb ))
else
  RESULTS+=("SKIP  bench sf0.1"); RESULTS+=("SKIP  scalebench")
fi

echo
echo "== round-close summary ==" | tee "$LOGS/SUMMARY.txt"
fails=0
for r in "${RESULTS[@]}"; do
  echo "$r" | tee -a "$LOGS/SUMMARY.txt"
  case "$r" in FAIL*) fails=$((fails+1)) ;; esac
done

# Artifact commit (VERDICT r13/r14 recurrence): a recorded close must be
# reproducible from HEAD, so the refreshed/driver-written round artifacts
# are committed AS the close's last step instead of being left in the
# working tree. Only on an all-PASS run — a failed close must stay loudly
# dirty for investigation, never be enshrined at HEAD.
if [ "$fails" -eq 0 ]; then
  # a pre-populated index would be silently swept into the artifact
  # commit — refuse instead (the operator staged it for a reason)
  if ! git diff --cached --quiet; then
    echo "FAIL  artifact commit (index already has staged changes)" \
      | tee -a "$LOGS/SUMMARY.txt"
    fails=$((fails+1))
  # git add with pathspecs is all-or-nothing: ONE failing pathspec is
  # fatal (rc 128), so its status must be checked — the first version
  # discarded it to 2>/dev/null and a close could print PASS with
  # artifacts still dirty (r15 review finding). COPYCHECK.json and
  # PROGRESS.jsonl are deliberately NOT listed: they are gitignored by
  # design (driver-written, read from the working tree), and an ignored
  # pathspec makes git add fail exactly like an unmatched one (the r15
  # close hit this).
  # pathspecs are QUOTED so git (not the shell) expands them against the
  # index+worktree: a shell glob only sees the working tree, so a round
  # that DELETES a tracked artifact (the PLAN_r14→r15 rename class) would
  # never have its deletion staged, and the identical globs in the
  # dirty-check below would miss it too — close prints PASS, tree dirty
  # (r15 ADVICE).
  elif ! git add -A -- 'BENCH_DETAIL_*.json' 'PLAN_r*.json' \
      'PLAN_SF0.01_r*.json' LEAKCHECK.json 'BENCH_r*.json' \
      'CORRECTNESS_r*.json' BENCH_NOTES.md \
      2>>"$LOGS/SUMMARY.txt"; then
    echo "FAIL  artifact commit (git add failed)" | tee -a "$LOGS/SUMMARY.txt"
    fails=$((fails+1))
  elif ! git diff --cached --quiet; then
    git commit -q -m "Record round-close artifacts" \
      && echo "PASS  artifact commit ($(git rev-parse --short HEAD))" \
        | tee -a "$LOGS/SUMMARY.txt" \
      || { echo "FAIL  artifact commit" | tee -a "$LOGS/SUMMARY.txt"; \
           fails=$((fails+1)); }
  else
    echo "PASS  artifact commit (nothing to record)" \
      | tee -a "$LOGS/SUMMARY.txt"
  fi
  # the close's own artifacts must now be clean at HEAD (every class the
  # add lists)
  if [ "$fails" -eq 0 ] && [ -n "$(git status --porcelain -- \
      'BENCH_DETAIL_*.json' 'PLAN_r*.json' \
      'PLAN_SF0.01_r*.json' LEAKCHECK.json 'BENCH_r*.json' \
      'CORRECTNESS_r*.json' BENCH_NOTES.md 2>/dev/null)" ]; then
    echo "FAIL  artifacts still dirty after commit" \
      | tee -a "$LOGS/SUMMARY.txt"
    fails=$((fails+1))
  fi
else
  echo "SKIP  artifact commit (close has failures)" \
    | tee -a "$LOGS/SUMMARY.txt"
fi
echo "logs: $LOGS/" | tee -a "$LOGS/SUMMARY.txt"
exit $(( fails > 0 ))
