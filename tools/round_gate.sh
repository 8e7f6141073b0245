#!/usr/bin/env bash
# Single round-gate runner (round-12, VERDICT-r11 #7): the per-round
# verification loop that previously lived as convention in a memory file,
# as code. Runs every gate in sequence and emits ONE machine-readable
# summary line (prefixed ROUND_GATE:) so procedural drift between rounds
# is impossible and the next builder inherits the loop.
#
# Usage:   tools/round_gate.sh [--quick] [--prev BENCH_LOCAL_rN.json]
#   --quick   skip the sf0.1 verify (DuckDB side ~6 min) and the bench
#             artifact — the fast inner-loop subset (test + sf0.01 gate +
#             scaleAudit + leak greps)
#   --prev F  previous round's quiet-box bench artifact for bench_diff
#             (default: highest-numbered BENCH_LOCAL_r*.json in the repo)
#
# Stages (each recorded pass/fail in the summary):
#   test        sbt -batch test                      (unit + property suites)
#   perfbench   run.build() + python3 -m unittest discover -s perfbench/tests
#               (builds the benchmark against this tree — it calls the
#               sources API and Pipeline directly — then checks its
#               generators, the .dbc month included, and metric names)
#   verify001   graft.Verify sf0.01 + compare.py     (the driver's gate)
#   verify01    graft.Verify sf0.1  + compare.py     (full-scale re-check)
#   scaleaudit  sbt scaleAudit                       (CI 10x plan-flip audit)
#   recall      ScaleUpBench recall (10x corpus)     (declared-floor assert)
#   bench       graft.Bench at sf0.1, 32 threads     (LOAD-GATED: runs only
#               when /proc/loadavg < 0.5; skipped is not a failure.
#               SPREAD-GATED (r13): the artifact is REJECTED when
#               max/min(totals_per_run) > 1.15 after Bench's own
#               re-sweeps — a mid-run burst makes it non-comparable)
#   benchdiff   tools/bench_diff.py prev -> new      (regression flags fail)
#   leaks       grep sweep over src/ tools/ build.sbt
#
# Exit code: 0 iff every non-skipped stage passed.
set -u
cd "$(dirname "$0")/.."

QUICK=0
PREV=""
while [[ $# -gt 0 ]]; do
  case "$1" in
    --quick) QUICK=1; shift ;;
    --prev) PREV="$2"; shift 2 ;;
    --only) ONLY="$2"; shift 2 ;;
    *) echo "unknown arg: $1" >&2; exit 2 ;;
  esac
done

SF001=${SF001:-/root/testdata/sf0.01}
SF01=${SF01:-/root/testdata/sf0.1}
SCALE10=${SCALE10:-/tmp/scale10_r9}
OUT=${OUT:-/tmp/round_gate}
mkdir -p "$OUT"

declare -A RES
fail_any=0

# --only <s1,s2>: re-run a subset of stages, marking the rest skipped —
# the RE-SWEEP path for load-sensitive stages (round 14): a bench
# artifact the spread gate rejects is non-comparable and "must be
# re-swept, not committed"; this makes the re-sweep itself a gate run
# (one machine-readable line, no prose adjudication). A line produced
# this way only counts next to a same-session full-gate line covering
# the skipped stages.
ONLY=${ONLY:-}
# validate --only against the known stage list (ADVICE r14: a typo'd name
# previously skipped every stage yet still emitted a green ROUND_GATE line)
KNOWN_STAGES="test perfbench verify001 verify01 scaleaudit recall recall100 bench benchdiff leaks"
if [[ -n "$ONLY" ]]; then
  IFS=',' read -ra _only_arr <<< "$ONLY"
  for _s in "${_only_arr[@]}"; do
    if [[ " $KNOWN_STAGES " != *" $_s "* ]]; then
      echo "round_gate: unknown --only stage '$_s' (known: $KNOWN_STAGES)" >&2
      exit 2
    fi
  done
fi
wanted() { [[ -z "$ONLY" || ",$ONLY," == *",$1,"* ]]; }

stage() { # name cmd...
  local name="$1"; shift
  if ! wanted "$name"; then RES[$name]=skipped; return; fi
  echo "=== round_gate: $name ===" >&2
  if "$@" > "$OUT/$name.log" 2>&1; then
    RES[$name]=pass
  else
    RES[$name]=fail
    fail_any=1
    tail -20 "$OUT/$name.log" >&2
  fi
}

# 1. unit/property suites
stage test sbt -batch test

# 1b. the benchmark still builds against this tree and its own checks hold
# (the unit tests alone skip the .dbc month check when nothing is built)
stage perfbench bash -c "python3 -c 'import sys; sys.path.insert(0, \"perfbench\"); import run; run.build()' && python3 -m unittest discover -s perfbench/tests"

# 2. sf0.01 verify + oracle compare (the driver's correctness gate)
stage verify001 bash -c "rm -rf $OUT/v001 && sbt -batch 'runMain graft.Verify $SF001 $OUT/v001' && python3 tools/compare.py $SF001 $OUT/v001 | tee $OUT/compare001.txt && tail -1 $OUT/compare001.txt | grep -q ' 0 fail, 0 no-oracle'"

if [[ $QUICK -eq 0 ]]; then
  stage verify01 bash -c "rm -rf $OUT/v01 && sbt -batch 'runMain graft.Verify $SF01 $OUT/v01' && python3 tools/compare.py $SF01 $OUT/v01 | tee $OUT/compare01.txt && tail -1 $OUT/compare01.txt | grep -q ' 0 fail, 0 no-oracle'"
else
  RES[verify01]=skipped
fi

# 3. CI 10x plan-flip audit
stage scaleaudit sbt -batch scaleAudit

# 4. declared-floor full-corpus IVF recall (exits nonzero below floor)
if [[ -d "$SCALE10" ]]; then
  stage recall sbt -batch "runMain graft.ScaleUpBench recall $SCALE10"
else
  RES[recall]=skipped
fi

# 4b. 100x-decade incremental recall floor (round 14, VERDICT-r13 #2):
# the decade where level-1 routing genuinely bites (g > w1). Skipped
# under --quick and when the 100x corpus is absent (regenerate it —
# memory: /tmp corpora vanish between sessions).
SCALE100=${SCALE100:-/tmp/scale100_r12}
if [[ -d "$SCALE100" && $QUICK -eq 0 ]]; then
  stage recall100 sbt -batch "runMain graft.ScaleUpBench recall100 $SCALE100"
else
  RES[recall100]=skipped
fi

# 5. bench artifact — only on a quiet box (bursty host-level load spikes
# poison p90s; the committed-quiet-artifact policy, memory r11)
RES[bench]=skipped
RES[benchdiff]=skipped
if [[ $QUICK -eq 0 ]] && wanted bench; then
  # The gate's own earlier stages (test/verify/scaleAudit) leave the 1-min
  # loadavg elevated for a couple of minutes after they finish — an instant
  # check here would ALWAYS skip bench when the full gate runs end-to-end.
  # Poll for a quiet window (same < 0.5 threshold) up to 10 minutes; a box
  # that never goes quiet still skips, as before.
  load=$(cut -d' ' -f1 /proc/loadavg)
  for _ in $(seq 1 20); do
    python3 -c "import sys; sys.exit(0 if float('$load') < 0.5 else 1)" && break
    sleep 30
    load=$(cut -d' ' -f1 /proc/loadavg)
  done
  if python3 -c "import sys; sys.exit(0 if float('$load') < 0.5 else 1)"; then
    new_bench="$OUT/BENCH_LOCAL_new.json"
    if SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_OUT="$new_bench" \
       SPARK_GRAFT_SF_DIR="$SF01" sbt -batch "runMain graft.Bench" \
       > "$OUT/bench.log" 2>&1 && [[ -s "$new_bench" ]] \
       && python3 -c "
import json, sys
# inter-run spread gate (round-13, VERDICT-r12 #2): a mid-run host burst
# max-poisons the p90-biased per-query figures (r12: 19 phantom
# regression flags) — an artifact whose sweeps disagree by >15% is
# non-comparable and must be re-swept, not committed into the diff chain
a = json.load(open('$new_bench'))
sys.exit(1 if a.get('spread_exceeded', False) else 0)"; then
      RES[bench]=pass
      # default baseline = latest POST-trade artifact: *base.json files are
      # pre-trade same-box anchors whose DECLARED_COSTS exemptions must not
      # stay active for future rounds (ADVICE r14)
      [[ -z "$PREV" ]] && PREV=$(ls BENCH_LOCAL_r*.json 2>/dev/null | grep -v 'base\.json$' | sort -V | tail -1)
      if [[ -n "$PREV" && -f "$PREV" ]]; then
        if python3 tools/bench_diff.py "$PREV" "$new_bench" > "$OUT/benchdiff.log" 2>&1; then
          RES[benchdiff]=pass
        else
          RES[benchdiff]=fail; fail_any=1; tail -20 "$OUT/benchdiff.log" >&2
        fi
      fi
    else
      RES[bench]=fail; fail_any=1; tail -20 "$OUT/bench.log" >&2
    fi
  else
    echo "round_gate: loadavg $load >= 0.5 — bench skipped (re-run on a quiet box)" >&2
  fi
fi

# 6. leak greps: nothing proprietary/internal may appear in shipped code.
# Patterns are generic classes, mirroring the driver's LEAKCHECK sweep.
leak_hits=$( { grep -rInE \
    '([a-z0-9-]+\.corp\.|\.internal\.[a-z]+/|slack\.com/archives|AKIA[A-Z0-9]{16}|ghp_[A-Za-z0-9]{36}|-----BEGIN [A-Z]+ PRIVATE KEY)' \
    src tools build.sbt 2>/dev/null || true; } | wc -l)
if [[ "$leak_hits" -eq 0 ]]; then RES[leaks]=pass; else
  RES[leaks]=fail; fail_any=1
  grep -rInE '([a-z0-9-]+\.corp\.|\.internal\.[a-z]+/|slack\.com/archives|AKIA[A-Z0-9]{16}|ghp_[A-Za-z0-9]{36}|-----BEGIN [A-Z]+ PRIVATE KEY)' \
    src tools build.sbt >&2 || true
fi

# summary line (machine-readable; ROUND_GATE: prefix for easy grep)
summary=$(python3 - "$fail_any" <<EOF
import json, sys
res = { $(for k in "${!RES[@]}"; do printf '"%s": "%s", ' "$k" "${RES[$k]}"; done) }
print("ROUND_GATE: " + json.dumps({"pass": sys.argv[1] == "0", "stages": res}, sort_keys=True))
EOF
)
echo "$summary"
exit $fail_any
