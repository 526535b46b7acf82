#!/usr/bin/env bash
# Round-close pipeline, STRICTLY SERIAL (VERDICT r16 item 6): the r16
# close once ran Bench concurrently with the sf0.1 DuckDB selfcheck —
# DuckDB's temp spill filled the disk mid-bench and the run read 888 s
# with calibration probes at 7x/22x their quiet values. The probes
# flagged it, but the run was garbage. This script sequences
#   Verify(sf0.001) -> selfcheck -> Verify(sf0.01) -> selfcheck
#   -> Verify(sf0.1) -> selfcheck -> Bench(sf0.1)
# and refuses to leave a BENCH_FULL.json whose calibration probes
# exceed SANITY_X times the committed prior's (default 2.0) — the
# "don't commit a contended bench" rule as arithmetic.
#
# Usage: bash tools/close.sh [--skip-sf01] [--skip-sf1]
#   Logs land in /tmp/close_<sf>.log; exits nonzero on the first
#   failing stage. Expects to run from the repo root with no other
#   sbt/JVM job alive (the long-run discipline in PLANS.md).
set -u -o pipefail

cd "$(dirname "$0")/.." || exit 1
SANITY_X="${SANITY_X:-2.0}"
SKIP01=0; SKIP1=0
for a in "$@"; do
  case "$a" in
    --skip-sf01) SKIP01=1 ;;
    --skip-sf1) SKIP1=1 ;;
    *) echo "close.sh: unknown arg $a" >&2; exit 2 ;;
  esac
done

if pgrep -f 'graft\.(Verify|Bench|PlanDump)' >/dev/null; then
  echo "close.sh: another graft JVM is running — refusing to overlap" >&2
  exit 3
fi

gate() { # gate <sfdir> <outdir>
  local sf="$1" out="$2" tag
  tag="$(basename "$sf")"
  echo "=== Verify $sf ==="
  rm -rf "$out"
  sbt -batch "runMain graft.Verify $sf $out" >"/tmp/close_${tag}.log" 2>&1
  local rc=$?
  if [ $rc -ne 0 ]; then
    echo "close.sh: Verify failed at $sf (rc=$rc) — see /tmp/close_${tag}.log" >&2
    exit 4
  fi
  echo "=== selfcheck $sf ==="
  python3 tools/selfcheck.py "$sf" "$out" | tee "/tmp/close_${tag}_check.log"
  if grep -q '^FAIL' "/tmp/close_${tag}_check.log"; then
    echo "close.sh: selfcheck FAIL at $sf" >&2
    exit 5
  fi
}

gate /root/testdata/sf0.001 /tmp/close_v0001
[ "$SKIP01" = 1 ] || gate /root/testdata/sf0.01 /tmp/close_v001
[ "$SKIP1" = 1 ] || gate /root/testdata/sf0.1 /tmp/close_v01

echo "=== Bench sf0.1 (solo, after all selfchecks) ==="
# keep the committed artifact until the new run passes the sanity gate
PRIOR=/tmp/close_prior_bench.json
git show HEAD:BENCH_FULL.json >"$PRIOR" 2>/dev/null || cp BENCH_FULL.json "$PRIOR"
# Bench's defaults: the sf0.1 tables (unless SPARK_GRAFT_SF_DIR is set) and
# SPARK_GRAFT_CPUS if set, else the host's core count
sbt -batch 'runMain graft.Bench' >/tmp/close_bench.log 2>&1
rc=$?
if [ $rc -ne 0 ]; then
  echo "close.sh: Bench failed (rc=$rc) — see /tmp/close_bench.log" >&2
  exit 6
fi

python3 - "$PRIOR" BENCH_FULL.json "$SANITY_X" <<'EOF'
import json, sys

def load(path):
    with open(path) as f:
        text = f.read()
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        return json.loads(text.strip().splitlines()[0])

prior, new, x = load(sys.argv[1]), load(sys.argv[2]), float(sys.argv[3])
bad = []
for k in ("calibration", "calibration_ckpt"):
    p, n = prior.get(k, -1.0), new.get(k, -1.0)
    if n <= 0:
        bad.append(f"{k}: new probe unusable ({n})")
    elif p > 0 and n > x * p:
        bad.append(f"{k}: {n:.3f}s is {n / p:.1f}x the committed {p:.3f}s")
errs = new.get("errors", {})  # name -> message map
if errs:
    bad.append(f"{len(errs)} query errors: {list(errs)[:3]}")
if bad:
    print("close.sh: BENCH RUN REJECTED (host contention or failures):")
    for b in bad:
        print("  " + b)
    print("  -> BENCH_FULL.json restored from HEAD; re-run bench solo")
    sys.exit(7)
print(f"bench sane: total={new.get('value')}s "
      f"calibration={new.get('calibration')}s "
      f"ckpt={new.get('calibration_ckpt')}s (within {x}x of committed)")
EOF
rc=$?
if [ $rc -ne 0 ]; then
  cp "$PRIOR" BENCH_FULL.json
  exit $rc
fi
echo "=== close pipeline complete ==="
