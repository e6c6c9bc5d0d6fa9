#!/usr/bin/env bash
# Full local gate for graft — run before every round-end commit.
#   tools/ci.sh [sfDir]          (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft-verify-XXXX)"
OUT_LARGE="$(mktemp -d /tmp/graft-verify-large-XXXX)"
VLOG="$(mktemp -d /tmp/graft-verify-log-XXXX)"
trap 'rm -rf "$OUT" "$OUT_LARGE" "$VLOG"' EXIT

# Verify logs at WARN. An optimizer batch that stops converging (say, an
# injected GraftExtensions rule that another rule keeps undoing on some
# registry plan) shows only as Spark's "Max iterations (N) reached for
# batch" warning, and the plan it leaves may still be correct.
converged() {
  if grep -E 'Max iterations \([0-9]+\) reached for batch' "$1"; then
    echo "an optimizer batch reached its iteration limit during Verify ($1)"
    exit 1
  fi
}

echo "== testdata fingerprint: gate record must match the data it ran against"
# The r8 postmortem: the driver regenerated /root/testdata (ts nanos→micros)
# AFTER the last recorded green, silently invalidating it. Any schema/row
# drift fails here until the fingerprint is deliberately re-recorded — which
# means re-running this whole gate against the regenerated data:
#   python3 tools/testdata_fingerprint.py > tools/testdata_fingerprint.txt
python3 tools/testdata_fingerprint.py | diff tools/testdata_fingerprint.txt - \
  || { echo "testdata regenerated since last recorded green — re-run + re-record"; exit 1; }

echo "== compile + unit/streaming specs"
sbt -batch test

echo "== benchmark build + its checks' tests"
# perfbench compiles against private[graft] members and the GraftQC
# facade's signatures, so a change there must not break the benchmark.
python3 perfbench/build.py
python3 -m pytest -q perfbench/tests

echo "== correctness: Verify -> DuckDB oracle compare at $SF"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 \
  | tee "$VLOG/small.log"
python3 tools/check_oracle.py "$SF" "$OUT"
converged "$VLOG/small.log"

echo "== correctness, large branches: Verify with the leaf-byte gate at 0"
# sf0.01 sits below the 16 MB leaf-byte gate, so the run above checks only
# the small branch of each size-dispatched operator. The gate's deployment
# knob goes to the forked JVM as a -D system property (SparkConf loads
# every spark.* property), so the same queries take the persisted and
# checkpointed branches, where the Memo frames live.
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" sbt -batch \
  'set run / javaOptions += "-Dspark.graft.memoSide.minLeafBytes=0"' \
  "runMain graft.Verify $SF $OUT_LARGE" 2>&1 | tee "$VLOG/large.log"
python3 tools/check_oracle.py "$SF" "$OUT_LARGE"
converged "$VLOG/large.log"

echo "== pii positive-path parity (corpus is digit-free, oracle can't see it)"
python3 tools/check_pii_parity.py

# sf1 mode: the five DuckDB-DNF queries (recursive-CTE graph family +
# pipeline_dedup) have NO oracle compare above sf0.1 — their sf1 standing
# rests on Sf1DnfCheck's exact invariants, so it must run on every sf1 gate
# (r14 verdict #8), not as a manual runMain.
if [[ "$SF" == *sf1* ]]; then
  echo "== sf1 DNF invariants (DuckDB cannot finish these at sf1)"
  sbt -batch "runMain graft.tools.Sf1DnfCheck $SF"
fi

echo "== plan audit (CartesianProduct / broadcast / pushdown gates)"
# Staleness gate (r13 verdict #2: EXPLAINS.md shipped one round stale —
# three new entries and two kernel replans had no committed plan record):
# capture the section list AND the per-section plan-shape summary lines
# (broadcast/shuffle counts) of the CURRENT EXPLAINS.md, regenerate, and
# fail if they drift — i.e. fail until the regenerated dump is the one
# being committed, exactly like the testdata fingerprint.
grep -E '^## |^- (broadcast joins|shuffles|shuffle joins|checkpoints)' EXPLAINS.md > "$OUT/explains_pre.txt" || true
sbt -batch "runMain graft.tools.ExplainDump $SF"
grep -E '^## |^- (broadcast joins|shuffles|shuffle joins|checkpoints)' EXPLAINS.md | diff "$OUT/explains_pre.txt" - \
  || { echo "EXPLAINS.md was stale (plan-shape drift) — commit the regenerated dump and re-run"; exit 1; }

echo "== QueryTime smoke: one timed QT line per named query"
# QueryTime shares Bench's session, pass boundary and per-query split, so
# this also runs that path at the gate's scale factor.
qt=$(sbt -batch "runMain graft.tools.QueryTime $SF 1 ds_gaps q3_topk_revenue" 2>/dev/null \
  | grep -c '^QT .* wall=' || true)
[[ "$qt" == 2 ]] || { echo "QueryTime printed $qt timed QT lines, expected 2"; exit 1; }

echo "== broadcast audit: forced broadcast() call sites vs audited allowlist"
# Every sql.functions.broadcast() hint pins a build side REGARDLESS of its
# runtime size, so each call site must be audited as size-BOUNDED (dims,
# query sets, per-compound rows — never a corpus-proportional intermediate;
# r6's text_decontaminate broke this and died at 100 TB by construction).
# A new/changed call site fails here until tools/broadcast_allowlist.txt is
# regenerated — i.e. until someone deliberately re-audits it:
#   grep -rh "broadcast(" src/main/scala --include='*.scala' \
#     | sed 's/^[[:space:]]*//' | sort -u > tools/broadcast_allowlist.txt
grep -rh "broadcast(" src/main/scala --include='*.scala' \
  | sed 's/^[[:space:]]*//' | sort -u | diff tools/broadcast_allowlist.txt - \
  || { echo "broadcast allowlist drift — audit the new call site"; exit 1; }

echo "== scale-gate audit: the leaf-byte gate is read only through PlanStats"
# PlanStats.atScale is the one scale decision. A gate written by hand
# elsewhere reads its own quantity (a warmed memo's size, a self-join's
# doubled input) and lets one operator's branch drift from the others'.
if grep -rn "minLeafBytes(\|leafStatBytes(" src/main/scala --include='*.scala' \
    | grep -v '/PlanStats\.scala:'; then
  echo "leaf-byte gate outside PlanStats — call PlanStats.atScale on the operator's input"
  exit 1
fi

echo "== range-bucket audit: bucket ids are assigned only in RangeBuckets"
# RangeBuckets owns the (key, time-bucket) decomposition: the bucket id,
# its bucket count and the explicit-N exchange in front of the bucket-local
# windows. A bucket id written by hand elsewhere drifts from the census
# that carries values between its buckets.
if grep -rn "Buckets div" src/main/scala --include='*.scala' \
    | grep -v '/RangeBuckets\.scala:'; then
  echo "range-bucket id outside RangeBuckets — call RangeBuckets.assign"
  exit 1
fi
# In Selection.scala the time-ordered QC rules read one QC stream, whose
# constructor (QcStream) is the only place they are bucketed; ds_resample
# (samples and grid marks) and the zoom prune (firstActions) bucket their
# own rows. A bucketing call in any other member of Selection is a second
# bucketed input for a rule that should take the stream.
if awk '
  /^  ((private|protected)(\[[a-z]+\])? )?(final case class|object|def|val|lazy val) / {
    m = $0
    sub(/^  ((private|protected)(\[[a-z]+\])? )?(final case class|object|def|val|lazy val) /, "", m)
    sub(/[^A-Za-z0-9_].*/, "", m)
  }
  /RangeBuckets\.(assign|bucketed|partitioned)\(/ &&
      m != "QcStream" && m != "resampleFrom" && m != "firstActions" {
    print FILENAME ":" FNR ": " m ": " $0; bad = 1
  }
  END { exit !bad }' src/main/scala/graft/operators/Selection.scala; then
  echo "bucketing in Selection outside QcStream, resampleFrom and firstActions — read the QC stream"
  exit 1
fi

echo "== checkpoint audit: localCheckpoint call sites vs audited allowlist"
# A lazy localCheckpoint pins a copy of its rows until the caller or the
# session frees it, and a consumer's plan shows it only as a
# `Scan ExistingRDD` (EXPLAINS.md records each one's own plan under the
# query). Each call site is audited: the rows it writes and why more than
# one consumer reads them (RangeBuckets' storage contract). A new or changed
# site fails here until tools/checkpoint_allowlist.txt is regenerated:
#   grep -r "localCheckpoint(" src/main/scala/graft/operators \
#     src/main/scala/graft/streaming --include='*.scala' \
#     | sed 's/:[[:space:]]*/: /' | sort > tools/checkpoint_allowlist.txt
grep -r "localCheckpoint(" src/main/scala/graft/operators src/main/scala/graft/streaming \
    --include='*.scala' | sed 's/:[[:space:]]*/: /' | sort \
  | diff tools/checkpoint_allowlist.txt - \
  || { echo "checkpoint allowlist drift — audit the new call site"; exit 1; }

echo "== bench-artifact staleness gate"
# r17 verdict #1 (and r16 before it): the committed sf10 bench pair twice
# shipped PREDATING the final optimization commits, so the round's perf
# claims rested on commit messages instead of artifacts. Gate: every
# committed bench_passes* artifact must be at least as new as the last
# src/main change. "Fresh" = dirty in the working tree (just regenerated,
# about to be committed alongside the code) or committed at/after the
# newest src/main commit; uncommitted src/main edits count as "now".
src_t=$(git log -1 --format=%ct -- src/main)
if [[ -n "$(git status --porcelain src/main)" ]]; then src_t=$(date +%s); fi
for art in bench_passes.json bench_passes_sf1.json bench_passes_sf10.json; do
  [[ -f "$art" ]] || continue
  if [[ -n "$(git status --porcelain "$art")" ]]; then continue; fi
  art_t=$(git log -1 --format=%ct -- "$art")
  if (( art_t < src_t )); then
    echo "STALE bench artifact: $art predates the last src/main change — regenerate it"
    exit 1
  fi
done

echo "== bench (one JSON line)"
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep '^{"metric'

echo "ALL GATES GREEN"
