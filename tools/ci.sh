#!/usr/bin/env bash
# Full local gate: tests → Verify@sf0.01 → DuckDB differential → Bench@sf0.1
set -euo pipefail
cd "$(dirname "$0")/.."
echo "=== one session factory: no SparkSession.builder in src/main outside GraftSession.scala"
# every main must get its session from graft.GraftSession, so the queries
# run under one conf whichever main drives them
if grep -rn "SparkSession\.builder" src/main | grep -v "^src/main/scala/graft/GraftSession\.scala:"; then
  echo "FATAL: SparkSession.builder outside GraftSession.scala (use graft.GraftSession)"
  exit 1
fi
echo "=== sbt test"
# one run of the whole suite; its full log (colour codes stripped) is
# kept, and it is what the mandatory guards below read, so no guard
# starts a second sbt
TESTLOG=target/ci-sbt-test.log
mkdir -p target
sbt -batch test 2>&1 | sed 's/\x1b\[[0-9;]*m//g' | tee "$TESTLOG" | tail -3
# guard WHAT NAME: fail unless the test named NAME (the whole name) ran in
# that log and is not marked *** FAILED ***
guard() {
  echo "=== $1 (mandatory)"
  local status
  status=$(GUARD_NAME="[info] - $2" awk '
    $0 == ENVIRON["GUARD_NAME"] { ran = 1 }
    $0 == ENVIRON["GUARD_NAME"] " *** FAILED ***" { failed = 1 }
    END { print (failed ? "failed" : ran ? "passed" : "missing") }' "$TESTLOG")
  case "$status" in
    passed) ;;
    missing) echo "FATAL: $1: \"$2\" did not run (renamed or filtered out)"; exit 1 ;;
    *) echo "FATAL: $1: \"$2\" failed"; exit 1 ;;
  esac
}
# the t5 ORACLE mirrors the implementation's banding, so this equality
# test against the quadratic baseline is the ONLY recall gate
guard "t5 recall guard: banded near-dup vs quadratic baseline" \
  "banded near-dup is a lossless subset of the quadratic baseline, with full recall here"
# t18's documented at-scale swap (approxQuantileThresholds) is honest only
# while the sketch provably lands in the deterministic twin's valid median
# band
guard "t18 threshold guard: approx_percentile vs deterministic twin" \
  "approx quantile thresholds sit in the valid median band of the deterministic twin"
# p3's documented at-scale swap (profile(exact = false), HLL sketches
# instead of count-distinct Expand) is honest only while the sketch
# provably stays within 3×rsd of the exact run
guard "p3 cardinality guard: HLL profile vs exact profile" \
  "approx profile cardinalities stay within HLL error of exact"
# p6's documented at-scale swap (topValuesApprox, fixed-memory Misra-Gries
# instead of a value-domain group-by) is honest only while the sketch
# provably honors the mergeable-summaries survival + lower-bound
# guarantees across partitionings
guard "p6 heavy-hitter guard: Misra-Gries sketch vs exact guarantees" \
  "Misra-Gries sketch honors the mergeable-summaries guarantees"
# p9's at-scale claim (fixed-memory mergeable quantiles instead of a
# per-key sort) is honest only while over-capacity compaction keeps the
# weight invariant and the deterministic rank-error bound
guard "p9 quantile-sketch guard: weight invariant + rank-error bound" \
  "over capacity: total weight invariant holds and rank error is bounded"
# t43's at-scale claim (m bytes per vector) is honest only while the
# ADC candidate cut + exact re-rank keeps real recall on the worst-case
# near-uniform fixture
guard "t43 PQ recall guard: ADC candidates recover brute-force neighbors" \
  "PQ-ADC ANN: dense codebooks, k-bounded output, candidate cut recovers most brute-force neighbors"
# file-size targeting sizes files from bytes counted in memory instead of
# a written sample; the cap is honest only while that count equals what
# Spark's own writer produces for the same rows
guard "width-probe guard: in-memory width equals Spark's own zstd write" \
  "in-memory width measurement equals the bytes of Spark's own zstd write of the sample"
# every batch CEP shape folds its machine through one lazy driver; this
# table pins "building a shape runs no job" over every public Pattern
# constructor
guard "CEP lazy-build guard: every Pattern constructor builds with no Spark job" \
  "lazy build: every Pattern constructor builds with no Spark job on Funnel.run over a frame whose scan throws"
# the streaming runner emits the batch layout; this table runs every
# Pattern with a streaming form over the same out-of-order waves and
# compares it with the batch runner
guard "CEP stream≡batch guard: every streaming Pattern equals Funnel.run" \
  "stream equals batch table: for every Pattern with a streaming form, the last Update-mode emission per user (every emission, for a match pattern) equals Funnel.run over the same out-of-order waves, minus the drain-time columns"
# every streaming CEP pattern runs through one buffer whose retention
# rule is honest only while one property pins it for every completing
# pattern: freed once the watermark passes completion + retention, not before
guard "CEP retention guard: every completing pattern frees its state after the TTL" \
  "retention property: every completing CEP pattern frees its completed state once the watermark passes completion + retention, and a later event starts a new instance"
# the four persisted-index families share one store (IndexStore); this
# table runs build -> committed append -> delete -> compact -> load for
# every family
guard "index lifecycle guard: every family's compaction folds a committed batch with a delete" \
  "lifecycle table: in every index family, ids deleted from a committed batch are gone after compaction, the log and tombstones are empty, and the probe equals a fresh build on the survivors"
echo "=== one table-load pipeline: write, verify and check are called only by IngestJob.load"
# the parquet and JDBC loads run one phase sequence; a second copy of its
# tail (write, isolated read-back, count + hash check) must not come back
if ! awk '
  /^  [^ ]/ {
    fn = ""
    if (match($0, /def [A-Za-z0-9_]+/)) fn = substr($0, RSTART + 4, RLENGTH - 4) }
  /Ddl\.writePartitioned\(|ConsistencyCheck\.isolatedSinkMetrics\(|ConsistencyCheck\.check\(/ &&
    !(FILENAME ~ /\/IngestJob\.scala$/ && fn == "load") {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' $(find src/main -name '*.scala'); then
  echo "FATAL: a table load outside IngestJob.load (add a Source case instead)"
  exit 1
fi
echo "=== one frame per query: no benchRun in src/main"
# the bench times the frame the gate checks; the gate's extra step is the
# query's compareAs, not a second hand-written frame
if grep -rn "benchRun" src/main; then
  echo "FATAL: benchRun is back (declare the gate-only step as compareAs)"
  exit 1
fi
echo "=== one name per query: no string-keyed registry in Queries.scala"
# Queries.all is derived from the val declarations; a "name" -> name
# entry is a second copy of the name
if tr '\n' ' ' < src/main/scala/graft/Queries.scala \
    | grep -oE '"([A-Za-z0-9_]+)"[[:space:]]*->[[:space:]]*\1\b'; then
  echo "FATAL: a string-keyed query registry is back in Queries.scala (Queries.all reflects over the declarations)"
  exit 1
fi
echo "=== one CEP machine per shape: no second implementation in Funnel.scala"
# the batch shapes run the Cep machines their streaming twins run; a
# Column-expression fold over a per-user array (collect_list +
# aggregate), a route value or a segment-split body must not come back
if grep -nE 'collect_list|aggregate\(|\bRoute\b|def \w*Bucketed\b' \
    src/main/scala/graft/operators/Funnel.scala; then
  echo "FATAL: a second CEP machine implementation is back in Funnel.scala (build a Cep machine instead)"
  exit 1
fi
echo "=== one entry point per CEP shape: no public *Auto/*Bucketed/*Mode/*Sorted twin"
# a consume mode is the `mode` argument, not a second public name
if grep -nE '^\s*def (funnel|streamingFunnel)\w*(Auto|Bucketed|Mode|Sorted)\(' \
    src/main/scala/graft/operators/Funnel.scala \
    src/main/scala/graft/streaming/StreamingIngest.scala; then
  echo "FATAL: a second public name for one shape is back (use mode = ...)"
  exit 1
fi
echo "=== one CEP pattern value: no per-driver funnel*/streamingFunnel* entry point"
# a shape is a Pattern constructor run by Funnel.run or
# StreamingIngest.streamingCep, not a pair of per-driver defs
if grep -nE 'def (funnel|streamingFunnel)\w*\(' \
    src/main/scala/graft/operators/Funnel.scala \
    src/main/scala/graft/streaming/StreamingIngest.scala; then
  echo "FATAL: a per-driver CEP entry point is back (add a Pattern constructor instead)"
  exit 1
fi
echo "=== two CEP runners: Cep.runSorted and runCep are called only by Funnel.run and streamingCep"
if ! awk '
  /^  ((private|final) )*def / {
    match($0, /def [A-Za-z0-9_]+/); fn = substr($0, RSTART + 4, RLENGTH - 4) }
  /Cep\.runSorted\(/ && !(FILENAME ~ /Funnel\.scala$/ && fn == "run") {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  /[^A-Za-z0-9_]runCep\(/ && !/def runCep\(/ &&
    !(FILENAME ~ /StreamingIngest\.scala$/ && fn == "streamingCep") {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' $(find src/main -name '*.scala'); then
  echo "FATAL: a CEP driver is called outside its runner (build a Pattern and use Funnel.run / streamingCep)"
  exit 1
fi
echo "=== one CEP event-time buffer: timeouts handled only by the driver"
# every streaming CEP pattern is a machine value run by cepUpdate (the
# one timeout check) through runCep (the one event-time-timeout
# operator); a shape with its own buffer must not come back. The j6
# absence detector (streamingNotFollowedBy) is not a CEP pattern and
# keeps its own.
if ! awk '
  /^  ((private|final) )*def / {
    match($0, /def [A-Za-z0-9_]+/); fn = substr($0, RSTART + 4, RLENGTH - 4) }
  /hasTimedOut/ && fn != "cepUpdate" { print FILENAME ":" FNR ": " $0; bad = 1 }
  /GroupStateTimeout\.EventTimeTimeout/ && fn != "runCep" &&
    fn != "streamingNotFollowedBy" { print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' src/main/scala/graft/streaming/StreamingIngest.scala; then
  echo "FATAL: event-time timeout handling outside the CEP driver (write a Cep machine instead)"
  exit 1
fi
echo "=== one persisted-index store: side batches and tombstones are read and written only by IndexStore"
# a second copy of "base ∪ side batches minus tombstones" must not come
# back; TokenizerStore reads whole model versions from the log and keeps
# its own reader
if grep -rnE 'CommitLog\.sideRowsFor|committedBatches|Ddl\.appendTombstones' src/main \
    | grep -vE '^src/main/scala/graft/operators/(IndexStore|TokenizerStore|CommitLog)\.scala:'; then
  echo "FATAL: commit-log or tombstone access outside IndexStore (use IndexStore.visible/append/delete/compact)"
  exit 1
fi
echo "=== no non-atomic index append: every public appendTo*Index* commits through IndexStore.append"
for f in $(grep -rlE '^  def appendTo[A-Za-z0-9_]*Index' src/main); do
  awk '
    function check() { if (fn != "" && !ok) { print FILENAME ":" at ": " fn; bad = 1 } }
    /^  ((private|final|override) )*def / {
      check(); fn = ""
      if ($0 ~ /^  def appendTo[A-Za-z0-9_]*Index/) { fn = $0; at = FNR; ok = 0 }
    }
    fn != "" && /IndexStore\.append\(/ { ok = 1 }
    END { check(); exit bad }' "$f" \
    || { echo "FATAL: an index append that does not commit through IndexStore.append"; exit 1; }
done
OUT=$(mktemp -d)
echo "=== Verify sf0.01 -> $OUT"
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $OUT" 2>&1 \
  | grep -E "\[verify\].*failed" || true
echo "=== every declared query is registered: one Verify result per Q declaration"
# a query made private drops out of Queries.all, and so out of the gate
# and the bench; count the declarations against what Verify wrote
DECLARED=$(grep -cE '\bval [A-Za-z0-9_]+: Q = Q\(' src/main/scala/graft/Queries.scala)
WRITTEN=$(find "$OUT" -mindepth 1 -maxdepth 1 -type d | wc -l)
if [ "$DECLARED" -ne "$WRITTEN" ]; then
  echo "FATAL: $DECLARED queries declared but Verify wrote $WRITTEN (a query is private or failed)"
  exit 1
fi
echo "=== DuckDB differential"
python3 tools/check_oracle.py /root/testdata/sf0.01 "$OUT"
echo "=== Bench sf0.1"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>&1 \
  | grep '"metric"'
echo "=== CI green"
