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
sbt -batch test 2>&1 | tail -3
echo "=== t5 recall guard (mandatory): banded near-dup vs quadratic baseline"
# the t5 ORACLE mirrors the implementation's banding, so this equality
# test against the quadratic baseline is the ONLY recall gate — it must
# demonstrably RUN (grep the test name) and pass, every CI run
T5LOG=$(sbt -batch 'testOnly graft.DedupSpec -- -z "quadratic baseline"' 2>&1)
echo "$T5LOG" | grep -q "banded near-dup is a lossless subset of the quadratic baseline" \
  || { echo "FATAL: t5 quadratic-baseline equality test did not run (renamed or filtered out)"; exit 1; }
echo "$T5LOG" | grep -q "All tests passed" \
  || { echo "FATAL: t5 quadratic-baseline equality test failed"; echo "$T5LOG" | tail -20; exit 1; }
echo "=== t18 threshold guard (mandatory): approx_percentile vs deterministic twin"
# t18's documented at-scale swap (approxQuantileThresholds) is honest only
# while the sketch provably lands in the deterministic twin's valid median
# band — this equality test is that guard and must demonstrably RUN
T18LOG=$(sbt -batch 'testOnly graft.TextAnalysisSpec -- -z "valid median band"' 2>&1)
echo "$T18LOG" | grep -q "approx quantile thresholds sit in the valid median band" \
  || { echo "FATAL: t18 approx-vs-exact threshold test did not run (renamed or filtered out)"; exit 1; }
echo "$T18LOG" | grep -q "All tests passed" \
  || { echo "FATAL: t18 approx-vs-exact threshold test failed"; echo "$T18LOG" | tail -20; exit 1; }
echo "=== p3 cardinality guard (mandatory): HLL profile vs exact profile"
# p3's documented at-scale swap (profile(exact = false), HLL sketches
# instead of count-distinct Expand) is honest only while the sketch
# provably stays within 3×rsd of the exact run — this test is that guard
QLOG=$(sbt -batch 'testOnly graft.QualitySpec -- -z "HLL error"' 2>&1)
echo "$QLOG" | grep -q "approx profile cardinalities stay within HLL error of exact" \
  || { echo "FATAL: p3 HLL-vs-exact cardinality test did not run (renamed or filtered out)"; exit 1; }
echo "$QLOG" | grep -q "All tests passed" \
  || { echo "FATAL: p3 HLL-vs-exact cardinality test failed"; echo "$QLOG" | tail -20; exit 1; }
echo "=== p6 heavy-hitter guard (mandatory): Misra-Gries sketch vs exact guarantees"
# p6's documented at-scale swap (topValuesApprox, fixed-memory Misra-Gries
# instead of a value-domain group-by) is honest only while the sketch
# provably honors the mergeable-summaries survival + lower-bound
# guarantees across partitionings — this test is that guard
MGLOG=$(sbt -batch 'testOnly graft.QualitySpec -- -z "Misra-Gries"' 2>&1)
echo "$MGLOG" | grep -q "Misra-Gries sketch honors the mergeable-summaries guarantees" \
  || { echo "FATAL: p6 Misra-Gries guarantee test did not run (renamed or filtered out)"; exit 1; }
echo "$MGLOG" | grep -q "All tests passed" \
  || { echo "FATAL: p6 Misra-Gries guarantee test failed"; echo "$MGLOG" | tail -20; exit 1; }
echo "=== p9 quantile-sketch guard (mandatory): weight invariant + rank-error bound"
# p9's at-scale claim (fixed-memory mergeable quantiles instead of a
# per-key sort) is honest only while over-capacity compaction keeps the
# weight invariant and the deterministic rank-error bound — this test is
# that guard
QSLOG=$(sbt -batch 'testOnly graft.QuantileSketchSpec -- -z "over capacity"' 2>&1)
echo "$QSLOG" | grep -q "total weight invariant holds and rank error is bounded" \
  || { echo "FATAL: p9 quantile-sketch guarantee test did not run (renamed or filtered out)"; exit 1; }
echo "$QSLOG" | grep -q "All tests passed" \
  || { echo "FATAL: p9 quantile-sketch guarantee test failed"; echo "$QSLOG" | tail -20; exit 1; }
echo "=== t43 PQ recall guard (mandatory): ADC candidates recover brute-force neighbors"
# t43's at-scale claim (m bytes per vector) is honest only while the
# ADC candidate cut + exact re-rank keeps real recall on the worst-case
# near-uniform fixture — this test is that guard
PQLOG=$(sbt -batch 'testOnly graft.DedupSpec -- -z "PQ-ADC"' 2>&1)
echo "$PQLOG" | grep -q "candidate cut recovers most brute-force neighbors" \
  || { echo "FATAL: t43 PQ recall test did not run (renamed or filtered out)"; exit 1; }
echo "$PQLOG" | grep -q "All tests passed" \
  || { echo "FATAL: t43 PQ recall test failed"; echo "$PQLOG" | tail -20; exit 1; }
echo "=== width-probe guard (mandatory): in-memory width equals Spark's own zstd write"
# file-size targeting sizes files from bytes counted in memory instead of
# a written sample; the cap is honest only while that count equals what
# Spark's own writer produces for the same rows — this test is that guard
WLOG=$(sbt -batch 'testOnly graft.DdlSpec -- -z "in-memory width measurement"' 2>&1)
echo "$WLOG" | grep -q "in-memory width measurement equals the bytes of Spark's own zstd write of the sample" \
  || { echo "FATAL: width-probe equality test did not run (renamed or filtered out)"; exit 1; }
echo "$WLOG" | grep -q "All tests passed" \
  || { echo "FATAL: width-probe equality test failed"; echo "$WLOG" | tail -20; exit 1; }
echo "=== CEP lazy-build guard (mandatory): every Pattern constructor builds with no Spark job"
# every batch CEP shape folds its machine through one lazy driver; the
# table that pins "building a shape runs no job" over every public
# Pattern constructor must demonstrably RUN and pass
LLOG=$(sbt -batch 'testOnly graft.FunnelSpec -- -z "lazy build"' 2>&1)
echo "$LLOG" | grep -q "lazy build: every Pattern constructor builds with no Spark job on Funnel.run over a frame whose scan throws" \
  || { echo "FATAL: CEP lazy-build table did not run (renamed or filtered out)"; exit 1; }
echo "$LLOG" | grep -q "All tests passed" \
  || { echo "FATAL: CEP lazy-build table failed"; echo "$LLOG" | tail -20; exit 1; }
echo "=== CEP stream≡batch guard (mandatory): every streaming Pattern equals Funnel.run"
# the streaming runner emits the batch layout; the table that runs every
# Pattern with a streaming form over the same out-of-order waves and
# compares it with the batch runner must demonstrably RUN and pass
SBLOG=$(sbt -batch 'testOnly graft.StreamingSpec -- -z "stream equals batch table"' 2>&1)
echo "$SBLOG" | grep -q "stream equals batch table: for every Pattern with a streaming form" \
  || { echo "FATAL: CEP stream-batch table did not run (renamed or filtered out)"; exit 1; }
echo "$SBLOG" | grep -q "All tests passed" \
  || { echo "FATAL: CEP stream-batch table failed"; echo "$SBLOG" | tail -20; exit 1; }
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
echo "=== CEP retention guard (mandatory): every completing pattern frees its state after the TTL"
# every streaming CEP pattern runs through one buffer whose retention
# rule is honest only while one property pins it for every completing
# pattern: freed once the watermark passes completion + retention, not before
RTLOG=$(sbt -batch 'testOnly graft.StreamingSpec -- -z "retention property"' 2>&1)
echo "$RTLOG" | grep -q "retention property: every completing CEP pattern frees its completed state once the watermark passes completion + retention, and a later event starts a new instance" \
  || { echo "FATAL: CEP retention property did not run (renamed or filtered out)"; exit 1; }
echo "$RTLOG" | grep -q "All tests passed" \
  || { echo "FATAL: CEP retention property failed"; echo "$RTLOG" | tail -20; exit 1; }
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
echo "=== index lifecycle guard (mandatory): every family's compaction folds a committed batch with a delete"
# the four persisted-index families share one store (IndexStore); the
# table that runs build -> committed append -> delete -> compact -> load
# for every family must demonstrably RUN and pass
ILOG=$(sbt -batch 'testOnly graft.IndexStoreSpec -- -z "lifecycle table"' 2>&1)
echo "$ILOG" | grep -q "lifecycle table: in every index family, ids deleted from a committed batch are gone after compaction, the log and tombstones are empty, and the probe equals a fresh build on the survivors" \
  || { echo "FATAL: index lifecycle table did not run (renamed or filtered out)"; exit 1; }
echo "$ILOG" | grep -q "All tests passed" \
  || { echo "FATAL: index lifecycle table failed"; echo "$ILOG" | tail -20; exit 1; }
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
echo "=== DuckDB differential"
python3 tools/check_oracle.py /root/testdata/sf0.01 "$OUT"
echo "=== Bench sf0.1"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>&1 \
  | grep '"metric"'
echo "=== CI green"
