package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField}

/**
 * Ordered-funnel / sequential-pattern matching over an event stream —
 * the CEP primitive (the reference engine's Flink lineage makes this
 * the signature "complex event processing" shape), re-expressed for
 * Spark's execution model.
 *
 * Semantics: for each user, walk the user's events in the TOTAL event
 * order `(event-time, order column)` and run the shape's state machine
 * over them. The plain funnel greedily advances a stage pointer — an
 * event whose type equals the CURRENT stage's type advances it and
 * stamps that stage's time. Greedy-earliest is existence-optimal for an
 * unconstrained ordered pattern (taking the earliest match never
 * forecloses a later stage), so `stage_reached = k` iff SOME ordered
 * subsequence of the user's events matches the first k stages — and
 * the stamped times are the lexicographically-least witness, which
 * makes the output deterministic and SQL-replayable (the oracle chains
 * k greedy row_number-1 picks, each strictly after the previous in the
 * same total order). Shapes where greedy is wrong (windows, guards,
 * contiguity, iterative conditions) run a dominance or NFA machine.
 *
 * One machine per shape: every entry point validates its arguments,
 * builds the shape's [[Cep]] machine — the same value its streaming
 * twin in [[graft.streaming.StreamingIngest]] runs — and folds it with
 * [[Cep.runSorted]]: ONE user-keyed hash exchange, a sort on (user,
 * event time, order column) and a per-user fold. Nothing per user is
 * collected, so no key size hits a row-size wall, and building a frame
 * runs no Spark job. The only entry point without a machine is the
 * answer-size-bound [[funnelAnyEnumerate]] (a chained join).
 *
 * The loop shapes' `mode` picks greedy or reluctant consumption
 * ([[Funnel.ConsumeMode]]).
 */
object Funnel {

  private val StageReached = StructField("stage_reached", IntegerType,
    nullable = false)

  private def longCols(names: Seq[String]): Seq[StructField] =
    names.map(StructField(_, LongType))

  private def tsCols(k: Int): Seq[StructField] =
    longCols((1 to k).map(j => s"ts${j}_us"))

  private def winCols: Seq[StructField] =
    Seq(StageReached, StructField("win_start_us", LongType))

  /** The first `k` witnesses, NULL past the end. */
  private def padded(w: Seq[Long], k: Int): Seq[Any] =
    (0 until k).map(i => if (i < w.length) w(i) else null)

  private def opt(x: Option[Long]): Any = x.getOrElse(null)

  /** Per-user funnel progress: `stage_reached` (0..k) and the witness
    * timestamp of each completed stage in unix micros (`ts1_us`…,
    * NULL when unreached). `stages` is the ordered event-type pattern. */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    pointerRows(events, userCol, tsCol, orderCol, Cep.typed(stages),
      stages.length, col(typeCol))
  }

  /** The greedy pointer's output rows: `(stage_reached, ts1_us..)`. */
  private def pointerRows(events: DataFrame, userCol: String,
      tsCol: String, orderCol: String,
      m: Cep.Machine[Cep.FunnelWhereState], k: Int,
      tp: Column): DataFrame =
    Cep.runSorted(events, userCol, tsCol, orderCol, m,
        StageReached +: tsCols(k), tp) { (s, _) =>
      Seq(s.stage +: padded(s.witnessUs, k))
    }

  // -------------------------------------------------------------------
  // Quantified funnel — Flink CEP's `times(n)` stage repetition
  // -------------------------------------------------------------------

  /**
   * [[funnel]] with QUANTIFIED stages — Flink CEP's `times(n)`: stage
   * j completes after `n_j` ordered occurrences of its type ("two
   * views, then two clicks, then a purchase"). n ordered occurrences
   * of one type ARE n consecutive stages of that type, so the
   * quantified pattern is EXACTLY the plain funnel over the EXPANDED
   * stage list (greedy-earliest stays existence-optimal), and this
   * adapter only projects the sub-stage results back to full stages:
   * `stage_reached` counts COMPLETED quantified stages and `ts<j>_us`
   * is the time of stage j's LAST (n_j-th) occurrence.
   */
  def funnelTimes(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String,
      stages: Seq[(String, Int)]): DataFrame = {
    require(stages.nonEmpty && stages.forall(_._2 >= 1),
      "need stages with counts >= 1")
    val bounds = stages.map(_._2).scanLeft(0)(_ + _).tail
    val raw = funnel(events, userCol, typeCol, tsCol, orderCol,
      expandStages(stages))
    val full = bounds.map(b => when(col("stage_reached") >= b, 1)
      .otherwise(0)).reduce(_ + _)
    raw.select(col("user_id") +: full.as("stage_reached") +:
      stages.indices.map(j =>
        col(s"ts${bounds(j)}_us").as(s"ts${j + 1}_us")): _*)
  }

  // -------------------------------------------------------------------
  // Looping quantifiers — Flink CEP's `oneOrMore` / `timesOrMore(n)`
  // -------------------------------------------------------------------

  /** Loop-quantifier CONSUME MODE — which match the machine prefers
    * when a repetition COULD absorb one more occurrence. Flink CEP's
    * loops are reluctant by default and `greedy()` opts into maximal
    * consumption. */
  sealed trait ConsumeMode
  /** Maximal repetition: stage j's loop absorbs EVERY type-j event
    * from its block's completion up to the next stage's first pick
    * (Flink `oneOrMore.greedy()`). */
  case object Greedy extends ConsumeMode
  /** Minimal repetition: stage j consumes EXACTLY its `minReps_j`
    * mandatory occurrences and ignores further type-j events (Flink's
    * default loop mode). */
  case object Reluctant extends ConsumeMode

  /** Shared loop-stage validation — the streaming twin
    * ([[graft.streaming.StreamingIngest.streamingFunnelLoop]]) calls
    * this too, so the batch and stream contracts cannot drift. */
  private[graft] def loopRequire(stages: Seq[(String, Int)]): Unit = {
    require(stages.nonEmpty && stages.forall(_._2 >= 1),
      "need stages with minReps >= 1")
    require(stages.map(_._1).sliding(2).forall(p =>
        p.length < 2 || p(0) != p(1)),
      "adjacent stages must differ in type (advance vs loop-absorb " +
        "would be ambiguous)")
  }

  /** The loop family's output columns: `stage_reached`, then per stage
    * `reps<j>` and `ts<j>_us`. */
  private def loopCols(k: Int): Seq[StructField] =
    StageReached +: (1 to k).flatMap(j =>
      longCols(Seq(s"reps$j", s"ts${j}_us")))

  private def loopVals(stage: Int, c: Seq[Long], l: Seq[Long]): Seq[Any] =
    stage +: c.indices.flatMap(j => Seq(c(j), Cep.orNull(l(j))))

  private def loopRows(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[(String, Int)],
      caps: Option[Seq[Int]]): DataFrame =
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.loop(stages.toIndexedSeq, caps.map(_.toIndexedSeq)),
        loopCols(stages.length), col(typeCol)) { (st, _) =>
      Seq(loopVals(Cep.loopStage(stages, st.s), st.c, st.l))
    }

  /**
   * [[funnel]] with LOOPING quantified stages — Flink CEP's
   * `oneOrMore` / `timesOrMore(n)` with GREEDY repetition: stage j
   * matches `minReps_j`-or-more ordered occurrences of its type
   * ("two-or-more views, then one-or-more clicks, then a purchase"),
   * and reports how many occurrences the greedy loop consumed
   * (`reps<j>`) plus the last consumed occurrence's time
   * (`ts<j>_us`) — the two observables [[funnelTimes]]' exact-count
   * reduction cannot express.
   *
   * Deterministic contract (the SQL-replayable one): the SPINE is the
   * greedy-earliest mandatory-pick chain over the expanded stage list
   * (so `stage_reached` equals [[funnelTimes]]' — existence is
   * quantifier-count-only), and stage j's loop then absorbs EVERY
   * type-j event from its first pick up to (exclusive) stage j+1's
   * first pick — the last stage's loop runs to the end of the log.
   * `reps<j>` counts a stage's events even while its mandatory block
   * is still partial (a 1-of-2 stage shows reps 1 at stage_reached
   * j-1), which makes loop progress observable before completion.
   * State: a pointer + 2K slots. Oracle: the w12 chained-pick spine
   * plus one interval COUNT/MAX per stage (w16).
   *
   * `mode` picks the consume mode ([[ConsumeMode]]). Under
   * [[loopRequire]]'s adjacent-stages-differ contract the mode can
   * never change EXISTENCE — a loop absorption can never consume an
   * event the next stage could pick (types differ), so `stage_reached`
   * is identical under both modes; what changes is the MATCH CONTENT:
   * `reps<j>` (greedy: the full absorbed run; reluctant: exactly
   * `minReps_j` once complete) and `ts<j>_us` (greedy: the last
   * absorbed occurrence; reluctant: the `minReps_j`-th pick). The
   * reluctant machine is exactly the bounded quantifier at its floor —
   * `times(m, m)` ([[funnelTimesRange]] with maxReps = minReps).
   * Gate: greedy ≡ w16, reluctant w49.
   */
  def funnelLoop(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[(String, Int)],
      mode: ConsumeMode = Greedy): DataFrame = {
    loopRequire(stages)
    if (mode == Reluctant) funnelTimesRange(events, userCol, typeCol,
      tsCol, orderCol, stages.map { case (tp, m) => (tp, m, m) })
    else loopRows(events, userCol, typeCol, tsCol, orderCol, stages, None)
  }

  /** Shared validation for the RANGE quantifier (times(m, n)). */
  private[graft] def rangeRequire(stages: Seq[(String, Int, Int)]): Unit = {
    loopRequire(stages.map { case (t, m, _) => (t, m) })
    require(stages.forall { case (_, m, n) => n >= m },
      "need maxReps >= minReps on every stage")
  }

  /**
   * Flink CEP's BOUNDED quantifier `times(m, n)` — the last quantifier
   * shape after times(n) (w12, m = n) and oneOrMore/timesOrMore (w16,
   * n = ∞): each stage matches its type at least `minReps` times
   * (mandatory greedy picks, the existence-optimal spine) and
   * greedily absorbs up to `maxReps` total; overflow occurrences are
   * IGNORED — they neither extend the loop nor disturb the spine
   * (greedy bounded repetition with a continue condition, the Flink
   * `times(m, n).greedy()` reading). [[funnelLoop]]'s machine with the
   * cap as one extra test in the absorb branch (counts never feed the
   * pointer, so every downstream stage is bit-identical to the
   * unbounded loop's). Gate: w18.
   */
  def funnelTimesRange(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Int, Int)]): DataFrame = {
    rangeRequire(stages)
    loopRows(events, userCol, typeCol, tsCol, orderCol,
      stages.map { case (t, m, _) => (t, m) }, Some(stages.map(_._3)))
  }

  // -------------------------------------------------------------------
  // Loop-internal contiguity — Flink CEP's `consecutive()` inside
  // oneOrMore / timesOrMore
  // -------------------------------------------------------------------

  /**
   * [[funnelLoop]] with STRICT contiguity INSIDE every repetition
   * block — Flink CEP's `oneOrMore.consecutive()` /
   * `timesOrMore(n).consecutive()` (between stages contiguity stays
   * relaxed, Flink's default): stage j matches `minReps_j`-or-more
   * IMMEDIATELY CONSECUTIVE occurrences of its type in the user's
   * total event order — a single intervening event of any other type
   * resets a partial block and permanently closes a completed one.
   *
   * Deterministic contract: stage j completes at the EARLIEST run of
   * `minReps_j` consecutive type-j events entirely after stage j-1's
   * block completion (earliest completion is existence-optimal — it
   * only enlarges what later stages can use), then absorbs the rest
   * of that run; the breaker is offered to stage j+1 in the same
   * step. `reps_j` reports the completed stage's full run length, or
   * the CURRENT unbroken partial run for the stage in progress (0
   * after a break — progress is observable, resets included).
   * Oracle: per-type maximal-run islands (gaps-and-islands), one
   * earliest-qualifying-island pick per stage chained on the
   * previous completion index, and the island containing the last
   * event for the trailing partial. State: O(K).
   *
   * `mode` is the [[funnelLoop]] consume-mode axis on the consecutive
   * machine: the run phase (and hence the spine and `stage_reached`) is
   * mode-independent because loop absorption can never consume the
   * next stage's pick (adjacent types differ, the run's remainder is
   * same-type); [[Reluctant]] stops consuming at the mandatory block,
   * so `reps<j>` reports `minReps_j` once complete and `ts<j>_us` the
   * block's m-th (last mandatory) occurrence instead of the run's
   * last absorbed one. Gates: w38 (greedy), w56 (reluctant).
   */
  def funnelLoopConsecutive(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Int)], mode: ConsumeMode = Greedy): DataFrame = {
    loopRequire(stages)
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.consecutive(stages.toIndexedSeq, reluctant = mode == Reluctant),
        loopCols(stages.length), col(typeCol)) { (st, _) =>
      Seq(loopVals(st.j - 1 + (if (st.open) 1 else 0), st.c, st.l))
    }
  }

  // -------------------------------------------------------------------
  // Loop boundary condition — Flink CEP's `until`
  // -------------------------------------------------------------------

  private[graft] def untilRequire(
      stages: Seq[(String, Int, Option[String])]): Unit = {
    loopRequire(stages.map { case (t, m, _) => (t, m) })
    require(stages.forall { case (t, _, u) => !u.contains(t) },
      "a stage's until type must differ from its own type " +
        "(close-vs-absorb would be ambiguous)")
  }

  /**
   * [[funnelLoop]] with Flink CEP's `until` boundary condition —
   * `oneOrMore().until(cond)`: stage j's greedy repetition also CLOSES
   * at the first `untilType_j` event while the stage is current (from
   * the stage's first pick, or the log's start for stage 1, to the
   * next stage's first pick). A close during the mandatory block
   * STALLS the pattern at that stage (the block can never complete —
   * Flink's reading: the loop stops accepting, and a partial block is
   * unfinishable); a close while the loop is open only stops
   * absorption — the spine still advances. The until check runs after
   * the advance, so an event that advances into stage j and is also
   * stage j's until type closes j at once. Output schema identical to
   * [[funnelLoop]]; state = pointer + 2K slots + one boolean.
   *
   * `mode` is the [[funnelLoop]] consume-mode axis on the until-bounded
   * loop. Reluctant keeps the ENTIRE until machinery — mid-block closes
   * still stall the pattern (they gate mandatory advances, which both
   * modes make identically) — and only stops loop absorption, so
   * `reps<j>` caps at `minReps_j` and `ts<j>_us` is the block's last
   * mandatory pick. Gates: w31 (greedy), w57 (reluctant).
   */
  def funnelLoopUntil(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String,
      stages: Seq[(String, Int, Option[String])],
      mode: ConsumeMode = Greedy): DataFrame = {
    untilRequire(stages)
    val mstages = stages.map { case (t, m, _) => (t, m) }
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.loopUntil(stages.toIndexedSeq, reluctant = mode == Reluctant),
        loopCols(stages.length), col(typeCol)) { (st, _) =>
      Seq(loopVals(Cep.loopStage(mstages, st.s), st.c, st.l))
    }
  }

  // -------------------------------------------------------------------
  // Windowed funnel — Flink CEP's `within(T)` time bound
  // -------------------------------------------------------------------

  /**
   * [[funnel]] with Flink CEP's `within` constraint: a match counts
   * only if every stage completes within `windowMicros` of ITS OWN
   * stage-1 event. `stage_reached` = the longest stage prefix some
   * in-window chain reaches; `win_start_us` = the latest stage-1 time
   * among chains reaching it.
   *
   * Greedy alone is WRONG under a time bound (the earliest stage-1
   * pick can expire while a later restart completes — the classic
   * CEP-window trap, spec-pinned), so the machine is the max-start DP
   * ([[Cep.within]]): per stage, the MAX window start among partial
   * matches there — max-start DOMINATES (a later start has a later
   * deadline), so k longs are a lossless state whatever the restart
   * count. The oracle replays it as k-1 chained total-order joins
   * with the window predicate on every hop (w8).
   */
  def funnelWithin(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[String],
      windowMicros: Long): DataFrame = {
    require(stages.nonEmpty && windowMicros > 0,
      "need stages and windowMicros > 0")
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.within(stages.toIndexedSeq, windowMicros), winCols,
        col(typeCol)) { (s, _) =>
      Seq(Seq(Cep.slotsSet(s.b), opt(Cep.deepestStart(s.b))))
    }
  }

  // -------------------------------------------------------------------
  // Guarded funnel — Flink CEP's notFollowedBy INSIDE a pattern
  // -------------------------------------------------------------------

  /**
   * [[funnel]] with NEGATIVE conditions between stages — Flink CEP's
   * `notFollowedBy` inside a pattern: stage j+1 only matches via a
   * chain whose gap since its stage-j event contains NO event of the
   * gap's blocker type (`notBetween(j-1)`, None = unguarded). The
   * canonical "view → click → purchase with no error in between".
   * Greedy is WRONG here too (the earliest stage-1 pick can be
   * poisoned by a blocker while a later restart stays clean), so this
   * runs the NFA existence machine ([[Cep.guarded]]): 2k booleans of
   * state, any restart count. `stage_reached` = the number of stages
   * some clean chain ever reached. The oracle replays it as chained
   * total-order joins with a NOT EXISTS blocker probe on every hop
   * (w10).
   */
  def funnelGuarded(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[String],
      notBetween: Seq[Option[String]]): DataFrame = {
    require(stages.nonEmpty && notBetween.length == stages.length - 1,
      "need stages and one (optional) blocker per gap")
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.guarded(stages.toIndexedSeq, notBetween.toIndexedSeq),
        Seq(StageReached), col(typeCol)) { (s, _) =>
      Seq(Seq(s.e.count(identity)))
    }
  }

  // -------------------------------------------------------------------
  // Combined within(T) + guards — the full CEP constraint product
  // -------------------------------------------------------------------

  /**
   * [[funnelWithin]] AND [[funnelGuarded]] composed — the full
   * production CEP constraint: stages complete within `windowMicros`
   * of their own stage-1 event AND no gap contains its blocker type
   * ("convert within 2 h with no error in between"). Both failure
   * modes demand restart-aware folding, so the machine
   * ([[Cep.withinGuarded]]) carries the windowed max-start vector with
   * guard kills layered on. `stage_reached` counts stages EVER
   * reached by a clean in-window chain (sticky); `win_start_us` is the
   * latest start among chains reaching it. 2k longs of state. Gate:
   * w14.
   */
  def funnelWithinGuarded(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String], windowMicros: Long,
      notBetween: Seq[Option[String]]): DataFrame = {
    require(stages.nonEmpty && windowMicros > 0 &&
      notBetween.length == stages.length - 1,
      "need stages, windowMicros > 0, one (optional) blocker per gap")
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.withinGuarded(stages.toIndexedSeq, windowMicros,
          notBetween.toIndexedSeq), winCols, col(typeCol)) { (s, _) =>
      Seq(Seq(Cep.slotsSet(s.m), opt(Cep.deepestStart(s.m))))
    }
  }

  // -------------------------------------------------------------------
  // Contiguity modes + optional stages — Flink CEP's `next` /
  // `notNext` / `optional` Pattern combinators
  // -------------------------------------------------------------------

  /** One stage of a [[funnelPattern]] spec.
    *
    *   - `strict`: this stage's event must be the IMMEDIATE successor
    *     (in the user's `(event-time, event_id)` total order) of the
    *     previous stage's matched event — Flink's `next` vs the default
    *     relaxed `followedBy`. The first stage is `begin` and must be
    *     relaxed.
    *   - `optional`: the stage may be skipped — a chain at the previous
    *     stage also satisfies this prefix (Flink `optional()`).
    *     `ts<j>_us` stays NULL on the skipping chain; `stage_reached`
    *     counts the stage as satisfied.
    *   - `notNextAfter`: the event IMMEDIATELY after this stage's
    *     matched event must not be of this type (Flink `notNext`,
    *     guarding the gap to the NEXT stage) — a chain whose successor
    *     is the blocker dies, but its already-reached prefix still
    *     counts (the w10 sticky-ever rule). A skipped optional stage's
    *     gap guard does not apply to the skipping chain (it never sat
    *     at that stage). Disallowed on the last stage, where it could
    *     never affect the output.
    */
  final case class PatternStage(tp: String, strict: Boolean = false,
      optional: Boolean = false, notNextAfter: Option[String] = None)

  private[graft] def patternRequire(stages: Seq[PatternStage]): Unit = {
    require(stages.nonEmpty, "need at least one stage")
    require(!stages.head.strict,
      "the first stage is `begin` — it has no previous event to be " +
        "strictly contiguous with")
    require(stages.last.notNextAfter.isEmpty,
      "notNextAfter guards the gap to the NEXT stage; on the last " +
        "stage it can never affect the output")
  }

  /**
   * [[funnel]] with the remaining Flink CEP Pattern combinators —
   * STRICT contiguity (`next`), `notNext` gap guards and `optional`
   * stages, per [[PatternStage]]. Greedy is wrong under every one of
   * them (the earliest stage-1 pick can sit in a dead immediate slot,
   * be poisoned by its successor, or force a skip a later restart
   * doesn't need — FunnelSpec pins each trap), so this runs the l/o
   * NFA existence machine ([[Cep.pattern]]): 2k booleans + k
   * first-reach longs of state, any restart count. Output:
   * `stage_reached` (longest satisfiable prefix, optional skips
   * counted) and `ts<j>_us` = the first event time at which stage j was
   * ACTUALLY matched (NULL when only ever skipped). The oracle replays
   * it as chained total-order joins whose hop predicates are
   * immediate-successor probes (NOT EXISTS an event strictly between)
   * and immediate-successor blocker probes (w20).
   */
  def funnelPattern(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String,
      stages: Seq[PatternStage]): DataFrame = {
    patternRequire(stages)
    val st = stages.toIndexedSeq
    Cep.runSorted(events, userCol, tsCol, orderCol, Cep.pattern(st),
        StageReached +: tsCols(st.length), col(typeCol)) { (s, _) =>
      Seq(Cep.patternReached(st, s.ts) +: s.ts.map(Cep.orNull))
    }
  }

  /**
   * The CONTIGUITY × WITHIN product — Flink allows `within(T)` on any
   * pattern, including one using `next` / `notNext` / `optional`
   * ([[funnelPattern]]'s combinators): the match's last event must
   * fall within `windowMicros` of its FIRST matched event. Greedy is
   * doubly wrong here (both the w8 expiry trap and the w20 dead-slot
   * trap), so the machine is the l/o NFA with max-start slot values
   * ([[Cep.patternWithin]]): 3k longs of state. Output: (user_id,
   * stage_reached, win_start_us) — the w8 observable over the
   * combinator pattern. Oracle: chained total-order hop joins CARRYING
   * the chain's start, each hop additionally bounded by `start +
   * windowMicros` (the strict / blocker probes unchanged), max-start
   * aggregation per stage (w42).
   */
  def funnelPatternWithin(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[PatternStage], windowMicros: Long): DataFrame = {
    patternRequire(stages)
    require(windowMicros > 0, "need windowMicros > 0")
    val st = stages.toIndexedSeq
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.patternWithin(st, windowMicros), winCols,
        col(typeCol)) { (s, _) =>
      val (r, win) = Cep.patternWindow(st, s.m)
      Seq(Seq(r, opt(win)))
    }
  }

  // -------------------------------------------------------------------
  // GROUP patterns — Flink CEP's GroupPattern: a quantifier over a
  // SEQUENCE (`Pattern.begin(subPattern).times(n)`)
  // -------------------------------------------------------------------

  /** The group quantifier's stage-list expansion: `times` copies of
    * the group with each copy's INTERNAL contiguity flags preserved
    * and the SEAM — each later copy's first stage — connected per
    * `consecutiveSeams`. Flink joins a group's repetitions with
    * RELAXED contiguity by default (`times(n)`) and `consecutive()`
    * opts into strict seams; the trap this encodes (spec-pinned) is
    * that a group whose internal hops are strict must NOT leak that
    * strictness across the seam — strict INSIDE, relaxed BETWEEN. */
  private[graft] def groupExpand(group: Seq[PatternStage], times: Int,
      consecutiveSeams: Boolean): Seq[PatternStage] =
    (1 to times).flatMap { r =>
      group.zipWithIndex.map { case (st, i) =>
        if (r > 1 && i == 0) st.copy(strict = consecutiveSeams) else st
      }
    }

  /** The group contract is the flat pattern contract applied to the
    * GROUP (head non-strict — `begin` has nothing before it — and no
    * `notNextAfter` on the last stage). Lifting it keeps the seam
    * symmetric: the last stage's gap guard would fire on n−1 seams
    * and silently not on the final copy. The expansion then satisfies
    * [[patternRequire]] by construction for every `times` and either
    * seam mode. */
  private[graft] def groupRequire(group: Seq[PatternStage],
      times: Int): Unit = {
    require(times >= 1, "need times >= 1")
    // a trailing gap guard gets a GROUP-specific rejection before
    // patternRequire's flat-pattern message could mislead: under the
    // expansion's sticky first-reach semantics a blocked completion
    // still counts (the guard would only stop further chaining),
    // which silently DIVERGES from the loop machine's kill semantics
    // (w71: a blocked completion does not count) — rather than ship
    // two readings of one guard, the bounded quantifier rejects it
    // and points at the kill-semantics machines
    require(group.isEmpty || group.last.notNextAfter.isEmpty,
      "notNextAfter on the group's LAST stage is unsupported under " +
        "the stage-list expansion (its sticky first-reach reps would " +
        "count a blocked completion, silently diverging from the loop " +
        "machines' kill semantics); use funnelGroupTimesRange (which " +
        "runs the guarded form on the capped dominance machine " +
        "and reports counts without per-copy timestamps — times(n) is " +
        "the m = n = times range) or funnelGroupLoop / " +
        "funnelGroupTimesOrMore")
    patternRequire(group)
  }

  /** Shared output projection from the expanded pattern's flat
    * observables to the group's: `reps_completed` = completed group
    * repetitions (the satisfiable prefix in units of whole copies —
    * optional-skip completion included, exactly the flat
    * `stage_reached` semantics), and per-copy first-match times
    * renamed `ts_r<rep>_s<stage>_us`. */
  private def groupProject(group: Seq[PatternStage], times: Int)(
      raw: DataFrame): DataFrame = {
    val k = group.length
    raw.select(col("user_id") +:
      expr(s"stage_reached div $k").cast("int").as("reps_completed") +:
      (for (r <- 1 to times; i <- 1 to k) yield
        col(s"ts${(r - 1) * k + i}_us").as(s"ts_r${r}_s${i}_us")): _*)
  }

  /**
   * Flink CEP's GROUP pattern under `times(n)` — the quantifier
   * applied to a SEQUENCE of stages instead of a single one
   * (`Pattern.begin(Pattern.begin("a").next("b")).times(n)`). Two
   * existing recipes compose: quantifiers are stage-list expansion
   * (the w12 rule), and a group is just a stage LIST — so the group
   * quantifier is [[funnelPattern]] over [[groupExpand]]'s n copies,
   * with the group's internal contiguity verbatim inside every copy
   * and the seams relaxed (`consecutiveSeams = true` for Flink's
   * `consecutive()` on the group). No new machine: the l/o NFA,
   * 2·n·k booleans + n·k first-reach longs of state. Output:
   * `(user_id, reps_completed, ts_r<r>_s<i>_us…)`. Oracle: the w20
   * chained-join replay over the expanded hop list — strict guards
   * inside copies, none (or all, consecutive) at seams (w59).
   */
  def funnelGroupTimes(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      group: Seq[PatternStage], times: Int,
      consecutiveSeams: Boolean = false): DataFrame = {
    groupRequire(group, times)
    groupProject(group, times)(
      funnelPattern(events, userCol, typeCol, tsCol, orderCol,
        groupExpand(group, times, consecutiveSeams)))
  }

  /** [[funnelGroupTimes]] under Flink's `within(T)` — the time bound
    * applies to the WHOLE match (all `times` repetitions inside one
    * window from the first matched event), exactly `Pattern.within`
    * on a group-quantified pattern. Composition again: the max-start
    * product NFA ([[funnelPatternWithin]]) over [[groupExpand]]'s
    * copies — the dominance argument never reads what the stage list
    * means. Output `(user_id, reps_completed, win_start_us)` with
    * `win_start_us` the flat machine's observable (max start among
    * chains reaching the deepest satisfied flat stage). */
  def funnelGroupTimesWithin(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      group: Seq[PatternStage], times: Int, windowMicros: Long,
      consecutiveSeams: Boolean = false): DataFrame = {
    groupRequire(group, times)
    val k = group.length
    funnelPatternWithin(events, userCol, typeCol, tsCol, orderCol,
        groupExpand(group, times, consecutiveSeams), windowMicros)
      .select(col("user_id"),
        expr(s"stage_reached div $k").cast("int").as("reps_completed"),
        col("win_start_us"))
  }

  // -------------------------------------------------------------------
  // GROUP oneOrMore — Flink CEP's UNBOUNDED quantifier over a SEQUENCE
  // (`Pattern.begin(subPattern).oneOrMore()`)
  // -------------------------------------------------------------------

  /** The group-loop contract on top of [[patternRequire]]: the head
    * anchors each repetition (an optional head would make the seam —
    * where one repetition ends and the next begins — ambiguous) and
    * the tail detects completion (an optional tail would complete a
    * repetition implicitly, with no event to hang the seam on).
    * Unlike the FLAT pattern, a `notNextAfter` on the LAST stage is
    * MEANINGFUL here and supported: it guards the repetition SEAM — a
    * repetition whose completing event is immediately followed by the
    * blocker is invalid (its chain dies at the blocker: no promotion
    * to the sticky observable, no seam extension; end-of-log
    * completions pass, there being no next event). [[patternRequire]]
    * rejects the trailing guard as output-inert for flat patterns, so
    * the group validates with it stripped. */
  private[graft] def groupLoopRequire(group: Seq[PatternStage]): Unit = {
    require(group.nonEmpty, "need at least one stage")
    patternRequire(group.init :+ group.last.copy(notNextAfter = None))
    require(!group.head.optional,
      "the group's first stage anchors each repetition — an optional " +
        "head makes the repetition seam ambiguous")
    require(!group.last.optional,
      "the group's last stage detects repetition completion — an " +
        "optional tail would complete implicitly")
  }

  /**
   * Flink CEP's GROUP pattern under `oneOrMore` — the UNBOUNDED
   * quantifier over a sequence of stages, the one group quantifier
   * [[groupExpand]]'s stage-list expansion cannot reach (no finite
   * expansion). Repetitions are SEQUENTIAL (repetition r+1's first
   * event falls strictly after repetition r's completing event —
   * Flink's per-branch consumption order), seams relaxed by default
   * or strictly contiguous under `consecutiveSeams` (Flink's
   * `consecutive()` on the group); the group's own combinators
   * (strict hops, notNext guards, optional mid-stages) apply verbatim
   * inside every repetition. Output: `(user_id, reps)` — the MAXIMUM
   * number of complete traversals any single chain achieves (0 when
   * the group never completes), i.e. what `oneOrMore.greedy()`'s
   * longest branch reports.
   *
   * Greedy-earliest replay is existence-optimal under RELAXED seams
   * (completing earlier leaves a suffix superset — the exchange
   * argument) but WRONG under consecutive seams, where a later, worse-
   * looking first repetition can sit adjacent to a second one the
   * earliest completion forfeits (FunnelSpec pins the trap) — so the
   * machine is the dominance fold ([[Cep.groupLoop]]), not a pick
   * chain: 2k+2 longs of state. Oracle: the all-matches table (one
   * chained join per in-group hop) and an unrolled reachability DP
   * over the seam relation (w62/w63).
   *
   * DELIBERATELY ABSENT: `within(T)` on the unbounded loop. The w8/w42
   * dominance that makes `within` a one-long-per-slot product needs
   * identical continuations per slot, which fixed-depth machines have;
   * here chains at one slot differ in BOTH reps and start, and the two
   * orders oppose (more reps ⇒ started earlier ⇒ earlier deadline), so
   * the lossless state is a Pareto frontier whose size is bounded only
   * by the current max reps — no O(k) machine exists. The expressible
   * form is the BOUNDED product [[funnelGroupTimesWithin]] at cap n,
   * which is also what a `within`-truncated unbounded match can
   * realize: T bounds the repetitions any match can contain, so a
   * caller picks n ≥ the corpus' per-window ceiling and reads
   * `reps_completed`. For WITNESSES (which events, not just how many)
   * under a span bound, [[funnelGroupMatchesWithin]] filters the
   * canonical enumeration — answer-size-bounded, gated w70.
   *
   * `mode` is the consume mode, as on the flat loops. `minTimes` is the
   * loop's floor (1 = Flink's `oneOrMore`, n = `timesOrMore(n)` — see
   * [[funnelGroupTimesOrMore]] for the thresholded report) and is read
   * ONLY under `Reluctant`, where it is the cap the match stops at:
   * the machine saturates its completion step at the floor, so `reps`
   * is `min(greedy reps, minTimes)` — below the floor the partial
   * progress shows uncapped. The mode can never change EXISTENCE
   * (`reps >= m` iff the greedy machine reaches m): a chain's first r'
   * complete repetitions form a valid chain for every r' ≤ r, under
   * either seam mode, because dropping a suffix of repetitions never
   * disturbs the seams it keeps. Gates: w62 (greedy), w68 (relaxed,
   * reluctant), w69 (consecutive seams), each against the enumeration
   * oracle with `LEAST(·, m)`.
   */
  def funnelGroupLoop(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      group: Seq[PatternStage], consecutiveSeams: Boolean = false,
      mode: ConsumeMode = Greedy, minTimes: Int = 1): DataFrame = {
    groupLoopRequire(group)
    require(minTimes >= 1, "need minTimes >= 1")
    val cap = if (mode == Reluctant) Some(minTimes.toLong) else None
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.groupLoop(group.toIndexedSeq, consecutiveSeams, cap),
        longCols(Seq("reps")), col(typeCol)) { (s, _) =>
      Seq(Seq(Cep.groupLoopReps(s)))
    }
  }

  /**
   * Flink CEP's BOUNDED group quantifier `times(m, n)` — the last
   * group-quantifier shape after times(n) (w59) and oneOrMore (w62).
   * For the EXISTENCE machine the range adds only REPORTING: the
   * max-depth NFA over [[groupExpand]]'s n copies already yields
   * `reps_completed` ≤ n, and the pattern is satisfied exactly when
   * at least m whole copies completed — so this is [[funnelGroupTimes]]
   * at the ceiling plus `matched = reps_completed >= m` (the same
   * reduction that made the flat `times(m, n)` a capped loop, w18).
   * Output: `(user_id, reps_completed, matched, ts_r<r>_s<i>_us…)`.
   *
   * A TRAILING seam guard (`notNextAfter` on the group's LAST stage —
   * the one shape [[groupRequire]] rejects for the expansion, whose
   * sticky first-reach reps would count a blocked completion) runs on
   * the CAPPED DOMINANCE MACHINE instead: [[funnelGroupLoop]] under
   * `Reluctant` at floor = `maxTimes`, which already implements the
   * kill semantics (w71), plus the threshold report. The cap saturates
   * the completion step, exact because a repetition's guard outcome is
   * a property of the EVENT STREAM at its completing index (is the
   * next event the blocker?), not of the chain's suffix. The guarded
   * REPORT SHAPE is `(user_id, reps_completed, matched)` — counts, not
   * witnesses (the dominance machine has no per-copy first-match
   * times; callers needing witnesses under a guard want the
   * enumeration family); `reps_completed` = min(max guarded chain
   * depth, maxTimes), INT like the expansion form's. Gates: w64
   * (expansion), w72 (guarded), against the guarded greedy-earliest
   * enumeration oracle with `LEAST(·, maxTimes)`.
   */
  def funnelGroupTimesRange(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      group: Seq[PatternStage], minTimes: Int, maxTimes: Int,
      consecutiveSeams: Boolean = false): DataFrame = {
    require(minTimes >= 1 && maxTimes >= minTimes,
      "need 1 <= minTimes <= maxTimes")
    if (group.nonEmpty && group.last.notNextAfter.nonEmpty)
      funnelGroupLoop(events, userCol, typeCol, tsCol, orderCol, group,
          consecutiveSeams, Reluctant, minTimes = maxTimes)
        .select(col("user_id"),
          col("reps").cast("int").as("reps_completed"),
          (col("reps") >= lit(minTimes.toLong)).as("matched"))
    else funnelGroupTimes(events, userCol, typeCol, tsCol, orderCol, group,
        maxTimes, consecutiveSeams)
      .withColumn("matched", col("reps_completed") >= minTimes)
      .select(Seq(col("user_id"), col("reps_completed"),
        col("matched")) ++
        (for (r <- 1 to maxTimes; i <- 1 to group.length)
          yield col(s"ts_r${r}_s${i}_us")): _*)
  }

  /** Flink CEP's `timesOrMore(n)` on a GROUP — n or more complete
    * traversals: the unbounded dominance machine ([[funnelGroupLoop]])
    * plus the threshold report `matched = reps >= n`. Output:
    * `(user_id, reps, matched)`. Under `mode = Reluctant` the match
    * stops at the floor: `reps` caps at `minTimes`, so `matched` iff
    * `reps == minTimes` — the mode moves match CONTENT, never
    * existence. */
  def funnelGroupTimesOrMore(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      group: Seq[PatternStage], minTimes: Int,
      consecutiveSeams: Boolean = false,
      mode: ConsumeMode = Greedy): DataFrame =
    funnelGroupLoop(events, userCol, typeCol, tsCol, orderCol, group,
        consecutiveSeams, mode, minTimes)
      .withColumn("matched", col("reps") >= minTimes)

  /** Match ENUMERATION on a GROUP pattern — Flink's
    * `begin(group).times(n)` under AFTER MATCH SKIP PAST LAST EVENT
    * with every match EMITTED: pure composition, [[funnelMulti]]'s
    * cyclic witness machine over the `times`-fold type expansion, the
    * flat witnesses relabeled to `ts_r<rep>_s<stage>_us`. Type-only
    * groups (the multi machine's contract — contiguity modes don't
    * compose with skip-past-last enumeration in Flink either: a
    * skipped region breaks adjacency bookkeeping). */
  def funnelGroupMatches(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      groupTypes: Seq[String], times: Int, maxMatches: Int): DataFrame = {
    require(groupTypes.nonEmpty && times >= 1 && maxMatches >= 1,
      "need groupTypes, times >= 1 and maxMatches >= 1")
    val k = groupTypes.length
    val expanded = Seq.fill(times)(groupTypes).flatten
    funnelMulti(events, userCol, typeCol, tsCol, orderCol, expanded,
        maxMatches)
      .select(col("user_id") +: col("match_idx") +: col("n_matches") +:
        (for (r <- 1 to times; i <- 1 to k) yield
          col(s"ts${(r - 1) * k + i}_us").as(s"ts_r${r}_s${i}_us")): _*)
  }

  /**
   * [[funnelGroupMatches]] under a MATCH-SPAN time bound — the
   * answer-size-bounded `within(T)` for group repetition that the
   * UNBOUNDED group loop cannot have as a machine (the
   * [[funnelGroupLoop]] Pareto obstruction). The enumeration route
   * sidesteps the obstruction by materializing WITNESSES: every
   * canonical skip-past-last match whose whole span — first
   * repetition's first pick to last repetition's completing pick —
   * fits inside `windowMicros` is kept, with `n_matches` recounted
   * over the fitting matches. `match_idx` keeps its ENUMERATION index
   * (a gap in the sequence is the visible mark of an over-window
   * match — renumbering would silently hide which canonical matches
   * were cut).
   *
   * Contract, stated precisely: this filters the CANONICAL
   * greedy-earliest enumeration by span — it does NOT search for an
   * alternative (later-starting, tighter) witness of the same region,
   * so it is match-level `within`, not existence-maximal `within`.
   * Callers who need "could n repetitions complete inside T at all"
   * want the BOUNDED product machine [[funnelGroupTimesWithin]] at
   * cap n (the w61 gate), whose max-start dominance IS
   * existence-maximal; callers who need "how many repetitions,
   * unbounded, no window" want the threshold forms
   * [[funnelGroupLoop]] / [[funnelGroupTimesOrMore]]. The span filter
   * and recount run on the (maxMatches-bounded) match stream.
   */
  def funnelGroupMatchesWithin(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      groupTypes: Seq[String], times: Int, maxMatches: Int,
      windowMicros: Long): DataFrame = {
    require(windowMicros > 0, "need windowMicros > 0")
    val k = groupTypes.length
    val fits = funnelGroupMatches(events, userCol, typeCol, tsCol,
        orderCol, groupTypes, times, maxMatches)
      .filter(col(s"ts_r${times}_s${k}_us") - col("ts_r1_s1_us") <=
        windowMicros)
    fits.withColumn("n_matches",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")))
  }

  /** [[funnelGroupMatchesWithin]] with the TRAILING absence tail —
    * Flink's `begin(group).times(n).notFollowedBy(B).within(T)`
    * (group repetition then a trailing negation, legal only under the
    * window): a canonical match survives iff its span fits T AND no
    * `absentType` event falls in (completion, start + T] — the
    * [[funnelMatchesAbsence]] predicate composed onto the group
    * enumeration (both are per-match index properties; the same
    * answer-sized LEFT ANTI equi-join and recount; the same
    * time-based tie contract). Gated w74 on the w67 chained-pick
    * replay with both predicates. */
  def funnelGroupMatchesAbsence(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      groupTypes: Seq[String], times: Int, maxMatches: Int,
      windowMicros: Long, absentType: String): DataFrame = {
    require(windowMicros > 0, "need windowMicros > 0")
    val k = groupTypes.length
    val fits = funnelGroupMatches(events, userCol, typeCol, tsCol,
        orderCol, groupTypes, times, maxMatches)
      .filter(col(s"ts_r${times}_s${k}_us") - col("ts_r1_s1_us") <=
        windowMicros)
    withoutBlocked(fits, events, userCol, typeCol, tsCol, absentType,
      s"ts_r${times}_s${k}_us", "ts_r1_s1_us", windowMicros)
  }

  /** The absence tail every `*Absence` enumeration shares: drop each
    * match with an `absentType` event in (end, start + window] — ONE
    * answer-sized LEFT ANTI equi-join on the user key with the time
    * range as post-condition (never a theta-join) — and recount the
    * survivors' `n_matches`. */
  private def withoutBlocked(fits: DataFrame, events: DataFrame,
      userCol: String, typeCol: String, tsCol: String, absentType: String,
      endCol: String, startCol: String, windowMicros: Long): DataFrame = {
    val blockers = events.filter(col(typeCol) === lit(absentType))
      .select(col(userCol).as("user_id"),
        unix_micros(col(tsCol).cast("timestamp")).as("b_us"))
    fits.join(blockers,
        fits("user_id") === blockers("user_id") &&
          col("b_us") > fits(endCol) &&
          col("b_us") <= fits(startCol) + lit(windowMicros),
        "left_anti")
      .withColumn("n_matches",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")))
  }

  /**
   * Match ENUMERATION for a RANGE-quantified group —
   * `begin(group).times(m, n)` under AFTER MATCH SKIP PAST LAST EVENT
   * with the GREEDY quantifier (Flink's `times(from, to).greedy()`
   * reading: each match takes as many complete repetitions as the
   * stream allows, up to `maxTimes`) — [[funnelGroupMatches]] covers
   * fixed `times(n)`, [[funnelGroupTimesRange]] covers the range as a
   * counts report; THIS is the range as WITNESSES, which the
   * trailing-absence tail needs.
   *
   * THE REDUCTION — one theorem makes it a single machine: under greedy
   * skip-past-last, EVERY NON-FINAL MATCH IS FULL. A match stops
   * short of `maxTimes` repetitions only when repetition r+1 cannot
   * complete; the next match attempt replays exactly those failed
   * greedy picks, so it dies at the same missing stage — a short match
   * is always the LAST match. Hence the range enumeration is
   * [[funnelMulti]]'s machine over the `maxTimes`-fold expansion, read
   * twice: the full matches it completes, and the ONE possible
   * trailing short match in its partial at the end of the log —
   * `(advances mod (maxTimes·k)) div k` complete repetitions, a match
   * iff ≥ `minTimes`.
   *
   * Output: `(user_id, match_idx, n_matches, reps,
   * ts_r<r>_s<i>_us…)` for r ≤ `maxTimes` — witness columns beyond a
   * match's own `reps` are NULL (the match contains only its COMPLETE
   * repetitions). `n_matches` is the TRUE total (full + qualifying
   * tail), `reps = maxTimes` on every full match. `minTimes =
   * maxTimes` degenerates to [[funnelGroupMatches]] plus the `reps`
   * column (spec law). Type-only groups, [[funnelMulti]]'s contract.
   * Gate: w75.
   */
  def funnelGroupMatchesRange(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      groupTypes: Seq[String], minTimes: Int, maxTimes: Int,
      maxMatches: Int): DataFrame = {
    require(groupTypes.nonEmpty && minTimes >= 1 && maxTimes >= minTimes &&
      maxMatches >= 1,
      "need groupTypes, 1 <= minTimes <= maxTimes and maxMatches >= 1")
    val k = groupTypes.length
    val bigK = maxTimes * k
    val expanded = Seq.fill(maxTimes)(groupTypes).flatten
    val fields = longCols(Seq("match_idx", "n_matches")) ++
      (StructField("reps", IntegerType) +:
        longCols(for (r <- 1 to maxTimes; i <- 1 to k)
          yield s"ts_r${r}_s${i}_us"))
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.matches(expanded.toIndexedSeq, maxMatches, None), fields,
        col(typeCol)) { (s, full) =>
      val fullM = s.n / bigK
      val tailReps = ((s.n % bigK) / k).toInt
      val tailOk = tailReps >= minTimes
      val nMatches = fullM + (if (tailOk) 1L else 0L)
      val tail =
        if (tailOk && fullM + 1 <= maxMatches)
          Seq((fullM + 1, tailReps, s.partial.take(tailReps * k)))
        else Nil
      (full.map { case (i, w) => (i, maxTimes, w) } ++ tail).map {
        case (i, reps, w) => Seq[Any](i, nMatches, reps) ++ padded(w, bigK)
      }
    }
  }

  /** [[funnelGroupMatchesRange]] with the span bound and TRAILING
    * absence tail — Flink's
    * `begin(group).times(m, n).notFollowedBy(B).within(T)`: a range
    * match survives iff its span — first pick to its OWN last complete
    * repetition's completing pick — fits `T` AND no `absentType` event
    * falls in (completion, start + T]. Both predicates are per-match
    * index properties, so they compose onto the range enumeration
    * exactly as [[funnelGroupMatchesAbsence]]'s did onto the fixed one
    * — with the completion read per row via COALESCE over the
    * rep-descending completion slots (witnesses beyond `reps` are NULL
    * by construction, so the coalesce IS the match's own completion).
    * Same time-based blocker-tie contract as the whole absence family.
    * `match_idx` keeps its enumeration index (gaps mark cut matches);
    * `n_matches` recounts survivors. Gated w75b against the chained
    * greedy-pick replay with all three predicates (reps ∈ [m, n],
    * span fit, tail absence). */
  def funnelGroupMatchesRangeAbsence(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      groupTypes: Seq[String], minTimes: Int, maxTimes: Int,
      maxMatches: Int, windowMicros: Long, absentType: String): DataFrame = {
    require(windowMicros > 0, "need windowMicros > 0")
    val k = groupTypes.length
    val endUs = coalesce((maxTimes to 1 by -1).map(r =>
      col(s"ts_r${r}_s${k}_us")): _*)
    val fits = funnelGroupMatchesRange(events, userCol, typeCol, tsCol,
        orderCol, groupTypes, minTimes, maxTimes, maxMatches)
      .withColumn("end_us", endUs)
      .filter(col("end_us") - col("ts_r1_s1_us") <= windowMicros)
    withoutBlocked(fits, events, userCol, typeCol, tsCol, absentType,
        "end_us", "ts_r1_s1_us", windowMicros)
      .drop("end_us")
  }

  // -------------------------------------------------------------------
  // Match ENUMERATION — Flink CEP's AFTER MATCH SKIP PAST LAST EVENT
  // -------------------------------------------------------------------

  /**
   * ALL non-overlapping matches of the ordered pattern, per user —
   * Flink CEP's match ENUMERATION under AFTER MATCH SKIP PAST LAST
   * EVENT ([[funnel]] reports only the first match's prefix). The
   * greedy-restart machine (complete stage k → emit → reset to stage
   * 0) is the canonical skip-past-last semantics, maximizes the match
   * count (exchange argument) and is deterministic. The pointer after
   * any prefix is `(total advances) mod k`, so the machine
   * ([[Cep.matches]]) is one counter, the partial match's witnesses
   * and the held matches, capped at `maxMatches` (the cap never feeds
   * the advance condition, so it cannot change the trajectory). Emits
   * the FIRST `maxMatches` matches as rows `(user_id, match_idx,
   * n_matches, ts1_us..tsk_us)` with `n_matches` the TRUE (uncapped)
   * total; zero-match users emit nothing. The oracle replays it as
   * maxMatches×k chained greedy picks (w26).
   */
  def funnelMulti(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[String],
      maxMatches: Int): DataFrame = {
    val k = stages.length
    require(k >= 1 && maxMatches >= 1, "need stages and maxMatches >= 1")
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.matches(stages.toIndexedSeq, maxMatches, None),
        longCols(Seq("match_idx", "n_matches")) ++ tsCols(k),
        col(typeCol)) { (s, held) =>
      held.map { case (i, w) => Seq(i, s.n / k) ++ w }
    }
  }

  /**
   * Flink CEP's TRAILING `notFollowedBy(B)` — legal in Flink ONLY
   * under `within(T)` ("a pattern sequence cannot end in
   * notFollowedBy() without a time interval": an unbounded trailing
   * absence never settles). The ABSENCE ALARM: a match of the stage
   * prefix is valid iff the whole match fits the window AND no
   * `absentType` event falls in the match's absence TAIL — the
   * half-open TIME interval (completion, start + T]. The canonical
   * instance is k = 1: "order placed and NOT shipped within 24 h".
   *
   * Positioned against the repo's OTHER negation forms: `notBetween`
   * ([[funnelGuarded]]) negates INSIDE the pattern's gaps; the j6
   * `notFollowedBy` family ([[graft.streaming.StreamingIngest
   * .streamingNotFollowedBy]]) is the SINGLE-HEAD per-event verdict
   * (every left event gets a followed/not-followed boolean, both
   * outcomes reported). This operator is the PATTERN-position form:
   * the negation rides a k-stage prefix's canonical match enumeration
   * with the whole-match window — survivors only, skip-past-last
   * indices, the Flink pattern-API shape.
   *
   * Batch semantics, stated precisely (the w70 contract pattern): this
   * filters the CANONICAL skip-past-last enumeration ([[funnelMulti]])
   * match by match — span fit and tail absence are both per-match
   * index properties of the event stream, so the filter composes with
   * the witness machine; it does NOT search for an alternative
   * (shifted) witness of the same region. Blocker comparison is on
   * event TIME (strictly after the completing pick's timestamp, at or
   * before start + T); a blocker sharing the completion's exact
   * timestamp does not kill — the witness machine's observables are
   * timestamps, and Flink's order-based tie handling can differ only
   * on such exact ties (documented deliberately; `orderCol` still
   * breaks ties INSIDE the enumeration).
   *
   * `n_matches` recounts the SURVIVING matches; `match_idx` keeps its
   * enumeration index — a gap marks a canonical match cut by the
   * window or killed by its tail blocker (w70's convention). Gated
   * w73 against the chained greedy-pick replay with the same two
   * predicates as NOT EXISTS.
   */
  def funnelMatchesAbsence(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String], maxMatches: Int, windowMicros: Long,
      absentType: String): DataFrame = {
    require(windowMicros > 0, "need windowMicros > 0")
    val k = stages.length
    val fits = funnelMulti(events, userCol, typeCol, tsCol, orderCol,
        stages, maxMatches)
      .filter(col(s"ts${k}_us") - col("ts1_us") <= windowMicros)
    withoutBlocked(fits, events, userCol, typeCol, tsCol, absentType,
      s"ts${k}_us", "ts1_us", windowMicros)
  }

  // -------------------------------------------------------------------
  // AFTER MATCH SKIP strategies — Flink CEP's AfterMatchSkipStrategy
  // -------------------------------------------------------------------

  /** Flink CEP `AfterMatchSkipStrategy` counterpart for ordered-pattern
    * match enumeration ([[funnelMulti]] covers SKIP_PAST_LAST_EVENT as
    * a greedy-restart machine; [[funnelSkip]] runs every strategy on a
    * per-start-branch machine). */
  sealed trait SkipStrategy
  /** Flink `skipToNext`: an emitted match discards only partial matches
    * sharing its OWN start event — for deterministic per-start
    * `followedBy` branches that is the emitting branch itself, so every
    * start event's completed chain emits. */
  case object SkipToNext extends SkipStrategy
  /** Flink `skipPastLastEvent`: an emitted match discards every partial
    * match started at or before its LAST event ([[funnelMulti]]'s
    * semantics, re-derived here as the pruning scan for cross-checking —
    * the greedy-restart pointer machine is the cheaper plan for it). */
  case object SkipPastLast extends SkipStrategy
  /** Flink `skipToFirst(stage)`: an emitted match discards partial
    * matches started strictly BEFORE the FIRST event it bound to
    * `stage` (1-based, pre-expansion); branches started AT the anchor
    * survive. Flink forbids anchoring the strategy at the pattern's
    * first stage (infinite-loop guard); here stage 1 is simply a
    * no-op threshold (anchor = own start) and degenerates to
    * [[SkipToNext]]. */
  final case class SkipToFirst(stage: Int) extends SkipStrategy
  /** Flink `skipToLast(stage)`: as [[SkipToFirst]] but anchored at the
    * LAST event bound to `stage` — the two differ exactly when `stage`
    * is quantified (`times`). */
  final case class SkipToLast(stage: Int) extends SkipStrategy

  /** `stages` as (type, repetition) pairs expanded to the flat stage
    * list — `times(r)` on a stage is r copies of its type. */
  private[graft] def expandStages(stages: Seq[(String, Int)]): Seq[String] =
    stages.flatMap { case (t, r) => Seq.fill(r)(t) }

  /** (anchor expanded-index, inclusive?) for a strategy: FIRST anchors
    * at the quantified block's first copy, LAST at its last,
    * PAST_LAST exclusive at the final stage. */
  private[graft] def skipAnchor(stages: Seq[(String, Int)],
      skip: SkipStrategy): (Option[Int], Boolean) = {
    def lo(s: Int) = 1 + stages.take(s - 1).map(_._2).sum
    skip match {
      case SkipToNext => (None, true)
      case SkipPastLast => (Some(stages.map(_._2).sum), false)
      case SkipToFirst(s) => (Some(lo(s)), true)
      case SkipToLast(s) => (Some(lo(s) + stages(s - 1)._2 - 1), true)
    }
  }

  private[graft] def skipRequire(stages: Seq[(String, Int)],
      skip: SkipStrategy, maxMatches: Int): Unit = {
    require(stages.nonEmpty && stages.forall(_._2 >= 1) && maxMatches >= 1,
      "need stages with repetitions >= 1 and maxMatches >= 1")
    require(expandStages(stages).length >= 2, "need an expanded length >= 2")
    val anchored = skip match {
      case SkipToFirst(s) => Some(s); case SkipToLast(s) => Some(s)
      case _ => None
    }
    anchored.foreach(s => require(s >= 1 && s <= stages.length,
      s"anchor stage $s out of range 1..${stages.length}"))
  }

  /**
   * Match enumeration of the ordered pattern under a chosen Flink
   * after-match skip strategy. The NFA's branch set is ONE GREEDY
   * CHAIN PER START EVENT (deterministic `followedBy` binds each next
   * stage to the first qualifying event), and chains are monotone in
   * their start (an earlier start never binds a later event at any
   * stage), so all branches waiting on one stage advance together and
   * the machine ([[Cep.skip]]) keeps them in k-1 buckets. The strategy
   * is EXACTLY the completion-order pruning scan — Flink emits matches
   * as they complete and prunes live partials against each emission's
   * anchor — applied to each event's completions as they emerge, so
   * no per-user completion list is ever materialized and the only
   * unbounded state is the pending-branch buckets. Output rows
   * `(user_id, match_idx, n_matches, ts1_us..tsk_us)` over the
   * EXPANDED stage list: the first `maxMatches` survivors, `n_matches`
   * the TRUE survivor total. Gates: w33 (to-first), w34/w35.
   */
  def funnelSkip(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[(String, Int)],
      skip: SkipStrategy, maxMatches: Int): DataFrame = {
    skipRequire(stages, skip, maxMatches)
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.skip(stages, skip, maxMatches),
        longCols(Seq("match_idx", "n_matches")) ++
          tsCols(expandStages(stages).length), col(typeCol)) { (s, ready) =>
      ready.map { case (i, w) => Seq(i, s.n) ++ w }
    }
  }

  // -------------------------------------------------------------------
  // followedByAny — non-deterministic relaxed contiguity
  // -------------------------------------------------------------------

  /**
   * Flink CEP's `followedByAny` match MULTIPLICITY, as the scalable
   * aggregate: the number of DISTINCT ordered event combinations
   * matching the pattern per user (every stage may pick ANY later
   * event, not just the first — w6 reports one witness chain, w26
   * enumerates non-overlapping ones; this counts them all, including
   * overlaps). Path counting in the event DAG ([[Cep.combinations]]
   * with no loop stage): `cnt[j]` = combinations completing the first
   * j stages; an event of type t_j adds `cnt[j-1]` (every prefix
   * combination extends through it exactly once), read from the pre
   * state so an event never extends the combinations it just created.
   * O(k) state, no enumeration blow-up — the count can still be
   * combinatorially LARGE (it is the answer); it overflows Long beyond
   * ~9e18 combinations, long past any enumerable regime. Output:
   * (user_id, n_any) with n_any = cnt[k], 0 included. Gate: w28.
   */
  def funnelAnyCount(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    countRows(events, userCol, typeCol, tsCol, orderCol,
      stages.map(_ -> false), "n_any")
  }

  private def countRows(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[(String, Boolean)],
      name: String): DataFrame =
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.combinations(stages.toIndexedSeq), longCols(Seq(name)),
        col(typeCol)) { (s, _) =>
      Seq(Seq(s.c.last))
    }

  /**
   * Flink CEP's `oneOrMore().allowCombinations()` match MULTIPLICITY —
   * [[funnelAnyCount]] extended with LOOPING stages: a loop stage
   * matches every non-empty ordered SUBSET of its type's events
   * between the surrounding stages (Flink's non-deterministic relaxed
   * contiguity inside the repetition), so the count for `a b+ c` is
   * Σ over (a, c) pairs of `2^{#b between} − 1`: a loop-stage event
   * also re-adds the stage's own pre-count. k longs of state, the
   * count is the answer (enumeration would be the blow-up). `stages`
   * = (type, isCombinationsLoop). Output: (user_id, n_combi), 0
   * included. Gate: w39.
   */
  def funnelCombinations(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Boolean)]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    countRows(events, userCol, typeCol, tsCol, orderCol, stages, "n_combi")
  }

  // -------------------------------------------------------------------
  // ITERATIVE conditions — Flink CEP's IterativeCondition
  // -------------------------------------------------------------------

  /** A relative threshold over the chain's ANCHOR value: the stage's
    * event passes iff `v * den > anchor * num` — integer fixed-point
    * throughout (callers convert float columns once, e.g.
    * `CAST(round(value * 100) AS BIGINT)`), so the predicate is
    * cross-engine exact. `num = den = 1` is "strictly greater than
    * the anchor"; `num = 11, den = 10` is Flink's canonical
    * IterativeCondition example `value > first.value * 1.1`.
    * `num >= 0` is REQUIRED — it is what makes feasibility monotone
    * in the anchor (smaller anchor is never harder), the property the
    * min-dominance machine rests on. */
  case class RelGt(num: Long, den: Long) {
    require(num >= 0 && den >= 1,
      "need num >= 0 (anchor monotonicity — the dominance argument) " +
        "and den >= 1")
  }

  /** A stage of the iterative-condition funnel: its event type plus
    * the optional [[RelGt]] its event's value must clear against the
    * chain's anchor. The FIRST stage must be unconditioned (there is
    * no previously-matched event to anchor on). */
  case class IterStage(tp: String, cond: Option[RelGt] = None)

  /** Which previously-matched event an [[IterStage]] condition reads —
    * the two anchors Flink iterative conditions overwhelmingly use
    * (`ctx.getEventsForPattern("first")` / the loop's previous
    * element). One anchor mode per PATTERN, not per stage: dominance
    * keeps a single representative value per stage, which is lossless
    * only while every downstream condition reads the same anchor
    * family. */
  sealed trait IterAnchor
  /** Conditions compare against the chain's FIRST matched value. */
  case object AnchorFirst extends IterAnchor
  /** Conditions compare against the PREVIOUS stage's matched value
    * (chained — "each step strictly above the last" at num = den). */
  case object AnchorPrev extends IterAnchor

  /** Shared validation — the streaming twin calls this too. */
  private[graft] def iterRequire(stages: Seq[IterStage]): Unit = {
    require(stages.nonEmpty, "need at least one stage")
    require(stages.head.cond.isEmpty,
      "the first stage has no previously-matched event to anchor a " +
        "condition on")
  }

  /** `valCol` read with the NON-NULL contract enforced LOUDLY: an
    * iterative condition cannot evaluate against a NULL value, and
    * the batch and streaming surfaces must agree — a silent default
    * would break their bit-identity (the machine would read 0, the
    * streaming encoder would crash opaquely). One branch per row. */
  private[graft] def iterVal(valCol: String,
      op: String = "funnelIterative"): Column =
    coalesce(col(valCol).cast("long"),
      raise_error(lit(s"$op: NULL in value column " +
        s"'$valCol' — value conditions require a non-null integer " +
        "fixed-point value; filter or default NULLs first")).cast("long"))

  /**
   * [[funnel]] with ITERATIVE stage conditions — Flink CEP's
   * `IterativeCondition`, where a stage's predicate reads
   * PREVIOUSLY-MATCHED events ("the click's value must exceed 1.1×
   * the first view's"): each [[IterStage]]'s event must clear its
   * [[RelGt]] against the chain's anchor ([[IterAnchor]]). Greedy is
   * wrong here in a new way (the earliest stage-1 pick can carry a
   * HOPELESS anchor while a later, lower-valued restart succeeds —
   * FunnelSpec pins the trap), and the general NFA must track every
   * partial chain; the `num >= 0` monotonicity contract collapses
   * that to ONE dominant anchor per stage ([[Cep.iterative]]'s
   * argument): 2k longs of state. Output `(user_id, stage_reached,
   * ts1_us..tsk_us)` — `ts<j>_us` the first event time stage j was
   * matched by any valid chain. `valCol` must already be integer
   * fixed-point; a NULL fails loudly ([[iterVal]]). Oracle: chained
   * total-order hop joins CARRYING the anchor (first value, or the hop
   * event's own value), the hop predicate `v·den > anchor·num`
   * verbatim, min-time per stage. Gates: w50/w51.
   */
  def funnelIterative(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String, valCol: String,
      stages: Seq[IterStage], anchor: IterAnchor = AnchorFirst): DataFrame = {
    iterRequire(stages)
    Cep.runSorted(events, userCol, tsCol, orderCol,
        Cep.iterative(stages.toIndexedSeq, anchor == AnchorFirst),
        StageReached +: tsCols(stages.length), col(typeCol),
        iterVal(valCol)) { (s, _) =>
      Seq(Cep.slotsSet(s.ts) +: s.ts.map(Cep.orNull))
    }
  }

  /**
   * `followedByAny` match ENUMERATION: every ordered event combination
   * matching the pattern, one row per match. Inherently
   * answer-size-bound — the output IS the combination set, so the
   * right plan is the chained equi-join on user with a range predicate
   * per hop, which Spark distributes and AQE sizes; a machine cannot
   * beat the output's own cardinality. Use [[funnelAnyCount]] when
   * only multiplicity is needed. Columns: (user_id, ts1_us .. tsk_us),
   * ordered combinations in the (event-time, event_id) total order.
   */
  def funnelAnyEnumerate(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String]): DataFrame = {
    val k = stages.length
    require(k >= 1, "need at least one stage")
    val base = events.select(col(userCol).as("user_id"),
      unix_micros(col(tsCol).cast("timestamp")).as("us"),
      col(orderCol).as("oid"), col(typeCol).as("tp"))
    def side(j: Int) = base.filter(col("tp") === lit(stages(j - 1)))
      .select(col("user_id"), col("us").as(s"ts${j}_us"),
        col("oid").as(s"o$j"))
    var acc = side(1)
    for (j <- 2 to k) {
      val nxt = side(j)
      acc = acc.join(nxt, Seq("user_id"))
        .filter(col(s"ts${j}_us") > col(s"ts${j - 1}_us") ||
          (col(s"ts${j}_us") === col(s"ts${j - 1}_us") &&
            col(s"o$j") > col(s"o${j - 1}")))
    }
    acc.select(col("user_id") +: (1 to k).map(j => col(s"ts${j}_us")): _*)
  }

  // -------------------------------------------------------------------
  // Per-stage SIMPLE conditions — Flink CEP's where(SimpleCondition) /
  // subtype(...)
  // -------------------------------------------------------------------

  /** Column names the predicate funnel hands predicates besides the
    * carried ones — a carried event column by one of these names would
    * be silently shadowed, so the surface rejects them loudly. */
  private val WhereReserved = Set("us", "oid")

  private def whereRequire(carryCols: Seq[String],
      stages: Seq[Column => Column]): Unit = {
    require(stages.nonEmpty, "need at least one stage")
    require(carryCols.nonEmpty, "need at least one carried event column")
    val clash = carryCols.filter(WhereReserved)
    require(clash.isEmpty,
      s"carried column name(s) ${clash.mkString(", ")} collide with the " +
        "funnel's us/oid fields — rename them first")
  }

  /**
   * [[funnel]] with per-stage PREDICATES instead of type equality —
   * Flink CEP's `where(SimpleCondition)` and `subtype(...)`: stage j
   * advances on the first event satisfying an ARBITRARY event-local
   * condition (any Column over the carried event fields — a value
   * threshold, a type-prefix "subtype" test, a conjunction). Greedy-
   * earliest stays existence-optimal for exactly the reason the typed
   * funnel's does: conditions read ONLY the current event, so taking
   * the earliest qualifying event never forecloses a later stage
   * (contrast [[funnelIterative]], where conditions read the matched
   * prefix and greedy breaks). The machine is [[funnel]]'s greedy
   * pointer ([[Cep.where]]): every predicate is evaluated once per
   * event, as a column, into a string of per-stage verdicts the
   * pointer reads — a NULL verdict is false, and the stage count is
   * unbounded.
   *
   * `carryCols` names the event columns the predicates may read
   * (each becomes a field of the struct handed to every predicate,
   * alongside `us` and `oid`). Output identical to [[funnel]]:
   * `(user_id, stage_reached, ts1_us..tsk_us)`. Oracle: the w12
   * chained greedy row_number-1 picks with each hop's WHERE spelling
   * the same predicate (w53).
   */
  def funnelWhere(events: DataFrame, userCol: String, tsCol: String,
      orderCol: String, carryCols: Seq[String],
      stages: Seq[Column => Column]): DataFrame = {
    whereRequire(carryCols, stages)
    val e = struct(unix_micros(col(tsCol).cast("timestamp")).as("us") +:
      col(orderCol).as("oid") +: carryCols.map(c => col(c).as(c)): _*)
    val verdicts = concat(stages.map(p =>
      when(p(e), lit("1")).otherwise(lit("0"))): _*)
    pointerRows(events, userCol, tsCol, orderCol,
      Cep.where(stages.indices.map(j =>
        (tp: String, _: Long) => tp.charAt(j) == '1')),
      stages.length, verdicts)
  }
}
