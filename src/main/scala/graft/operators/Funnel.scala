package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Ordered-funnel / sequential-pattern matching over an event stream —
 * the CEP primitive (the reference engine's Flink lineage makes this
 * the signature "complex event processing" shape), re-expressed for
 * Spark's execution model.
 *
 * Semantics: for each user, walk the user's events in the TOTAL event
 * order `(event-time, order column)` and run the shape's state machine
 * over them. Each shape is one [[Pattern]] value: its validation, its
 * [[Cep]] machine and its output projection, declared once. [[run]] is
 * the batch runner: it folds the machine with [[Cep.runSorted]] — ONE
 * user-keyed hash exchange, a sort on (user, event time, order column)
 * and a per-user fold. Nothing per user is collected, so no key size
 * hits a row-size wall, and building a frame runs no Spark job. The
 * streaming runner, [[graft.streaming.StreamingIngest.streamingCep]],
 * folds the same value behind an event-time buffer.
 *
 * This object also holds the stage and strategy types the [[Pattern]]
 * constructors take.
 */
object Funnel {

  /**
   * Run `pattern` over a bounded event log: per user (`userCol`, which
   * keeps its native type as `user_id`), the events in (`tsCol`,
   * `orderCol`) order, with `typeCol` as the event type. Returns the
   * pattern's rows, drain-time columns included. Lazy: building the
   * frame runs no Spark job.
   */
  def run(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, pattern: Pattern): DataFrame = {
    val in = Pattern.Input(events, userCol, typeCol, tsCol, orderCol)
    def folded[S <: Product](f: Pattern.Fold[S]): DataFrame =
      Cep.runSorted(events, userCol, tsCol, orderCol, f.machine, f.fields,
        f.tp(in), f.v)(f.rows)
    val out = pattern.plan match {
      case f: Pattern.Fold[_] => folded(f)
      case Pattern.Join(build) => build(in)
    }
    pattern.atDrain(pattern.post(out), in)
  }

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

  /** One stage of a [[Pattern.pattern]] spec.
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

  /** Flink CEP `AfterMatchSkipStrategy` counterpart for ordered-pattern
    * match enumeration ([[Pattern.matches]] covers SKIP_PAST_LAST_EVENT as
    * a greedy-restart machine; [[Pattern.skip]] runs every strategy on a
    * per-start-branch machine). */
  sealed trait SkipStrategy
  /** Flink `skipToNext`: an emitted match discards only partial matches
    * sharing its OWN start event — for deterministic per-start
    * `followedBy` branches that is the emitting branch itself, so every
    * start event's completed chain emits. */
  case object SkipToNext extends SkipStrategy
  /** Flink `skipPastLastEvent`: an emitted match discards every partial
    * match started at or before its LAST event ([[Pattern.matches]]'s
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
}
