package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField}

import graft.operators.Funnel._

/**
 * A CEP pattern as a value: one shape, declared once, run by either
 * driver. Flink CEP keeps the pattern apart from how it runs and runs
 * one keyed operator over bounded and unbounded input; so does this
 * port. A `Pattern` carries everything in which the shapes differ:
 *
 *   - the validation, run when the value is built;
 *   - the [[Cep.Machine]] and the type and value Columns it reads;
 *   - the output columns and the state→row (or match→row) projection;
 *   - any DataFrame-level reduction a derived shape needs (`post`),
 *     which both drivers apply, and the drain-time steps only a bounded
 *     input can take (`atDrain`: the `n_matches` recounts and the
 *     range-absence anti-join).
 *
 * Two runners read it: [[Funnel.run]] folds the machine over a
 * user-sorted scan ([[Cep.runSorted]]), and
 * [[graft.streaming.StreamingIngest.streamingCep]] folds it behind the
 * event-time buffer, emitting rows in the batch layout minus the
 * drain-time columns. Under event time the last Update-mode emission
 * per user over a drained stream equals the batch row.
 *
 * Build one with the constructors in the companion object.
 */
final class Pattern private (
    /** The constructor that built the value, for the runners' messages. */
    val name: String,
    private[graft] val plan: Pattern.Plan,
    private[graft] val post: DataFrame => DataFrame,
    /** Output columns whose value is final only once the input ends. */
    private[graft] val drainCols: Seq[String],
    private[graft] val atDrain: (DataFrame, Pattern.Input) => DataFrame,
    /** Why the answer exists only at stream end, if it does. */
    private[graft] val streamEndOnly: Option[String]) {

  /** A shape derived from this one: the same machine, `post` after this
    * pattern's own, `atDrain` after this pattern's own. */
  private def derive(name: String, post: DataFrame => DataFrame = identity,
      atDrain: (DataFrame, Pattern.Input) => DataFrame = (df, _) => df,
      streamEndOnly: Option[String] = this.streamEndOnly): Pattern = {
    val (p0, d0) = (this.post, this.atDrain)
    new Pattern(name, plan, p0.andThen(post), drainCols,
      (df, in) => atDrain(d0(df, in), in), streamEndOnly)
  }
}

object Pattern extends Serializable {

  /** The event frame a runner hands a pattern, and the names of its
    * user, type, event-time and order columns. */
  private[graft] final case class Input(events: DataFrame, user: String,
      tp: String, ts: String, order: String)

  private[graft] sealed trait Plan

  /** Fold `machine` per user over the events in (event time, order)
    * order. `rows` projects the drained state to output rows (`fields`,
    * after the user column): one row of the state for a state shape,
    * one row per drained match for a `perMatch` shape. `tp` and `v` are
    * the columns the machine reads as the event type and value. */
  private[graft] final case class Fold[S <: Product](machine: Cep.Machine[S],
      fields: Seq[StructField], perMatch: Boolean, tp: Input => Column,
      v: Column, rows: (S, Seq[Cep.Match]) => Seq[Seq[Any]])(
      implicit val tag: TypeTag[S]) extends Plan

  /** An answer-sized join over the bounded input: no machine. */
  private[graft] final case class Join(build: Input => DataFrame) extends Plan

  private def fold[S <: Product : TypeTag](name: String, m: Cep.Machine[S],
      fields: Seq[StructField], perMatch: Boolean = false,
      tp: Input => Column = in => col(in.tp), v: Column = lit(0L),
      drainCols: Seq[String] = Nil)(
      rows: (S, Seq[Cep.Match]) => Seq[Seq[Any]]): Pattern =
    new Pattern(name, Fold(m, fields, perMatch, tp, v, rows), identity,
      drainCols, (df, _) => df, None)

  // -------------------------------------------------------------------
  // Output columns
  // -------------------------------------------------------------------

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

  /** The loop family's output columns: `stage_reached`, then per stage
    * `reps<j>` and `ts<j>_us`. */
  private def loopCols(k: Int): Seq[StructField] =
    StageReached +: (1 to k).flatMap(j =>
      longCols(Seq(s"reps$j", s"ts${j}_us")))

  private def loopVals(stage: Int, c: Seq[Long], l: Seq[Long]): Seq[Any] =
    stage +: c.indices.flatMap(j => Seq(c(j), Cep.orNull(l(j))))

  /** The group witness columns `ts_r<rep>_s<stage>_us`, relabeled from
    * the flat `ts<j>_us` of the expanded stage list. */
  private def relabel(k: Int, times: Int): Seq[Column] =
    for (r <- 1 to times; i <- 1 to k) yield
      col(s"ts${(r - 1) * k + i}_us").as(s"ts_r${r}_s${i}_us")

  /** The match-count column a bounded input recounts over the survivors. */
  private def recount(df: DataFrame): DataFrame =
    df.withColumn("n_matches",
      count(lit(1)).over(Window.partitionBy("user_id")))

  // -------------------------------------------------------------------
  // Validation
  // -------------------------------------------------------------------

  /** `stages` as (type, repetition) pairs expanded to the flat stage
    * list — `times(r)` on a stage is r copies of its type. */
  private[graft] def expandStages(stages: Seq[(String, Int)]): Seq[String] =
    stages.flatMap { case (t, r) => Seq.fill(r)(t) }

  private def loopRequire(stages: Seq[(String, Int)]): Unit = {
    require(stages.nonEmpty && stages.forall(_._2 >= 1),
      "need stages with minReps >= 1")
    require(stages.map(_._1).sliding(2).forall(p =>
        p.length < 2 || p(0) != p(1)),
      "adjacent stages must differ in type (advance vs loop-absorb " +
        "would be ambiguous)")
  }

  private def patternRequire(stages: Seq[PatternStage]): Unit = {
    require(stages.nonEmpty, "need at least one stage")
    require(!stages.head.strict,
      "the first stage is `begin` — it has no previous event to be " +
        "strictly contiguous with")
    require(stages.last.notNextAfter.isEmpty,
      "notNextAfter guards the gap to the NEXT stage; on the last " +
        "stage it can never affect the output")
  }

  /** The group quantifier's stage-list expansion: `times` copies of
    * the group with each copy's INTERNAL contiguity flags preserved
    * and the SEAM — each later copy's first stage — connected per
    * `consecutiveSeams`. Flink joins a group's repetitions with
    * RELAXED contiguity by default (`times(n)`) and `consecutive()`
    * opts into strict seams; a group whose internal hops are strict
    * must NOT leak that strictness across the seam (spec-pinned). */
  private def groupExpand(group: Seq[PatternStage], times: Int,
      consecutiveSeams: Boolean): Seq[PatternStage] =
    (1 to times).flatMap { r =>
      group.zipWithIndex.map { case (st, i) =>
        if (r > 1 && i == 0) st.copy(strict = consecutiveSeams) else st
      }
    }

  /** The group contract is the flat pattern contract applied to the
    * GROUP; the expansion then satisfies [[patternRequire]] for every
    * `times` and either seam mode. A trailing gap guard is rejected
    * with a group-specific message: under the expansion's sticky
    * first-reach semantics a blocked completion would still count,
    * silently diverging from the loop machine's kill semantics (w71). */
  private def groupRequire(group: Seq[PatternStage], times: Int): Unit = {
    require(times >= 1, "need times >= 1")
    require(group.isEmpty || group.last.notNextAfter.isEmpty,
      "notNextAfter on the group's LAST stage is unsupported under " +
        "the stage-list expansion (its sticky first-reach reps would " +
        "count a blocked completion, silently diverging from the loop " +
        "machines' kill semantics); use groupTimesRange (which " +
        "runs the guarded form on the capped dominance machine " +
        "and reports counts without per-copy timestamps — times(n) is " +
        "the m = n = times range) or groupLoop / groupTimesOrMore")
    patternRequire(group)
  }

  /** The group-loop contract: [[patternRequire]] with the trailing
    * guard allowed (it guards the repetition SEAM: a repetition whose
    * completing event is immediately followed by the blocker dies), a
    * head that anchors each repetition and a tail that detects
    * completion — so neither may be optional. */
  private def groupLoopRequire(group: Seq[PatternStage]): Unit = {
    require(group.nonEmpty, "need at least one stage")
    patternRequire(group.init :+ group.last.copy(notNextAfter = None))
    require(!group.head.optional,
      "the group's first stage anchors each repetition — an optional " +
        "head makes the repetition seam ambiguous")
    require(!group.last.optional,
      "the group's last stage detects repetition completion — an " +
        "optional tail would complete implicitly")
  }

  /** (anchor expanded-index, inclusive?) for a skip strategy: FIRST
    * anchors at the quantified block's first copy, LAST at its last,
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

  /** `valCol` read with the NON-NULL contract enforced LOUDLY: an
    * iterative condition cannot evaluate against a NULL value, and
    * the batch and streaming runners must agree — a silent default
    * would fabricate an anchor. One branch per row. */
  private def iterVal(valCol: String): Column =
    coalesce(col(valCol).cast("long"),
      raise_error(lit(s"funnelIterative: NULL in value column " +
        s"'$valCol' — value conditions require a non-null integer " +
        "fixed-point value; filter or default NULLs first")).cast("long"))

  /** Column names the predicate pattern hands predicates besides the
    * carried ones — a carried event column by one of these names would
    * be silently shadowed, so the constructor rejects them loudly. */
  private val WhereReserved = Set("us", "oid")

  // -------------------------------------------------------------------
  // Greedy pointer: times, where
  // -------------------------------------------------------------------

  /**
   * The ordered funnel with QUANTIFIED stages — Flink CEP's `times(n)`:
   * stage j completes after `n_j` ordered occurrences of its type. Per
   * user, the greedy pointer walks the events in the total order
   * (event time, order column); an event whose type equals the current
   * stage's advances it. Greedy-earliest is existence-optimal for an
   * unconstrained ordered pattern, so `stage_reached = k` iff some
   * ordered subsequence matches, and the witnesses are the
   * lexicographically least (the oracle chains greedy row_number-1
   * picks, w6). n ordered occurrences of one type ARE n consecutive
   * stages of that type, so the machine runs over the EXPANDED list and
   * the projection maps sub-stages back: `stage_reached` counts
   * COMPLETED quantified stages and `ts<j>_us` is stage j's n_j-th
   * occurrence (w12). With every count 1 the projection is the
   * identity and is not planned. Output `(user_id, stage_reached,
   * ts1_us..)`, NULL when unreached.
   */
  def times(stages: Seq[(String, Int)]): Pattern = {
    require(stages.nonEmpty && stages.forall(_._2 >= 1),
      "need stages with counts >= 1")
    val expanded = expandStages(stages)
    val kx = expanded.length
    val flat = fold("times", Cep.typed(expanded), StageReached +: tsCols(kx)) {
      (s, _) => Seq(s.stage +: padded(s.witnessUs, kx))
    }
    if (stages.forall(_._2 == 1)) flat
    else {
      val bounds = stages.map(_._2).scanLeft(0)(_ + _).tail
      flat.derive("times", post = raw => {
        val full = bounds.map(b => when(col("stage_reached") >= b, 1)
          .otherwise(0)).reduce(_ + _)
        raw.select(col("user_id") +: full.as("stage_reached") +:
          stages.indices.map(j =>
            col(s"ts${bounds(j)}_us").as(s"ts${j + 1}_us")): _*)
      })
    }
  }

  /**
   * The ordered funnel with per-stage PREDICATES instead of type
   * equality — Flink CEP's `where(SimpleCondition)` / `subtype(...)`.
   * Conditions read only the current event, so greedy-earliest stays
   * existence-optimal and the machine is [[times]]' pointer
   * ([[Cep.where]]). Every predicate is evaluated once per event, as a
   * Column, into a string of per-stage verdicts the pointer reads: a
   * NULL verdict is false, on both runners. `carryCols` names the
   * event columns the predicates may read (each a field of the struct
   * handed to every predicate, alongside `us` and `oid`); the runner's
   * type column is not read. Output as [[times]] with every count 1.
   * Oracle: w53.
   */
  def where(carryCols: Seq[String], stages: Seq[Column => Column]): Pattern = {
    require(stages.nonEmpty, "need at least one stage")
    require(carryCols.nonEmpty, "need at least one carried event column")
    val clash = carryCols.filter(WhereReserved)
    require(clash.isEmpty,
      s"carried column name(s) ${clash.mkString(", ")} collide with the " +
        "pattern's us/oid fields — rename them first")
    val k = stages.length
    fold("where",
        Cep.where((0 until k).map(j =>
          (tp: String, _: Long) => tp.charAt(j) == '1')),
        StageReached +: tsCols(k),
        tp = in => {
          val e = struct(unix_micros(col(in.ts).cast("timestamp")).as("us") +:
            col(in.order).as("oid") +: carryCols.map(c => col(c).as(c)): _*)
          concat(stages.map(p => when(p(e), lit("1")).otherwise(lit("0"))): _*)
        }) { (s, _) => Seq(s.stage +: padded(s.witnessUs, k)) }
  }

  // -------------------------------------------------------------------
  // Looping quantifiers
  // -------------------------------------------------------------------

  private def loopOf(name: String, stages: Seq[(String, Int)],
      caps: Option[Seq[Int]]): Pattern =
    fold(name, Cep.loop(stages.toIndexedSeq, caps.map(_.toIndexedSeq)),
        loopCols(stages.length)) { (st, _) =>
      Seq(loopVals(Cep.loopStage(stages, st.s), st.c, st.l))
    }

  /**
   * LOOPING quantified stages — Flink CEP's `oneOrMore` /
   * `timesOrMore(n)` with GREEDY repetition: the spine is the
   * greedy-earliest mandatory-pick chain over the expanded list (so
   * `stage_reached` equals [[times]]'), and stage j's loop then absorbs
   * every type-j event up to stage j+1's first pick; the last stage's
   * loop runs to the end of the log. Output `(user_id, stage_reached,
   * reps<j>, ts<j>_us..)`: how many occurrences stage j consumed and the
   * last one's time; a partial block shows its count. Adjacent stages
   * must differ in type. The reluctant mode (Flink's default) is the
   * bounded quantifier at its floor: [[timesRange]] with maxReps =
   * minReps. Gates: w16 (greedy), w49 (reluctant).
   */
  def loop(stages: Seq[(String, Int)]): Pattern = {
    loopRequire(stages)
    loopOf("loop", stages, None)
  }

  /** Flink CEP's BOUNDED quantifier `times(m, n)`: [[loop]] with each
    * stage's absorption capped at `maxReps` total; overflow occurrences
    * are ignored and never disturb the spine. Gate: w18. */
  def timesRange(stages: Seq[(String, Int, Int)]): Pattern = {
    loopRequire(stages.map { case (t, m, _) => (t, m) })
    require(stages.forall { case (_, m, n) => n >= m },
      "need maxReps >= minReps on every stage")
    loopOf("timesRange", stages.map { case (t, m, _) => (t, m) },
      Some(stages.map(_._3)))
  }

  /**
   * [[loop]] with STRICT contiguity INSIDE every repetition block —
   * Flink CEP's `oneOrMore.consecutive()`: stage j matches `minReps_j`
   * or more IMMEDIATELY consecutive type-j events; another event resets
   * a partial block and closes a completed one for good (and is offered
   * to stage j+1). `reps<j>` is the completed stage's run length, or the
   * current unbroken partial run. [[Reluctant]] stops consuming at the
   * mandatory block; the spine is mode-independent. Output as [[loop]].
   * Gates: w38 (greedy), w56 (reluctant).
   */
  def loopConsecutive(stages: Seq[(String, Int)],
      mode: ConsumeMode = Greedy): Pattern = {
    loopRequire(stages)
    fold("loopConsecutive",
        Cep.consecutive(stages.toIndexedSeq, reluctant = mode == Reluctant),
        loopCols(stages.length)) { (st, _) =>
      Seq(loopVals(st.j - 1 + (if (st.open) 1 else 0), st.c, st.l))
    }
  }

  /**
   * [[loop]] with Flink CEP's `until` boundary — `oneOrMore().until(c)`:
   * stage j's repetition also CLOSES at the first `untilType_j` event
   * while the stage is current. A close during the mandatory block
   * STALLS the pattern; a close while the loop is open only stops
   * absorption. The until check runs after the advance. [[Reluctant]]
   * keeps the whole until machinery and only stops absorption. Output
   * as [[loop]]. Gates: w31 (greedy), w57 (reluctant).
   */
  def loopUntil(stages: Seq[(String, Int, Option[String])],
      mode: ConsumeMode = Greedy): Pattern = {
    val mst = stages.map { case (t, m, _) => (t, m) }
    loopRequire(mst)
    require(stages.forall { case (t, _, u) => !u.contains(t) },
      "a stage's until type must differ from its own type " +
        "(close-vs-absorb would be ambiguous)")
    fold("loopUntil",
        Cep.loopUntil(stages.toIndexedSeq, reluctant = mode == Reluctant),
        loopCols(stages.length)) { (st, _) =>
      Seq(loopVals(Cep.loopStage(mst, st.s), st.c, st.l))
    }
  }

  // -------------------------------------------------------------------
  // Windows and guards
  // -------------------------------------------------------------------

  /**
   * The ordered funnel under Flink CEP's `within(T)`: a match counts
   * only if every stage completes within `windowMicros` of ITS OWN
   * stage-1 event. Greedy is wrong under a time bound (the earliest
   * stage-1 pick can expire while a later restart completes), so the
   * machine is the max-start DP ([[Cep.within]]): k longs, any restart
   * count. With `notBetween` (one optional blocker type per gap —
   * Flink's `notFollowedBy` inside the pattern) the machine carries the
   * windowed vector with guard kills layered on ([[Cep.withinGuarded]],
   * "convert within 2 h with no error in between"). Output `(user_id,
   * stage_reached, win_start_us)`: the longest prefix some clean
   * in-window chain ever reached and the latest start among chains
   * reaching it. Gates: w8, w14.
   */
  def within(stages: Seq[String], windowMicros: Long,
      notBetween: Seq[Option[String]] = Nil): Pattern = {
    require(stages.nonEmpty && windowMicros > 0,
      "need stages and windowMicros > 0")
    if (notBetween.isEmpty)
      fold("within", Cep.within(stages.toIndexedSeq, windowMicros),
          winCols) { (s, _) =>
        Seq(Seq(Cep.slotsSet(s.b), opt(Cep.deepestStart(s.b))))
      }
    else {
      require(notBetween.length == stages.length - 1,
        "need one (optional) blocker per gap")
      fold("within", Cep.withinGuarded(stages.toIndexedSeq, windowMicros,
          notBetween.toIndexedSeq), winCols) { (s, _) =>
        Seq(Seq(Cep.slotsSet(s.m), opt(Cep.deepestStart(s.m))))
      }
    }
  }

  /**
   * The ordered funnel with NEGATIVE conditions between stages — Flink
   * CEP's `notFollowedBy` inside a pattern: stage j+1 only matches via
   * a chain whose gap since its stage-j event holds no event of the
   * gap's blocker type (`notBetween(j-1)`, None = unguarded). Greedy is
   * wrong here too, so this runs the NFA existence machine
   * ([[Cep.guarded]]): 2k booleans. Output `(user_id, stage_reached)`,
   * the stages some clean chain ever reached. Gate: w10.
   */
  def guarded(stages: Seq[String], notBetween: Seq[Option[String]]): Pattern = {
    require(stages.nonEmpty && notBetween.length == stages.length - 1,
      "need stages and one (optional) blocker per gap")
    fold("guarded", Cep.guarded(stages.toIndexedSeq, notBetween.toIndexedSeq),
        Seq(StageReached)) { (s, _) => Seq(Seq(s.e.count(identity))) }
  }

  // -------------------------------------------------------------------
  // Contiguity and group patterns
  // -------------------------------------------------------------------

  /**
   * The ordered funnel with Flink CEP's remaining combinators per
   * [[PatternStage]]: STRICT contiguity (`next`), `notNext` gap guards
   * and `optional` stages. Greedy is wrong under each, so this runs the
   * l/o NFA existence machine ([[Cep.pattern]]). Output `(user_id,
   * stage_reached, ts<j>_us..)`: the longest satisfiable prefix (optional
   * skips counted) and the first time each stage was ACTUALLY matched
   * (NULL when only ever skipped). Gates: w20, w22, w23, w24.
   */
  def pattern(stages: Seq[PatternStage]): Pattern = {
    patternRequire(stages)
    val st = stages.toIndexedSeq
    fold("pattern", Cep.pattern(st), StageReached +: tsCols(st.length)) {
      (s, _) => Seq(Cep.patternReached(st, s.ts) +: s.ts.map(Cep.orNull))
    }
  }

  /**
   * [[pattern]] under `within(T)`: the match's last event must fall
   * within `windowMicros` of its FIRST matched event. The machine is the
   * l/o NFA with max-start slot values ([[Cep.patternWithin]]). Output
   * `(user_id, stage_reached, win_start_us)`. Gate: w42.
   */
  def patternWithin(stages: Seq[PatternStage], windowMicros: Long): Pattern = {
    patternRequire(stages)
    require(windowMicros > 0, "need windowMicros > 0")
    val st = stages.toIndexedSeq
    fold("patternWithin", Cep.patternWithin(st, windowMicros), winCols) {
      (s, _) =>
        val (r, win) = Cep.patternWindow(st, s.m)
        Seq(Seq(r, opt(win)))
    }
  }

  /**
   * Flink CEP's GROUP pattern under `times(n)`
   * (`Pattern.begin(Pattern.begin("a").next("b")).times(n)`): a group is
   * a stage list, so the group quantifier is [[pattern]] over `times`
   * copies with the group's internal contiguity inside every copy and
   * relaxed seams (`consecutiveSeams = true` for Flink's
   * `consecutive()`). Output `(user_id, reps_completed,
   * ts_r<r>_s<i>_us..)`. Gates: w59, w60.
   */
  def groupTimes(group: Seq[PatternStage], times: Int,
      consecutiveSeams: Boolean = false): Pattern = {
    groupRequire(group, times)
    val k = group.length
    pattern(groupExpand(group, times, consecutiveSeams)).derive("groupTimes",
      post = raw => raw.select(col("user_id") +:
        expr(s"stage_reached div $k").cast("int").as("reps_completed") +:
        relabel(k, times): _*))
  }

  /** [[groupTimes]] under `within(T)`: the bound spans ALL repetitions.
    * [[patternWithin]] over the copies. Output `(user_id,
    * reps_completed, win_start_us)`. Gate: w61. */
  def groupTimesWithin(group: Seq[PatternStage], times: Int,
      windowMicros: Long, consecutiveSeams: Boolean = false): Pattern = {
    groupRequire(group, times)
    val k = group.length
    patternWithin(groupExpand(group, times, consecutiveSeams), windowMicros)
      .derive("groupTimesWithin", post = _.select(col("user_id"),
        expr(s"stage_reached div $k").cast("int").as("reps_completed"),
        col("win_start_us")))
  }

  /**
   * Flink CEP's GROUP pattern under `oneOrMore` — the unbounded
   * quantifier over a sequence, which no finite expansion reaches.
   * Repetitions are sequential, seams relaxed or (`consecutiveSeams`)
   * strictly contiguous; a `notNextAfter` on the group's last stage
   * guards the seam (a completion immediately followed by the blocker
   * dies). Greedy-earliest replay is wrong under consecutive seams, so
   * the machine is the dominance fold ([[Cep.groupLoop]]): 2k+2 longs.
   * Output `(user_id, reps)`: the most complete traversals one chain
   * achieves. `within(T)` is deliberately absent: chains at one slot
   * differ in both reps and start, whose orders oppose, so no O(k)
   * machine exists — use [[groupTimesWithin]] at a cap, or
   * [[groupMatchesWithin]] for witnesses. `minTimes` is read only under
   * [[Reluctant]], where it caps the completion step, so `reps` is
   * `min(greedy reps, minTimes)`. Gates: w62, w63, w68, w69, w71.
   */
  def groupLoop(group: Seq[PatternStage], consecutiveSeams: Boolean = false,
      mode: ConsumeMode = Greedy, minTimes: Int = 1): Pattern = {
    groupLoopRequire(group)
    require(minTimes >= 1, "need minTimes >= 1")
    val cap = if (mode == Reluctant) Some(minTimes.toLong) else None
    fold("groupLoop", Cep.groupLoop(group.toIndexedSeq, consecutiveSeams, cap),
        longCols(Seq("reps"))) { (s, _) => Seq(Seq(Cep.groupLoopReps(s))) }
  }

  /**
   * Flink CEP's BOUNDED group quantifier `times(m, n)`: [[groupTimes]]
   * at the ceiling plus `matched = reps_completed >= m`. Output
   * `(user_id, reps_completed, matched, ts_r<r>_s<i>_us..)`. A TRAILING
   * seam guard (the one shape the expansion rejects) runs on the capped
   * dominance machine instead — [[groupLoop]] under [[Reluctant]] at
   * floor = `maxTimes` — and reports counts only: `(user_id,
   * reps_completed, matched)`. Gates: w64 (expansion), w72 (guarded).
   */
  def groupTimesRange(group: Seq[PatternStage], minTimes: Int, maxTimes: Int,
      consecutiveSeams: Boolean = false): Pattern = {
    require(minTimes >= 1 && maxTimes >= minTimes,
      "need 1 <= minTimes <= maxTimes")
    if (group.nonEmpty && group.last.notNextAfter.nonEmpty)
      groupLoop(group, consecutiveSeams, Reluctant, minTimes = maxTimes)
        .derive("groupTimesRange", post = _.select(col("user_id"),
          col("reps").cast("int").as("reps_completed"),
          (col("reps") >= lit(minTimes.toLong)).as("matched")))
    else groupTimes(group, maxTimes, consecutiveSeams)
      .derive("groupTimesRange", post = _
        .withColumn("matched", col("reps_completed") >= minTimes)
        .select(Seq(col("user_id"), col("reps_completed"), col("matched")) ++
          (for (r <- 1 to maxTimes; i <- 1 to group.length)
            yield col(s"ts_r${r}_s${i}_us")): _*))
  }

  /** Flink CEP's `timesOrMore(n)` on a GROUP: [[groupLoop]] plus
    * `matched = reps >= n`. Output `(user_id, reps, matched)`; under
    * [[Reluctant]] `reps` caps at `minTimes`. Gate: w65. */
  def groupTimesOrMore(group: Seq[PatternStage], minTimes: Int,
      consecutiveSeams: Boolean = false, mode: ConsumeMode = Greedy): Pattern =
    groupLoop(group, consecutiveSeams, mode, minTimes).derive(
      "groupTimesOrMore",
      post = _.withColumn("matched", col("reps") >= minTimes))

  // -------------------------------------------------------------------
  // Match enumeration
  // -------------------------------------------------------------------

  /**
   * ALL non-overlapping matches of the ordered pattern per user —
   * Flink CEP's enumeration under AFTER MATCH SKIP PAST LAST EVENT. The
   * greedy-restart machine ([[Cep.matches]]) is one counter, the partial
   * match's witnesses and the held matches, capped at `maxMatches`.
   * Output rows `(user_id, match_idx, n_matches, ts1_us..tsk_us)` for
   * the first `maxMatches` matches, `n_matches` the true total;
   * zero-match users emit nothing. Gate: w26.
   *
   * `absence = Some((T, B))` is Flink's trailing `notFollowedBy(B)
   * .within(T)`, the absence alarm: a match survives iff its span fits
   * T and no B event falls in the TIME interval (completion, start + T]
   * — a blocker sharing the completion's timestamp does not kill, one at
   * exactly start + T does. The machine's own holding pen filters the
   * span at completion, kills held matches at each later blocker and
   * drains a match once the watermark passes start + T; the batch
   * runner drains at +∞, and `n_matches` counts the survivors.
   * `match_idx` keeps the enumeration index, so a gap marks a cut or
   * killed match. Gate: w73.
   */
  def matches(stages: Seq[String], maxMatches: Int,
      absence: Option[(Long, String)] = None): Pattern = {
    val k = stages.length
    require(k >= 1 && maxMatches >= 1, "need stages and maxMatches >= 1")
    require(absence.forall(_._1 > 0), "need windowMicros > 0")
    fold("matches", Cep.matches(stages.toIndexedSeq, maxMatches, absence),
        longCols(Seq("match_idx", "n_matches")) ++ tsCols(k),
        perMatch = true, drainCols = Seq("n_matches")) { (s, held) =>
      val n = if (absence.isEmpty) s.n / k else held.length.toLong
      held.map { case (i, w) => Seq(i, n) ++ w }
    }
  }

  /** Match enumeration on a GROUP — `begin(group).times(n)` under SKIP
    * PAST LAST EVENT: [[matches]] over the `times`-fold type expansion,
    * the witnesses relabeled `ts_r<rep>_s<stage>_us`. `absence` is the
    * trailing `notFollowedBy(B).within(T)` as in [[matches]]. Gates:
    * w67, w74. */
  def groupMatches(groupTypes: Seq[String], times: Int, maxMatches: Int,
      absence: Option[(Long, String)] = None): Pattern = {
    require(groupTypes.nonEmpty && times >= 1 && maxMatches >= 1,
      "need groupTypes, times >= 1 and maxMatches >= 1")
    val k = groupTypes.length
    matches(Seq.fill(times)(groupTypes).flatten, maxMatches, absence)
      .derive("groupMatches", post = _.select(col("user_id") +:
        col("match_idx") +: col("n_matches") +: relabel(k, times): _*))
  }

  /**
   * [[groupMatches]] under a MATCH-SPAN bound: every canonical match
   * whose span (first pick to last completing pick) fits `windowMicros`
   * is kept. This filters the canonical enumeration; it does not search
   * for a tighter witness of the same region (use [[groupTimesWithin]]
   * for existence). `match_idx` keeps its enumeration index; the batch
   * runner recounts `n_matches` over the survivors. Gate: w70.
   */
  def groupMatchesWithin(groupTypes: Seq[String], times: Int,
      maxMatches: Int, windowMicros: Long): Pattern = {
    require(windowMicros > 0, "need windowMicros > 0")
    val k = groupTypes.length
    groupMatches(groupTypes, times, maxMatches).derive("groupMatchesWithin",
      post = _.filter(col(s"ts_r${times}_s${k}_us") - col("ts_r1_s1_us") <=
        windowMicros),
      atDrain = (df, _) => recount(df))
  }

  /**
   * Match enumeration for a RANGE-quantified group — `begin(group)
   * .times(m, n)` under SKIP PAST LAST EVENT with the greedy quantifier.
   * Under greedy skip-past-last every non-final match is full, so this
   * is [[matches]]' machine over the `maxTimes`-fold expansion read
   * twice: the full matches, and the one possible trailing SHORT match
   * in its partial at the end of the log (`reps` complete repetitions, a
   * match iff >= `minTimes`). Output `(user_id, match_idx, n_matches,
   * reps, ts_r<r>_s<i>_us..)`, witnesses beyond a match's `reps` NULL.
   * Gate: w75.
   *
   * `absence = Some((T, B))` adds the span bound and trailing absence
   * (`times(m, n).notFollowedBy(B).within(T)`): a match survives iff
   * its span to its OWN last complete repetition fits T and no B event
   * falls in (completion, start + T]; `n_matches` recounts survivors.
   * This form keeps its answer-sized anti-join: the short match is a
   * stream-end object the machine's holding pen cannot hold. Gate: w75b.
   *
   * The short match exists only once the input ends — no finite
   * watermark certifies that the greedy chain never extends — so the
   * streaming runner refuses both forms; [[groupMatches]] at `maxTimes`
   * streams the full matches.
   */
  def groupMatchesRange(groupTypes: Seq[String], minTimes: Int, maxTimes: Int,
      maxMatches: Int, absence: Option[(Long, String)] = None): Pattern = {
    require(groupTypes.nonEmpty && minTimes >= 1 && maxTimes >= minTimes &&
      maxMatches >= 1,
      "need groupTypes, 1 <= minTimes <= maxTimes and maxMatches >= 1")
    require(absence.forall(_._1 > 0), "need windowMicros > 0")
    val k = groupTypes.length
    val bigK = maxTimes * k
    val expanded = Seq.fill(maxTimes)(groupTypes).flatten
    val fields = longCols(Seq("match_idx", "n_matches")) ++
      (StructField("reps", IntegerType) +:
        longCols(for (r <- 1 to maxTimes; i <- 1 to k)
          yield s"ts_r${r}_s${i}_us"))
    val range = fold("groupMatchesRange",
        Cep.matches(expanded.toIndexedSeq, maxMatches, None), fields,
        perMatch = true, drainCols = Seq("n_matches")) { (s, full) =>
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
    }.derive("groupMatchesRange", streamEndOnly = Some(
      "a range enumeration's trailing short match exists only once the " +
        "input ends; stream groupMatches at maxTimes for the full matches"))
    absence.fold(range) { case (w, absentType) =>
      range.derive("groupMatchesRange",
        post = _.withColumn("end_us", coalesce((maxTimes to 1 by -1).map(r =>
            col(s"ts_r${r}_s${k}_us")): _*))
          .filter(col("end_us") - col("ts_r1_s1_us") <= w),
        atDrain = (fits, in) =>
          withoutBlocked(fits, in, absentType, "end_us", "ts_r1_s1_us", w)
            .drop("end_us"))
    }
  }

  /** Drop each match with an `absentType` event in (end, start + window]
    * — one answer-sized LEFT ANTI equi-join on the user key with the
    * time range as post-condition — and recount `n_matches`. */
  private def withoutBlocked(fits: DataFrame, in: Input, absentType: String,
      endCol: String, startCol: String, windowMicros: Long): DataFrame = {
    val blockers = in.events.filter(col(in.tp) === lit(absentType))
      .select(col(in.user).as("user_id"),
        unix_micros(col(in.ts).cast("timestamp")).as("b_us"))
    recount(fits.join(blockers,
      fits("user_id") === blockers("user_id") &&
        col("b_us") > fits(endCol) &&
        col("b_us") <= fits(startCol) + lit(windowMicros),
      "left_anti"))
  }

  /**
   * Match enumeration under a chosen Flink after-match skip strategy.
   * One greedy chain per start event; chains are monotone in their
   * start, so all branches waiting on one stage advance together and the
   * machine ([[Cep.skip]]) keeps them in k-1 buckets, pruning each
   * completion against the strategy's running threshold as it emerges.
   * Output `(user_id, match_idx, n_matches, ts1_us..tsk_us)` over the
   * EXPANDED stage list: the first `maxMatches` survivors, `n_matches`
   * the true survivor total. Gates: w33, w34, w35.
   */
  def skip(stages: Seq[(String, Int)], strategy: SkipStrategy,
      maxMatches: Int): Pattern = {
    require(stages.nonEmpty && stages.forall(_._2 >= 1) && maxMatches >= 1,
      "need stages with repetitions >= 1 and maxMatches >= 1")
    require(expandStages(stages).length >= 2, "need an expanded length >= 2")
    val anchored = strategy match {
      case SkipToFirst(s) => Some(s); case SkipToLast(s) => Some(s)
      case _ => None
    }
    anchored.foreach(s => require(s >= 1 && s <= stages.length,
      s"anchor stage $s out of range 1..${stages.length}"))
    fold("skip", Cep.skip(stages, strategy, maxMatches),
        longCols(Seq("match_idx", "n_matches")) ++
          tsCols(expandStages(stages).length),
        perMatch = true, drainCols = Seq("n_matches")) { (s, ready) =>
      ready.map { case (i, w) => Seq(i, s.n) ++ w }
    }
  }

  // -------------------------------------------------------------------
  // Counting, iterative conditions, followedByAny
  // -------------------------------------------------------------------

  private def countOf(name: String, stages: Seq[(String, Boolean)],
      out: String): Pattern = {
    require(stages.nonEmpty, "need at least one stage")
    fold(name, Cep.combinations(stages.toIndexedSeq), longCols(Seq(out))) {
      (s, _) => Seq(Seq(s.c.last))
    }
  }

  /** Flink CEP's `followedByAny` match MULTIPLICITY: the number of
    * distinct ordered event combinations matching the pattern, by path
    * counting ([[Cep.combinations]]). Output `(user_id, n_any)`, 0
    * included. Gate: w28. */
  def anyCount(stages: Seq[String]): Pattern =
    countOf("anyCount", stages.map(_ -> false), "n_any")

  /** Flink CEP's `oneOrMore().allowCombinations()` multiplicity:
    * [[anyCount]] with LOOPING stages (`stages` = (type,
    * isCombinationsLoop)); a loop stage matches every non-empty ordered
    * subset of its type's events. Output `(user_id, n_combi)`, 0
    * included. Gate: w39. */
  def combinations(stages: Seq[(String, Boolean)]): Pattern =
    countOf("combinations", stages, "n_combi")

  /**
   * The ordered funnel with ITERATIVE stage conditions — Flink CEP's
   * `IterativeCondition`: each [[IterStage]]'s event must clear its
   * [[RelGt]] against the chain's anchor ([[IterAnchor]]). The
   * `num >= 0` monotonicity contract collapses the partial chains to one
   * dominant anchor per stage ([[Cep.iterative]]): 2k longs. `valCol`
   * must be integer fixed-point; a NULL fails loudly on both runners.
   * Output `(user_id, stage_reached, ts1_us..tsk_us)`. Gates: w50, w51.
   */
  def iterative(valCol: String, stages: Seq[IterStage],
      anchor: IterAnchor = AnchorFirst): Pattern = {
    require(stages.nonEmpty, "need at least one stage")
    require(stages.head.cond.isEmpty,
      "the first stage has no previously-matched event to anchor a " +
        "condition on")
    fold("iterative", Cep.iterative(stages.toIndexedSeq, anchor == AnchorFirst),
        StageReached +: tsCols(stages.length), v = iterVal(valCol)) { (s, _) =>
      Seq(Cep.slotsSet(s.ts) +: s.ts.map(Cep.orNull))
    }
  }

  /**
   * `followedByAny` match ENUMERATION: every ordered event combination
   * matching the pattern, one row per match. The output IS the
   * combination set, so the plan is the chained equi-join on the user
   * with a range predicate per hop; no machine beats the output's own
   * cardinality, and the answer is complete only once the input ends.
   * Output `(user_id, ts1_us..tsk_us)`. Gate: w30.
   */
  def anyEnumerate(stages: Seq[String]): Pattern = {
    val k = stages.length
    require(k >= 1, "need at least one stage")
    new Pattern("anyEnumerate", Join { in =>
      val base = in.events.select(col(in.user).as("user_id"),
        unix_micros(col(in.ts).cast("timestamp")).as("us"),
        col(in.order).as("oid"), col(in.tp).as("tp"))
      def side(j: Int) = base.filter(col("tp") === lit(stages(j - 1)))
        .select(col("user_id"), col("us").as(s"ts${j}_us"),
          col("oid").as(s"o$j"))
      var acc = side(1)
      for (j <- 2 to k) {
        acc = acc.join(side(j), Seq("user_id"))
          .filter(col(s"ts${j}_us") > col(s"ts${j - 1}_us") ||
            (col(s"ts${j}_us") === col(s"ts${j - 1}_us") &&
              col(s"o$j") > col(s"o${j - 1}")))
      }
      acc.select(col("user_id") +: (1 to k).map(j => col(s"ts${j}_us")): _*)
    }, identity, Nil, (df, _) => df, Some(
      "followedByAny enumeration is an answer-sized join over the " +
        "bounded input"))
  }
}
