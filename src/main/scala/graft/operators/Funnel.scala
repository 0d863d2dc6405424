package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Ordered-funnel / sequential-pattern matching over an event stream —
 * the CEP primitive (the reference engine's Flink lineage makes this
 * the signature "complex event processing" shape), re-expressed for
 * Spark's execution model.
 *
 * Semantics: for each user, walk the user's events in the TOTAL event
 * order `(event-time, event_id)` and greedily advance a stage pointer —
 * an event whose type equals the CURRENT stage's type advances it and
 * stamps that stage's time. Greedy-earliest is existence-optimal for an
 * unconstrained ordered pattern (taking the earliest match never
 * forecloses a later stage), so `stage_reached = k` iff SOME ordered
 * subsequence of the user's events matches the first k stages — and
 * the stamped times are the lexicographically-least witness, which
 * makes the output deterministic and SQL-replayable (the oracle chains
 * k greedy row_number-1 picks, each strictly after the previous in the
 * same total order).
 *
 * Scale shape: ONE user-keyed shuffle (hash-agg `collect_list`), then
 * the sort and the stage fold run per user as expressions —
 * `sort_array` + `aggregate` over the user's event array, no window
 * function, no self-join per stage (the k-stage SQL formulation costs
 * k user-keyed joins; this costs one agg at any k). Per-user event
 * counts bound the array; a pathological power-user key takes the
 * skew-safe machine through the shape's [[Funnel.Route]].
 *
 * Every shape has ONE public entry point, and how it runs is a value:
 * `route` picks the single fold or the skew-safe machine ([[Funnel.Route]]),
 * and the loop shapes' `mode` picks greedy or reluctant consumption
 * ([[Funnel.ConsumeMode]]). The machines behind each entry point are
 * private; the entry point validates, resolves the route and dispatches.
 */
object Funnel {

  // -------------------------------------------------------------------
  // Routing — how a shape runs, kept separate from what it matches
  // -------------------------------------------------------------------

  /**
   * How a CEP shape runs. The single fold collects each user's whole
   * event log into ONE array, and that array is ONE UnsafeRow, which
   * Spark caps at ~2 GB. The cap is a wall, not a slowdown: measured
   * with one growing power key, every shape's single fold was alive at
   * 40M and dead at 48M events of (us, oid, tp) structs, while every
   * skew-safe twin completed; an earlier run saw single folds fail
   * (BufferHolder overflow) from ~30M events per key, and at a 50M-event
   * key they died after 69–159 s while the skew-safe twins finished in
   * 31–56 s. The wall is in BYTES, so longer type strings move it down.
   *
   * The skew-safe machine splits each user's log into `seconds`-wide
   * time buckets, folds every bucket from every entry state into a
   * bounded summary (a segment monoid) and merges the summaries in
   * bucket order: two user-keyed shuffles instead of one, per-group
   * memory bounded by the bucket width, output bit-identical to the
   * single fold (FunnelSpec's route-equivalence property; every
   * `*_bucketed` and `*_auto` query gates on its single-route oracle
   * verbatim). The
   * iterative-condition shape has no segment monoid; its skew-safe
   * machine is a sort-based fold ([[funnelIterative]]).
   */
  sealed trait Route
  /** The single fold: one user-keyed shuffle, the cheapest plan below
    * the row wall. The default. */
  case object Single extends Route
  /** Always the skew-safe machine, with `seconds`-wide segments. */
  final case class Bucketed(seconds: Long = 3600L) extends Route
  /** Probe the peak per-key event count and take the skew-safe machine
    * (with `seconds`-wide segments) above the machine's threshold:
    * [[AutoBucketKeyEvents]], or [[GroupLoopAutoKeyEvents]] for the
    * group loops. The probe is EAGER: a count-by-key Spark job runs at
    * CALL time, before the returned DataFrame is ever executed, and the
    * probe plus the chosen plan scan `events` twice — stage or persist
    * `events` first when it is expensive to recompute. Shapes validate
    * their arguments before the probe runs. */
  final case class Auto(seconds: Long = 3600L) extends Route

  /** [[Auto]]'s threshold for every machine except the group loops.
    * The single fold dies at the 40–48M-event row wall ([[Route]]);
    * below the wall the faster side depends on the shape (the multi
    * monoid wins from ~20M events and costs ~1.2× below that, the
    * consecutive-loop split loses ~1.5× at a 20M-event key, the
    * contiguity NFA's single fold keeps winning, the within-product
    * pair is flat at 20M), so Auto routes on FEASIBILITY, with ~2.5×
    * headroom below the wall. */
  val AutoBucketKeyEvents: Long = 16000000L

  /** [[Auto]]'s threshold for the group loops ([[funnelGroupLoop]] and
    * the shapes built on it), measured separately: growing one power
    * key, the group-loop single fold survived 32M events (172 s) and
    * hit the row wall at 48M, the tropical segment split completed every
    * size with equal values, and the single fold was the FASTER side at
    * every surviving size (67.9 vs 84.0 s at 16M, 172 vs 200 s at 32M).
    * So Auto stays on the single fold to 24M: 1.5× the flat family's
    * 16M, with 2× margin under the 48M cliff for wider rows. */
  val GroupLoopAutoKeyEvents: Long = 24000000L

  /** The one routing decision: the bucket width to split by, or None
    * for the single fold. [[Auto]] runs the only probe in this file —
    * ONE count-by-key aggregation, metadata-sized result — and routes
    * bucketed only when the peak per-key event count EXCEEDS
    * `threshold`. */
  private[graft] def resolve(route: Route, events: DataFrame,
      userCol: String, threshold: Long): Option[Long] = route match {
    case Single => None
    case Bucketed(s) =>
      require(s > 0, "need bucket seconds > 0")
      Some(s)
    case Auto(s) =>
      require(s > 0, "need bucket seconds > 0")
      val row = events.groupBy(col(userCol)).count()
        .agg(max("count")).head()
      val peak = if (row.isNullAt(0)) 0L else row.getLong(0)
      if (peak > threshold) Some(s) else None
  }

  /** The event columns the typed machines carry: the event type as `tp`. */
  private def typed(typeCol: String): Seq[(String, Column)] =
    Seq("tp" -> col(typeCol))

  /** The single fold's input: one row per user, `evs` = the user's
    * events as `(us, oid, carry…)` structs sorted into the
    * `(event-time, event_id)` total order. */
  private def userEvents(events: DataFrame, userCol: String, tsCol: String,
      orderCol: String, carry: Seq[(String, Column)]): DataFrame =
    events.groupBy(col(userCol).as("user_id"))
      .agg(sort_array(collect_list(struct(
        unix_micros(col(tsCol).cast("timestamp")).as("us") +:
          col(orderCol).as("oid") +:
          carry.map { case (n, c) => c.as(n) }: _*))).as("evs"))

  /** The segment split every skew-safe machine shares: each event gets
    * its time bucket `bkt`, each (user, bkt) group becomes a sorted
    * `evs` array of `(us, oid, carry…)` structs, and each named summary
    * is computed from that array. The result has one row per user, with
    * `segs` = the user's `(bkt, summaries…)` structs in bucket order,
    * ready for the machine's merge fold. */
  private def segments(events: DataFrame, userCol: String, tsCol: String,
      orderCol: String, carry: Seq[(String, Column)], bucketSeconds: Long)(
      summaries: (String, Column)*): DataFrame =
    events.select(col(userCol).as("user_id") +:
        unix_micros(col(tsCol).cast("timestamp")).as("us") +:
        col(orderCol).as("oid") +: carry.map { case (n, c) => c.as(n) }: _*)
      .withColumn("bkt", expr(s"us div ${bucketSeconds * 1000000L}"))
      .groupBy("user_id", "bkt")
      .agg(sort_array(collect_list(struct(col("us") +: col("oid") +:
        carry.map(c => col(c._1)): _*))).as("evs"))
      .select(col("user_id") +: col("bkt") +:
        summaries.map { case (n, c) => c.as(n) }: _*)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("bkt") +:
        summaries.map(s => col(s._1)): _*))).as("segs"))

  /** Per-user funnel progress: `stage_reached` (0..k) and the witness
    * timestamp of each completed stage in unix micros (`ts1_us`…,
    * NULL when unreached). `stages` is the ordered event-type pattern.
    * The skew-safe route is the greedy fold's segment monoid
    * ([[whereBucketed]]). */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[String],
      route: Route = Single): DataFrame = {
    val k = stages.length
    require(k >= 1, "need at least one stage")
    val init = struct(lit(0).as("s"),
      array_repeat(lit(null).cast("long"), k).as("ts"))
    val folded = aggregate(col("evs"), init, (st, e) =>
      when(st.getField("s") < k &&
          e.getField("tp") === element_at(typedLit(stages), st.getField("s") + 1),
        struct((st.getField("s") + 1).as("s"),
          transform(st.getField("ts"), (x, i) =>
            when(i === st.getField("s"), e.getField("us")).otherwise(x)).as("ts")))
        .otherwise(st))
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => greedyBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, b)
      case None => userEvents(events, userCol, tsCol, orderCol, typed(typeCol))
        .select(col("user_id") +: ExprUtil.bound(folded) { f =>
          struct(f.getField("s").as("stage_reached") +:
            (1 to k).map(i =>
              element_at(f.getField("ts"), i).as(s"ts${i}_us")): _*)
        }.as("f") +: Nil: _*)
        .select(col("user_id") +: (col("f.stage_reached") +:
          (1 to k).map(i => col(s"f.ts${i}_us"))): _*)
    }
  }

  // -------------------------------------------------------------------
  // Quantified funnel — Flink CEP's `times(n)` stage repetition
  // -------------------------------------------------------------------

  /**
   * [[funnel]] with QUANTIFIED stages — Flink CEP's `times(n)`: stage
   * j completes after `n_j` ordered occurrences of its type ("two
   * views, then two clicks, then a purchase"). The Spark-first
   * reduction: n ordered occurrences of one type ARE n consecutive
   * stages of that type, so the quantified pattern is EXACTLY the
   * plain funnel over the EXPANDED stage list — greedy-earliest stays
   * existence-optimal, the fold/monoid machinery is reused wholesale
   * (every route is [[funnel]]'s over the same expansion), and this
   * adapter only projects the sub-stage results back to full stages:
   * `stage_reached` counts COMPLETED quantified stages and `ts<j>_us`
   * is the time of stage j's LAST (n_j-th) occurrence.
   */
  def funnelTimes(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[(String, Int)],
      route: Route = Single): DataFrame = {
    require(stages.nonEmpty && stages.forall(_._2 >= 1),
      "need stages with counts >= 1")
    val expanded = stages.flatMap { case (t, n) => Seq.fill(n)(t) }
    val bounds = stages.map(_._2).scanLeft(0)(_ + _).tail
    val raw = funnel(events, userCol, typeCol, tsCol, orderCol, expanded,
      route)
    val full = bounds.map(b => when(col("stage_reached") >= b, 1)
      .otherwise(0)).reduce(_ + _)
    raw.select(col("user_id") +: full.as("stage_reached") +:
      stages.indices.map(j =>
        col(s"ts${bounds(j)}_us").as(s"ts${j + 1}_us")): _*)
  }

  // -------------------------------------------------------------------
  // Looping quantifiers — Flink CEP's `oneOrMore` / `timesOrMore(n)`
  // -------------------------------------------------------------------

  /** Static tables for the looping-quantifier fold over `stages =
    * Seq[(type, minReps)]`: the EXPANDED sub-stage list (minReps
    * mandatory slots per stage — [[funnelTimes]]' reduction), the
    * cumulative block `bounds`, `subOf(i)` = the 1-based full stage
    * owning sub-stage i+1, and `loopOf(s)` = the full stage whose loop
    * is OPEN when the pointer rests exactly at its block boundary
    * (0 = none): a loop absorbs only between its block's completion
    * and the next stage's first pick. */
  private def loopTables(stages: Seq[(String, Int)])
      : (Seq[String], Seq[Int], Seq[Int], Seq[Int]) = {
    val expanded = stages.flatMap { case (t, n) => Seq.fill(n)(t) }
    val bounds = stages.map(_._2).scanLeft(0)(_ + _).tail
    val subOf = stages.zipWithIndex.flatMap { case ((_, n), j) =>
      Seq.fill(n)(j + 1) }
    val loopOf = (0 to expanded.length).map(s => bounds.indexOf(s) + 1)
    (expanded, bounds, subOf, loopOf)
  }

  /** One event's transition of the looping-quantifier fold. State:
    * `s` — the greedy sub-stage pointer over the expanded list (the
    * SPINE, identical to [[funnelTimes]]' picks: a stage's first pick
    * is the earliest occurrence after the previous stage's mandatory
    * block — existence-optimal, so `stage_reached` is exact);
    * `c[j]`/`l[j]` — the occurrences stage j's GREEDY loop has
    * consumed and the last one's time. A mandatory advance counts into
    * its own stage; once a block completes, further same-type events
    * absorb into the open loop until the NEXT stage takes its first
    * pick (which closes it — relaxed contiguity lets the loop claim
    * everything before that pick, so "absorb all until the next
    * stage's earliest pick" IS the maximal greedy repetition
    * consistent with the existence-optimal spine). Adjacent stages
    * must differ in type (advance-vs-absorb would be ambiguous). */
  private def loopStep(st: Column, e: Column, stages: Seq[(String, Int)],
      caps: Option[Seq[Int]] = None): Column = {
    val (expanded, _, subOf, loopOf) = loopTables(stages)
    val kx = expanded.length
    val s = st.getField("s"); val c = st.getField("c"); val l = st.getField("l")
    val tp = e.getField("tp"); val us = e.getField("us")
    // And short-circuits, so element_at never sees an index past the
    // table (same guard discipline as the plain funnel fold)
    val adv = s < kx && tp === element_at(typedLit(expanded), s + 1)
    val jAdv = element_at(typedLit(subOf), s + 1)
    val jLoop = element_at(typedLit(loopOf), s + 1) // sized kx+1: s ∈ 0..kx
    // times(m, n): the open loop absorbs only while the stage's count
    // is below its cap — overflow events are ignored (the spine and
    // every later stage are untouched: adv never reads counts)
    val belowCap = caps.map(cs =>
      element_at(c, jLoop) < element_at(typedLit(cs.map(_.toLong)), jLoop))
      .getOrElse(lit(true))
    val absorb = jLoop > 0 &&
      tp === element_at(typedLit(stages.map(_._1)), jLoop) && belowCap
    def next(sNew: Column, j: Column) = struct(sNew.as("s"),
      transform(c, (x, i) => when(i === j - 1, x + 1L).otherwise(x)).as("c"),
      transform(l, (x, i) => when(i === j - 1, us).otherwise(x)).as("l"))
    when(adv, next(s + 1, jAdv))
      .otherwise(when(absorb, next(s, jLoop)).otherwise(st))
  }

  private def loopInit(stages: Seq[(String, Int)], entry: Column): Column =
    struct(entry.as("s"),
      array_repeat(lit(0L), stages.length).as("c"),
      array_repeat(lit(null).cast("long"), stages.length).as("l"))

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

  private def loopOut(stages: Seq[(String, Int)], f: Column): DataFrame => DataFrame = {
    val bounds = stages.map(_._2).scanLeft(0)(_ + _).tail
    df => df
      .select(col("user_id"), f.as("f"))
      .select(col("user_id") +:
        bounds.map(b => when(col("f.s") >= b, 1).otherwise(0))
          .reduce(_ + _).as("stage_reached") +:
        stages.indices.flatMap(j => Seq(
          element_at(col("f.c"), j + 1).as(s"reps${j + 1}"),
          element_at(col("f.l"), j + 1).as(s"ts${j + 1}_us"))): _*)
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
   *
   * Same scale shape as [[funnel]]: ONE user-keyed shuffle, one
   * expression fold, state = a pointer + 2K slots. Oracle: the w12
   * chained-pick spine plus one interval COUNT/MAX per stage (w16);
   * the skew-safe route is [[loopBucketed]] (w17).
   *
   * `mode` picks the consume mode ([[ConsumeMode]]). Under
   * [[loopRequire]]'s adjacent-stages-differ contract the mode can
   * never change EXISTENCE — the mandatory pick spine is
   * mode-independent because a loop absorption can never consume an
   * event the next stage could pick (types differ), so
   * `stage_reached` is identical under both modes; what changes is
   * the MATCH CONTENT, observable as `reps<j>` (greedy: the full
   * absorbed run; reluctant: exactly `minReps_j` once complete) and
   * `ts<j>_us` (greedy: the last absorbed occurrence; reluctant: the
   * `minReps_j`-th pick). This mirrors Flink, where greedy vs
   * reluctant on non-overlapping adjacent conditions likewise moves
   * only which events the emitted match CONTAINS. The reluctant
   * machine is exactly the bounded quantifier at its floor —
   * `times(m, m)` ([[funnelTimesRange]] with maxReps = minReps):
   * "stop absorbing at the cap" with cap = m IS "consume as few as
   * allowed", so the reluctant mode reuses that fold (and its
   * list-carrying segment monoid on the skew-safe route) rather than
   * growing a third machine. Gate: greedy ≡ w16, reluctant w49/w49b.
   */
  def funnelLoop(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[(String, Int)],
      mode: ConsumeMode = Greedy, route: Route = Single): DataFrame = {
    loopRequire(stages)
    if (mode == Reluctant) funnelTimesRange(events, userCol, typeCol,
      tsCol, orderCol, stages.map { case (tp, m) => (tp, m, m) }, route)
    else resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => loopBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, b)
      case None => loopOut(stages, aggregate(col("evs"),
          loopInit(stages, lit(0)), (st, e) => loopStep(st, e, stages)))(
        userEvents(events, userCol, tsCol, orderCol, typed(typeCol)))
    }
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
   * `times(m, n).greedy()` reading). Same state and shuffle shape as
   * [[funnelLoop]]: the cap is one extra conjunct in the absorb branch
   * (counts never feed the pointer, so every downstream stage is
   * bit-identical to the unbounded loop's). Skew-safe route:
   * [[rangeBucketed]] (w19).
   */
  def funnelTimesRange(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Int, Int)], route: Route = Single): DataFrame = {
    rangeRequire(stages)
    val mstages = stages.map { case (t, m, _) => (t, m) }
    val caps = stages.map(_._3)
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => rangeBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, b)
      case None => loopOut(mstages, aggregate(col("evs"),
          loopInit(mstages, lit(0)),
          (st, e) => loopStep(st, e, mstages, Some(caps))))(
        userEvents(events, userCol, tsCol, orderCol, typed(typeCol)))
    }
  }

  // -------------------------------------------------------------------
  // Quantifier CONSUME MODES — Flink CEP's `greedy()` modifier
  // -------------------------------------------------------------------

  /** Loop-quantifier CONSUME MODE — which match the machine prefers
    * when a repetition COULD absorb one more occurrence. Flink CEP's
    * loops are reluctant by default and `greedy()` opts into maximal
    * consumption; the repo's [[funnelLoop]] family had historically
    * fixed the greedy policy — this ADT makes it selectable. */
  sealed trait ConsumeMode
  /** Maximal repetition: stage j's loop absorbs EVERY type-j event
    * from its block's completion up to the next stage's first pick
    * (Flink `oneOrMore.greedy()`). */
  case object Greedy extends ConsumeMode
  /** Minimal repetition: stage j consumes EXACTLY its `minReps_j`
    * mandatory occurrences and ignores further type-j events (Flink's
    * default loop mode). */
  case object Reluctant extends ConsumeMode

  /**
   * [[funnelLoop]] for SKEWED keys — the [[greedyBucketed]] segment
   * monoid extended with the loop counters: a segment's effect from
   * entry pointer `s0` is `(exit pointer, per-stage count DELTAS,
   * per-stage last-consumed times)` — increments depend only on the
   * running pointer, never on accumulated counts, so the summary is
   * exact for every entry and composition is pointer lookup + count
   * add + last-time coalesce. K'+1 folds of O(K) metadata per
   * segment, two user-keyed shuffles, per-group memory bounded by the
   * bucket width. Gates on w16's oracle VERBATIM (w17).
   */
  private def loopBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Int)], bucketSeconds: Long): DataFrame = {
    val kx = stages.map(_._2).sum
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)("f" -> transform(sequence(lit(0), lit(kx)), s0 =>
        aggregate(col("evs"), loopInit(stages, s0),
          (st, e) => loopStep(st, e, stages))))
    val merged = aggregate(col("segs"), loopInit(stages, lit(0)),
      (st, seg) => ExprUtil.bound(
          element_at(seg.getField("f"), st.getField("s") + 1)) { f =>
        struct(f.getField("s").as("s"),
          zip_with(st.getField("c"), f.getField("c"), (a, b) => a + b).as("c"),
          zip_with(st.getField("l"), f.getField("l"),
            (a, b) => coalesce(b, a)).as("l"))
      })
    loopOut(stages, merged)(segs)
  }

  // -------------------------------------------------------------------
  // Loop-internal contiguity — Flink CEP's `consecutive()` inside
  // oneOrMore / timesOrMore
  // -------------------------------------------------------------------

  /** One event's transition of the CONSECUTIVE-loop machine. State:
    * `j` — the stage the machine is working on (1..K+1, K+1 = done);
    * `open` — stage j's mandatory block is complete and its loop is
    * still unbroken; `c[i]`/`l[i]` — occurrences consumed / last
    * occurrence time per stage. Run phase (`!open`): a type-j event
    * extends the current RUN (reaching `m_j` opens the loop); any
    * other event RESETS the partial run to zero (strict contiguity
    * inside the block — the l/o lesson applies within the
    * repetition: greedy-earliest over non-consecutive picks would be
    * wrong, so the machine counts maximal runs and the earliest run
    * of length `m_j` is existence-optimal). Open phase: a type-j
    * event absorbs; any other event closes the loop PERMANENTLY and
    * is immediately offered to stage j+1 (relaxed contiguity BETWEEN
    * stages — the breaker may be the next stage's first pick).
    * `reluctant` turns the open-phase absorb into a NO-OP — the
    * consume-mode axis on the consecutive machine: the run phase (and
    * hence the spine and stage_reached) is mode-independent, only
    * reps/last-time stop at the mandatory block. */
  private def consecStep(st: Column, e: Column,
      stages: Seq[(String, Int)], reluctant: Boolean = false): Column = {
    val types = stages.map(_._1)
    val m = stages.map(_._2.toLong)
    val K = types.length
    val j = st.getField("j"); val open = st.getField("open")
    val c = st.getField("c"); val l = st.getField("l")
    val tp = e.getField("tp"); val us = e.getField("us")
    def setC(v: Column, at: Column) =
      transform(c, (x, i) => when(i === at - 1, v).otherwise(x))
    def setL(v: Column, at: Column) =
      transform(l, (x, i) => when(i === at - 1, v).otherwise(x))
    // sentinel row at K+1 keeps element_at in range while done
    val typesX = typedLit(types :+ "")
    val mX = typedLit(m :+ 0L)
    val tpCur = element_at(typesX, j)
    val closeStart = {
      val nj = j + 1
      val tpN = element_at(typesX, least(nj, lit(K + 1)))
      when(nj > K, struct(nj.as("j"), lit(false).as("open"),
        c.as("c"), l.as("l")))
        .otherwise(when(tp === tpN,
          struct(nj.as("j"),
            (element_at(mX, nj) === 1L).as("open"),
            setC(lit(1L), nj).as("c"), setL(us, nj).as("l")))
          .otherwise(struct(nj.as("j"), lit(false).as("open"),
            c.as("c"), l.as("l"))))
    }
    val runStep = {
      val nc = element_at(c, j) + 1L
      when(tp === tpCur,
        struct(j.as("j"), (nc === element_at(mX, j)).as("open"),
          setC(nc, j).as("c"), setL(us, j).as("l")))
        .otherwise(struct(j.as("j"), lit(false).as("open"),
          setC(lit(0L), j).as("c"),
          setL(lit(null).cast("long"), j).as("l")))
    }
    val absorb =
      if (reluctant) st
      else struct(j.as("j"), open.as("open"),
        setC(element_at(c, j) + 1L, j).as("c"), setL(us, j).as("l"))
    when(j > K, st)
      .otherwise(when(open,
        when(tp === tpCur, absorb).otherwise(closeStart))
        .otherwise(runStep))
  }

  private def consecInit(stages: Seq[(String, Int)]): Column =
    struct(lit(1).as("j"), lit(false).as("open"),
      array_repeat(lit(0L), stages.length).as("c"),
      array_repeat(lit(null).cast("long"), stages.length).as("l"))

  private def consecOut(stages: Seq[(String, Int)],
      f: Column): DataFrame => DataFrame = df => df
    .select(col("user_id"), f.as("f"))
    .select(col("user_id") +:
      (col("f.j") - 1 + when(col("f.open"), 1).otherwise(0))
        .as("stage_reached") +:
      stages.indices.flatMap(i => Seq(
        element_at(col("f.c"), i + 1).as(s"reps${i + 1}"),
        element_at(col("f.l"), i + 1).as(s"ts${i + 1}_us"))): _*)

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
   * event for the trailing partial. Same scale shape as
   * [[funnelLoop]]: ONE user-keyed shuffle, O(K) state.
   *
   * `mode` is the [[funnelLoop]] consume-mode axis on the consecutive
   * machine: the run phase (and hence the spine and `stage_reached`) is
   * mode-independent because loop absorption can never consume the
   * next stage's pick (adjacent types differ, the run's remainder is
   * same-type); [[Reluctant]] stops consuming at the mandatory block,
   * so `reps<j>` reports `minReps_j` once complete and `ts<j>_us` the
   * block's m-th (last mandatory) occurrence instead of the run's
   * last absorbed one. The mode rides either route: the segment
   * split's entry-state machinery is mode-independent (a reluctant
   * open-phase segment's count delta is simply zero), so a reluctant
   * call on the skew-safe route is the reluctant segment split, never a
   * silently greedy one. Gates: w38 (greedy), w40 (bucketed), w56/w56b
   * (reluctant), w58 (reluctant, bucketed route).
   */
  def funnelLoopConsecutive(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Int)], mode: ConsumeMode = Greedy,
      route: Route = Single): DataFrame = {
    loopRequire(stages)
    val reluctant = mode == Reluctant
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => consecBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, b, reluctant)
      case None => consecOut(stages, aggregate(col("evs"),
          consecInit(stages), (st, e) => consecStep(st, e, stages, reluctant)))(
        userEvents(events, userCol, tsCol, orderCol, typed(typeCol)))
    }
  }

  /** Entry-state table for the consecutive-loop segment split: per
    * stage j, run states with partial count r = 0..m_j-1, then the
    * open-loop state; DONE last. The partial count is part of the
    * entry state (the run may straddle a segment boundary and the
    * completion test reads the absolute count), which is what bounds
    * the table at Σ(m_j + 1) + 1 entries — counts beyond m_j only
    * occur in the open phase, whose behavior never reads them. */
  private def consecStates(stages: Seq[(String, Int)])
      : Seq[(Int, Int, Boolean)] =
    stages.zipWithIndex.flatMap { case ((_, m), i) =>
      (0 until m).map(r => (i + 1, r, false)) :+ ((i + 1, 0, true))
    } :+ ((stages.length + 1, 0, false))

  /**
   * [[funnelLoopConsecutive]] for SKEWED keys — the segment split.
   * A segment's summary is one [[consecStep]] fold per ENTRY STATE
   * (stage × partial-run-count-or-open — adjacency across segment
   * boundaries is automatic because time buckets partition the ordered
   * stream with nothing in between). Composition is a table lookup
   * plus per-stage merge with REPLACE-vs-ADD semantics derived from
   * the entry state: stages before the entry stage are frozen (keep),
   * the entry stage composes by count-add + last-time-coalesce when
   * entered OPEN (absorption is a pure delta) and by replacement when
   * entered mid-run (the entry partial count seeds the fold, so its
   * outputs are already absolute — and every event in run phase
   * either extends or resets, so the segment always determines the
   * slot), and later stages replace outright (they were untouched
   * zeros at entry, a machine invariant). Bit-identical to the single
   * fold; gates on w38's oracle VERBATIM (w40).
   */
  private def consecBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Int)], bucketSeconds: Long,
      reluctant: Boolean): DataFrame = {
    val K = stages.length
    val m = stages.map(_._2)
    val states = consecStates(stages)
    val S = states.length
    val base = stages.map(_._2 + 1).scanLeft(0)(_ + _) // base(j-1) for stage j
    def exitSid(f: Column): Column =
      (1 to K).foldRight(lit(S - 1): Column) { (jj, els) =>
        when(f.getField("j") === jj,
          lit(base(jj - 1)) + when(f.getField("open"), lit(m(jj - 1)))
            .otherwise(element_at(f.getField("c"), jj).cast("int")))
          .otherwise(els)
      }
    val summaries = array(states.map { case (j0, r0, open0) =>
      val init = struct(lit(j0).as("j"), lit(open0).as("open"),
        array(stages.indices.map(i =>
          lit(if (i == j0 - 1 && !open0 && j0 <= K) r0.toLong else 0L))
          : _*).as("c"),
        array_repeat(lit(null).cast("long"), K).as("l"))
      ExprUtil.bound(aggregate(col("evs"), init,
        (st, e) => consecStep(st, e, stages, reluctant))) { f =>
        struct(exitSid(f).as("x"), f.getField("c").as("c"),
          f.getField("l").as("l"))
      }
    }: _*)
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)("f" -> summaries)
    val zero = struct(lit(0).as("sid"),
      array_repeat(lit(0L), K).as("c"),
      array_repeat(lit(null).cast("long"), K).as("l"))
    val merged = aggregate(col("segs"), zero, (st, seg) =>
      ExprUtil.bound(element_at(seg.getField("f"),
          st.getField("sid") + 1)) { sel =>
        def ruleFor(s: Int): Column = {
          val (j0, _, open0) = states(s)
          val cs = (1 to K).map { i =>
            if (i < j0) element_at(st.getField("c"), i)
            else if (i == j0 && open0)
              element_at(st.getField("c"), i) +
                element_at(sel.getField("c"), i)
            else element_at(sel.getField("c"), i)
          }
          val ls = (1 to K).map { i =>
            if (i < j0) element_at(st.getField("l"), i)
            else if (i == j0 && open0)
              coalesce(element_at(sel.getField("l"), i),
                element_at(st.getField("l"), i))
            else element_at(sel.getField("l"), i)
          }
          struct(sel.getField("x").as("sid"),
            array(cs: _*).as("c"), array(ls: _*).as("l"))
        }
        states.indices.tail.foldLeft(ruleFor(0)) { (acc, s) =>
          when(st.getField("sid") === s, ruleFor(s)).otherwise(acc)
        }
      })
    // decode (j, open) back from the final sid for the shared output
    val decoded = ExprUtil.bound(merged) { mg =>
      val sid = mg.getField("sid")
      val j = states.indices.tail.foldLeft(lit(states(0)._1): Column) {
        (acc, s) => when(sid === s, lit(states(s)._1)).otherwise(acc) }
      val open = states.indices.tail.foldLeft(lit(states(0)._3): Column) {
        (acc, s) => when(sid === s, lit(states(s)._3)).otherwise(acc) }
      struct(j.as("j"), open.as("open"), mg.getField("c").as("c"),
        mg.getField("l").as("l"))
    }
    consecOut(stages, decoded)(segs)
  }

  // -------------------------------------------------------------------
  // Loop boundary condition — Flink CEP's `until`
  // -------------------------------------------------------------------

  /** Which FULL stage the machine is "in" at pointer `s`: the stage
    * whose loop is open at a block boundary, else the stage owning the
    * next mandatory slot. Stage 1 is current from the log's start
    * (the pointer begins inside its block); every later stage becomes
    * current at its own first pick — an event in the gap before that
    * pick belongs to the PREVIOUS stage's open loop. */
  private def curOfTable(stages: Seq[(String, Int)]): Seq[Int] = {
    val (expanded, _, subOf, loopOf) = loopTables(stages)
    (0 to expanded.length).map(s =>
      if (loopOf(s) > 0) loopOf(s) else subOf(s))
  }

  /** One event's transition of the loop fold WITH `until` boundaries.
    * State = [[loopStep]]'s (s, c, l) plus one boolean `x`: the
    * CURRENT stage's repetition is closed. An until event of the
    * current stage sets it; crossing into a new full stage clears it.
    * While set: mid-block mandatory advances are blocked (the pattern
    * STALLS — the block can never complete) and boundary absorption
    * stops; a boundary advance into the NEXT stage stays allowed
    * (Flink's `until` ends the loop, not the pattern). The until
    * check runs AFTER the advance on the pre-state pointer's event,
    * so an event that advances into stage j and is also stage j's
    * until type closes j immediately — deterministic, spec-pinned. */
  private def loopUntilStep(st: Column, e: Column,
      stages: Seq[(String, Int)], untils: Seq[Option[String]],
      reluctant: Boolean = false): Column = {
    val (expanded, _, subOf, loopOf) = loopTables(stages)
    val kx = expanded.length
    val curOf = curOfTable(stages)
    val untilOf = untils.map(_.getOrElse(""))
    val s = st.getField("s"); val c = st.getField("c")
    val l = st.getField("l"); val x = st.getField("x")
    val tp = e.getField("tp"); val us = e.getField("us")
    val curJ = element_at(typedLit(curOf), s + 1)
    val advT = s < kx && tp === element_at(typedLit(expanded), s + 1)
    val jAdv = element_at(typedLit(subOf), s + 1)
    // a mid-block advance targets the current stage itself — blocked
    // once the stage's repetition is closed; a boundary advance
    // targets the next stage and stays allowed
    val adv = advT && (jAdv =!= curJ || !x)
    val jLoop = element_at(typedLit(loopOf), s + 1)
    // reluctant consume mode: the open loop never absorbs — the spine
    // (and the until close/stall machinery, which reads only the
    // pointer and the bit) is mode-independent
    val absorb = (if (reluctant) lit(false) else lit(true)) &&
      jLoop > 0 && !x &&
      tp === element_at(typedLit(stages.map(_._1)), jLoop)
    def next(sNew: Column, j: Column) = (sNew,
      transform(c, (v, i) => when(i === j - 1, v + 1L).otherwise(v)),
      transform(l, (v, i) => when(i === j - 1, us).otherwise(v)))
    val (s1, c1, l1) =
      (when(adv, s + 1).otherwise(s),
        when(adv, next(s + 1, jAdv)._2)
          .otherwise(when(absorb, next(s, jLoop)._2).otherwise(c)),
        when(adv, next(s + 1, jAdv)._3)
          .otherwise(when(absorb, next(s, jLoop)._3).otherwise(l)))
    val newCurJ = element_at(typedLit(curOf), s1 + 1)
    val xCarried = when(newCurJ === curJ, x).otherwise(lit(false))
    val x1 = xCarried ||
      tp === element_at(typedLit(untilOf), newCurJ)
    struct(s1.as("s"), c1.as("c"), l1.as("l"), x1.as("x"))
  }

  private def loopUntilInit(stages: Seq[(String, Int)], entry: Column,
      entryX: Column): Column =
    struct(entry.as("s"),
      array_repeat(lit(0L), stages.length).as("c"),
      array_repeat(lit(null).cast("long"), stages.length).as("l"),
      entryX.as("x"))

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
   * at the first `untilType_j` event while the stage is current
   * ([[curOfTable]]'s interval — from the stage's first pick, or the
   * log's start for stage 1, to the next stage's first pick). A close
   * during the mandatory block STALLS the pattern at that stage (the
   * block can never complete — Flink's reading: the loop stops
   * accepting, and a partial block is unfinishable); a close while
   * the loop is open only stops absorption — the spine still advances.
   * Output schema identical to [[funnelLoop]]; same ONE user-keyed
   * shuffle, state = pointer + 2K slots + one boolean. Skew-safe
   * route: [[untilBucketed]] (w32).
   *
   * `mode` is the [[funnelLoop]] consume-mode axis on the until-bounded
   * loop. Reluctant keeps the ENTIRE until machinery — mid-block closes
   * still stall the pattern (they gate mandatory advances, which both
   * modes make identically) — and only stops loop absorption, so
   * `reps<j>` caps at `minReps_j` and `ts<j>_us` is the block's last
   * mandatory pick. Count deltas stay exact on the skew-safe route (a
   * reluctant open segment's delta is zero). Gates: w57/w57b.
   */
  def funnelLoopUntil(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String,
      stages: Seq[(String, Int, Option[String])],
      mode: ConsumeMode = Greedy, route: Route = Single): DataFrame = {
    untilRequire(stages)
    val mstages = stages.map { case (t, m, _) => (t, m) }
    val untils = stages.map(_._3)
    val reluctant = mode == Reluctant
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => untilBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, b, reluctant)
      case None => loopOut(mstages, aggregate(col("evs"),
          loopUntilInit(mstages, lit(0), lit(false)),
          (st, e) => loopUntilStep(st, e, mstages, untils, reluctant)))(
        userEvents(events, userCol, tsCol, orderCol, typed(typeCol)))
    }
  }

  /**
   * [[funnelLoopUntil]] for SKEWED keys — the [[loopBucketed]]
   * count-delta segment monoid with the entry state DOUBLED: a
   * segment's effect is a function of (entry pointer, entry
   * closed-bit), so each bucket folds 2·(K'+1) slots and the merge
   * indexes by both. Count deltas stay exact (absorption decisions
   * read the pointer and the bit, never accumulated counts). Gates on
   * w31's oracle VERBATIM (w32).
   */
  private def untilBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Int, Option[String])],
      bucketSeconds: Long, reluctant: Boolean): DataFrame = {
    val mstages = stages.map { case (t, m, _) => (t, m) }
    val untils = stages.map(_._3)
    val kx = mstages.map(_._2).sum
    // slot layout: entry = 2*s0 + xBit, for s0 in 0..kx
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)("f" ->
        transform(sequence(lit(0), lit(2 * kx + 1)), entry =>
          aggregate(col("evs"),
            loopUntilInit(mstages,
              ((entry - pmod(entry, lit(2))) / lit(2)).cast("int"),
              pmod(entry, lit(2)) === 1),
            (st, e) => loopUntilStep(st, e, mstages, untils,
              reluctant))))
    val merged = aggregate(col("segs"),
      loopUntilInit(mstages, lit(0), lit(false)),
      (st, seg) => ExprUtil.bound(
          element_at(seg.getField("f"),
            st.getField("s") * 2 + when(st.getField("x"), 1).otherwise(0) + 1)) { f =>
        struct(f.getField("s").as("s"),
          zip_with(st.getField("c"), f.getField("c"), (a, b) => a + b).as("c"),
          zip_with(st.getField("l"), f.getField("l"),
            (a, b) => coalesce(b, a)).as("l"),
          f.getField("x").as("x"))
      })
    loopOut(mstages, merged)(segs)
  }

  /** One event's transition of the CAPPED segment fold
    * ([[rangeBucketed]]). State: the pointer `s` plus, per
    * stage, the ordered LIST of consumed-event times `ll[j]` truncated
    * at the stage's cap — lists, not count deltas, because with a cap
    * a segment's usable absorptions depend on how many slots earlier
    * segments already used: the merge takes the FIRST (cap − used)
    * of the segment's own first-cap list, which is exact because the
    * pointer trajectory (and therefore each segment's eligible-event
    * sequence) never reads counts. Mandatory advances always record
    * (a block in progress implies the accumulated count is below
    * minReps ≤ cap, so truncation can never drop a spine event). */
  private def rangeSegStep(st: Column, e: Column,
      stages: Seq[(String, Int)], caps: Seq[Int]): Column = {
    val (expanded, _, subOf, loopOf) = loopTables(stages)
    val kx = expanded.length
    val s = st.getField("s"); val ll = st.getField("ll")
    val tp = e.getField("tp"); val us = e.getField("us")
    val adv = s < kx && tp === element_at(typedLit(expanded), s + 1)
    val jAdv = element_at(typedLit(subOf), s + 1)
    val jLoop = element_at(typedLit(loopOf), s + 1)
    val belowCap = jLoop > 0 &&
      size(element_at(ll, jLoop)) < element_at(typedLit(caps), jLoop)
    val absorb = belowCap &&
      tp === element_at(typedLit(stages.map(_._1)), jLoop)
    def push(j: Column) = transform(ll, (x, i) =>
      when(i === j - 1, concat(x, array(us))).otherwise(x))
    when(adv, struct((s + 1).as("s"), push(jAdv).as("ll")))
      .otherwise(when(absorb, struct(s.as("s"), push(jLoop).as("ll")))
        .otherwise(st))
  }

  private def rangeSegInit(stages: Seq[(String, Int)],
      entry: Column): Column =
    struct(entry.as("s"),
      array_repeat(typedLit(Seq.empty[Long]), stages.length).as("ll"))

  /**
   * [[funnelTimesRange]] for SKEWED keys — the [[loopBucketed]]
   * segment monoid with the cap: per-bucket folds precompute the
   * capped consumed-time lists for every entry pointer, and merging
   * concatenates-then-truncates each stage's list at its cap (exact —
   * see [[rangeSegStep]]). Gates on w18's oracle VERBATIM (w19); the
   * extra state vs the count-delta loop summary is ≤ Σ caps longs per
   * (segment, entry pointer), still bucket-width-bounded.
   */
  private def rangeBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Int, Int)], bucketSeconds: Long): DataFrame = {
    val mstages = stages.map { case (t, m, _) => (t, m) }
    val caps = stages.map(_._3)
    val k = stages.length
    val kx = mstages.map(_._2).sum
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)("f" -> transform(sequence(lit(0), lit(kx)), s0 =>
        aggregate(col("evs"), rangeSegInit(mstages, s0),
          (st, e) => rangeSegStep(st, e, mstages, caps))))
    val merged = aggregate(col("segs"), rangeSegInit(mstages, lit(0)),
      (st, seg) => ExprUtil.bound(
          element_at(seg.getField("f"), st.getField("s") + 1)) { f =>
        struct(f.getField("s").as("s"),
          transform(sequence(lit(1), lit(k)), j =>
            slice(concat(element_at(st.getField("ll"), j),
                element_at(f.getField("ll"), j)),
              lit(1), element_at(typedLit(caps), j))).as("ll"))
      })
    val asLoop = struct(merged.getField("s").as("s"),
      transform(merged.getField("ll"), x => size(x).cast("long")).as("c"),
      transform(merged.getField("ll"), x =>
        when(size(x) > 0, element_at(x, -1))).as("l"))
    loopOut(mstages, asLoop)(segs)
  }

  // -------------------------------------------------------------------
  // Windowed funnel — Flink CEP's `within(T)` time bound
  // -------------------------------------------------------------------

  /** One event's transition of the windowed-funnel DP state. The state
    * is `B[1..k]`: the MAX window-start time (stage-1 event time) among
    * partial matches currently at stage j, NULL when none — max-start
    * DOMINATES (a later start has a later deadline `start + T`, so
    * every completion feasible for an earlier start is feasible for it),
    * which is what makes k nullable longs a lossless state. Greedy
    * alone is WRONG under a time bound (the earliest stage-1 pick can
    * expire while a later restart completes — the classic CEP-window
    * trap, spec-pinned); the DP considers every restart. Transitions
    * read the PRE-event vector, so an event never extends a chain
    * containing itself even when the pattern repeats a type. */
  private def withinStep(st: Column, e: Column, k: Int,
      stages: Seq[String], windowMicros: Long): Column =
    array((1 to k).map { j =>
      val cur = element_at(st, j)
      if (j == 1)
        when(e.getField("tp") === lit(stages(0)),
          greatest(cur, e.getField("us"))).otherwise(cur)
      else {
        val prev = element_at(st, j - 1)
        when(e.getField("tp") === lit(stages(j - 1)) && prev.isNotNull &&
            e.getField("us") <= prev + lit(windowMicros),
          greatest(cur, prev)).otherwise(cur)
      }
    }: _*)

  /** Project the DP vector to the output struct: `stage_reached` is
    * the count of non-null slots (set slots are a prefix — stage j
    * requires stage j-1), `win_start_us` the max feasible window start
    * among partials reaching that stage (deterministic, integer-exact,
    * SQL-replayable by k chained picks). */
  private def withinOut(b: Column, k: Int): Column =
    ExprUtil.bound(b) { v =>
      ExprUtil.bound(size(filter(v, x => x.isNotNull))) { sr =>
        struct(sr.as("stage_reached"),
          when(sr > 0, element_at(v, sr)).as("win_start_us"))
      }
    }

  /**
   * [[funnel]] with Flink CEP's `within` constraint: a match counts
   * only if every stage completes within `windowMicros` of ITS OWN
   * stage-1 event. `stage_reached` = the longest stage prefix some
   * in-window chain reaches; `win_start_us` = the latest stage-1 time
   * among chains reaching it.
   *
   * Same scale shape as [[funnel]]: ONE user-keyed shuffle, then a
   * per-user expression fold — state is k nullable longs whatever the
   * event count (the window adds restarts, not state). The oracle
   * replays it as k-1 chained total-order joins with the window
   * predicate on every hop (w8); skew-safe route: [[withinBucketed]]
   * (w9).
   */
  def funnelWithin(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[String],
      windowMicros: Long, route: Route = Single): DataFrame = {
    val k = stages.length
    require(k >= 1 && windowMicros > 0, "need stages and windowMicros > 0")
    val init = array_repeat(lit(null).cast("long"), k)
    val folded = aggregate(col("evs"), init,
      (b, e) => withinStep(b, e, k, stages, windowMicros))
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => withinBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, windowMicros, b)
      case None => userEvents(events, userCol, tsCol, orderCol, typed(typeCol))
        .select(col("user_id"), withinOut(folded, k).as("f"))
        .select(col("user_id"), col("f.stage_reached"), col("f.win_start_us"))
    }
  }

  /**
   * [[funnelWithin]] for SKEWED keys — the [[greedyBucketed]] segment
   * split carried over to the windowed DP. A segment's effect on the
   * state vector is captured by THREE bounded summaries (the
   * "window-start slot" the unconstrained monoid lacked):
   *
   *   - `S[j]`   — the in-segment windowed DP: max start of a chain
   *     that BEGINS and reaches stage j inside this segment;
   *   - `F[i]`   — the greedy-earliest fold from entry stage i
   *     ([[foldFrom]]): its witnesses give `E[i][j]`, the EARLIEST
   *     time any i→j chain inside the segment completes. A carried
   *     partial with start `B[i]` can cross the segment to stage j
   *     iff `E[i][j] ≤ B[i] + T` (greedy-earliest minimizes every
   *     prefix's completion time, so the check is exact);
   *   - composition keeps, per stage, the max start over {carried,
   *     extended, fresh} — the same dominance argument as the plain
   *     DP, so bucketed ≡ plain bit-for-bit (spec + w9 gate verbatim).
   *
   * Two user-keyed shuffles, per-group memory bounded by the bucket
   * width; the merge state is k nullable longs and each segment
   * summary is O(k²) metadata.
   */
  private def withinBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String], windowMicros: Long,
      bucketSeconds: Long): DataFrame = {
    val k = stages.length
    val init = array_repeat(lit(null).cast("long"), k)
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)(
      "sdp" -> aggregate(col("evs"), init,
        (b, e) => withinStep(b, e, k, stages, windowMicros)),
      // k == 1 has no crossing chains to summarize — and Spark's
      // sequence(1, 0) counts DOWN to [1, 0], so the transform must
      // not run at all (the same descending-sequence trap as
      // BpeTrain.charsOf)
      "ff" -> (if (k == 1) array().cast("array<struct<s:int,w:array<bigint>>>")
        else transform(sequence(lit(1), lit(k - 1).cast("int")),
          i => foldFrom(col("evs"), i, k, stages))))
    val merged = aggregate(col("segs"), init, (b, seg) =>
      array((1 to k).map { j =>
        val fresh = element_at(seg.getField("sdp"), j)
        val carried = element_at(b, j)
        val extended = (1 until j).map { i =>
          val f = element_at(seg.getField("ff"), i) // entry stage i
          val bi = element_at(b, i)
          when(bi.isNotNull && f.getField("s") >= j &&
              element_at(f.getField("w"), j - i) <= bi + lit(windowMicros),
            bi)
        }
        greatest((Seq(fresh, carried) ++ extended): _*)
      }: _*))
    segs.select(col("user_id"), withinOut(merged, k).as("f"))
      .select(col("user_id"), col("f.stage_reached"), col("f.win_start_us"))
  }

  // -------------------------------------------------------------------
  // Guarded funnel — Flink CEP's notFollowedBy INSIDE a pattern
  // -------------------------------------------------------------------

  /** One event's transition of the guarded-funnel NFA state: `o[j]` =
    * some chain is OPEN at stage j with no blocker since its last
    * matched event; `e[j]` = stage j was EVER reached by a clean
    * chain (sticky — a blocker after reaching j does not undo it).
    * Per event: advances read the PRE state (the event that ends a
    * gap is not "between"), then a gap's blocker kills the still-open
    * partials at its left stage — including, by the same pre-state
    * rule, none of the partials this very event just created.
    * Partials are independent chains, so k booleans per vector are a
    * lossless state (no witness interaction). */
  private def guardedStep(st: Column, e: Column, k: Int,
      stages: Seq[String], notBetween: Seq[Option[String]]): Column = {
    val tp = e.getField("tp")
    val op = st.getField("o")
    val ev = st.getField("e")
    def adv(j: Int): Column =
      if (j == 1) tp === lit(stages(0))
      else tp === lit(stages(j - 1)) && element_at(op, j - 1)
    val newO = array((1 to k).map { j =>
      val kill =
        if (j < k) notBetween(j - 1).map(b => tp === lit(b))
          .getOrElse(lit(false))
        else lit(false)
      adv(j) || (element_at(op, j) && !kill)
    }: _*)
    val newE = array((1 to k).map { j =>
      element_at(ev, j) || adv(j)
    }: _*)
    struct(newO.as("o"), newE.as("e"))
  }

  private def guardedInit(k: Int, openAt: Column): Column = {
    val o = transform(sequence(lit(1), lit(k)),
      j => j === openAt)
    struct(o.as("o"), array_repeat(lit(false), k).as("e"))
  }

  private def guardedOut(st: Column, k: Int): Column =
    size(filter(st.getField("e"), x => x))

  /**
   * [[funnel]] with NEGATIVE conditions between stages — Flink CEP's
   * `notFollowedBy` inside a pattern: stage j+1 only matches via a
   * chain whose gap since its stage-j event contains NO event of the
   * gap's blocker type (`notBetween(j-1)`, None = unguarded). The
   * canonical "view → click → purchase with no error in between".
   * Greedy is WRONG here too (the earliest stage-1 pick can be
   * poisoned by a blocker while a later restart stays clean), so this
   * runs the NFA existence fold: 2k booleans of state, any restart
   * count, one user-keyed shuffle. `stage_reached` = the longest
   * stage prefix some clean chain ever reached. The oracle replays it
   * as chained total-order joins with a NOT EXISTS blocker probe on
   * every hop (w10); skew-safe route: [[guardedBucketed]] (w11).
   */
  def funnelGuarded(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[String],
      notBetween: Seq[Option[String]], route: Route = Single): DataFrame = {
    val k = stages.length
    require(k >= 1 && notBetween.length == k - 1,
      "need stages and one (optional) blocker per gap")
    val folded = aggregate(col("evs"), guardedInit(k, lit(0)),
      (st, e) => guardedStep(st, e, k, stages, notBetween))
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => guardedBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, notBetween, b)
      case None => userEvents(events, userCol, tsCol, orderCol, typed(typeCol))
        .select(col("user_id"), guardedOut(folded, k).as("stage_reached"))
    }
  }

  /**
   * [[funnelGuarded]] for SKEWED keys. The NFA is a UNION of
   * independent chains, so a segment's effect is linear over the
   * entry vector in the boolean semiring: folding the segment from
   * each unit entry vector (and from zero, for fresh in-segment
   * starts — `entry 0` below) yields `F_i = (o, e)` with
   * `out_o[j] = ⋁_i (in_o[i] ∧ F_i.o[j]) ∨ F_0.o[j]` and the sticky
   * bits accumulating the same way — k+1 folds of O(k) metadata per
   * segment, composed in bucket order. Gates verbatim on w10's
   * oracle (w11).
   */
  private def guardedBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String], notBetween: Seq[Option[String]],
      bucketSeconds: Long): DataFrame = {
    val k = stages.length
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)("f" -> transform(sequence(lit(0), lit(k)), entry =>
        aggregate(col("evs"), guardedInit(k, entry),
          (st, e) => guardedStep(st, e, k, stages, notBetween))))
    // merge state = the same (o, e) pair; F at index entry+1 (entry 0
    // = fresh starts, entry i = unit vector at stage i)
    val zero = struct(array_repeat(lit(false), k).as("o"),
      array_repeat(lit(false), k).as("e"))
    val merged = aggregate(col("segs"), zero, (st, seg) => {
      val f = seg.getField("f")
      def fAt(i: Int) = element_at(f, i + 1)
      val o = array((1 to k).map { j =>
        (1 to j).map(i => element_at(st.getField("o"), i) &&
            element_at(fAt(i).getField("o"), j))
          .foldLeft(element_at(fAt(0).getField("o"), j))(_ || _)
      }: _*)
      val e = array((1 to k).map { j =>
        (1 to j).map(i => element_at(st.getField("o"), i) &&
            element_at(fAt(i).getField("e"), j))
          .foldLeft(element_at(st.getField("e"), j) ||
            element_at(fAt(0).getField("e"), j))(_ || _)
      }: _*)
      struct(o.as("o"), e.as("e"))
    })
    segs.select(col("user_id"), guardedOut(merged, k).as("stage_reached"))
  }

  // -------------------------------------------------------------------
  // Combined within(T) + guards — the full CEP constraint product
  // -------------------------------------------------------------------

  /** One event's transition of the COMBINED windowed+guarded DP. The
    * state is two k-vectors of window starts: `b[j]` — the max start
    * among chains currently ALIVE at stage j (clean tail gap, all
    * picks in-window), killable by a gap blocker; `m[j]` — the sticky
    * max start among chains that EVER reached stage j (the
    * observable). Max-start dominance survives the guards because a
    * blocker kills every alive partial at its stage equally — the
    * start value never discriminates — so k nullable longs per vector
    * stay lossless. An advance reads the PRE vector (no
    * self-extension; a gap's matched endpoint is not "between"), and
    * a killing blocker leaves exactly the partial this event just
    * advanced (if any), not a max with the dead ones. */
  private def withinGuardedStep(st: Column, e: Column, k: Int,
      stages: Seq[String], notBetween: Seq[Option[String]],
      windowMicros: Long): Column = {
    val b = st.getField("b")
    val m = st.getField("m")
    val tp = e.getField("tp")
    val us = e.getField("us")
    def advVal(j: Int): Column =
      if (j == 1) when(tp === lit(stages(0)), us)
      else {
        val prev = element_at(b, j - 1)
        when(tp === lit(stages(j - 1)) && prev.isNotNull &&
          us <= prev + lit(windowMicros), prev)
      }
    val nb = array((1 to k).map { j =>
      val kill =
        if (j < k) notBetween(j - 1).map(x => tp === lit(x))
          .getOrElse(lit(false))
        else lit(false)
      when(kill, advVal(j))
        .otherwise(greatest(element_at(b, j), advVal(j)))
    }: _*)
    val nm = array((1 to k).map { j =>
      greatest(element_at(m, j), advVal(j))
    }: _*)
    struct(nb.as("b"), nm.as("m"))
  }

  /**
   * [[funnelWithin]] AND [[funnelGuarded]] composed — the full
   * production CEP constraint: stages complete within `windowMicros`
   * of their own stage-1 event AND no gap contains its blocker type
   * ("convert within 2 h with no error in between"). Both failure
   * modes demand restart-aware folding, so the DP carries the
   * windowed max-start vector with guard kills layered on
   * (see [[withinGuardedStep]]). `stage_reached` counts stages EVER
   * reached by a clean in-window chain (sticky); `win_start_us` is
   * the latest start among chains reaching it. One user-keyed
   * shuffle, 2k longs of state. Skew-safe route:
   * [[withinGuardedBucketed]] (w15).
   */
  def funnelWithinGuarded(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String], windowMicros: Long,
      notBetween: Seq[Option[String]], route: Route = Single): DataFrame = {
    val k = stages.length
    require(k >= 1 && windowMicros > 0 && notBetween.length == k - 1,
      "need stages, windowMicros > 0, one (optional) blocker per gap")
    val nulls = array_repeat(lit(null).cast("long"), k)
    val folded = aggregate(col("evs"),
      struct(nulls.as("b"), nulls.as("m")),
      (st, e) => withinGuardedStep(st, e, k, stages, notBetween,
        windowMicros))
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => withinGuardedBucketed(events, userCol, typeCol,
        tsCol, orderCol, stages, windowMicros, notBetween, b)
      case None => userEvents(events, userCol, tsCol, orderCol, typed(typeCol))
        .select(col("user_id"), withinOut(folded.getField("m"), k).as("f"))
        .select(col("user_id"), col("f.stage_reached"), col("f.win_start_us"))
    }
  }

  /** Sentinel "this alive chain's last pick PRECEDES the segment" for
    * the entry-seeded min-completion DP below — smaller than any real
    * epoch-micros, so `least` keeps it as the representative and a
    * surviving untouched entry is recognizable at segment end. */
  private val EnteredBefore = Long.MinValue / 2

  /** One event's transition of the ENTRY-SEEDED min-completion DP — the
    * segment summary [[withinGuardedBucketed]] needs. For a
    * partial entering the segment at stage `i`, track per stage j:
    * `r[j]` = the MIN last-pick time among chains from the entry
    * currently ALIVE at j (clean tail gap — guard kills null it;
    * [[EnteredBefore]] for the untouched entry itself), and `ev[j]` =
    * the sticky min time any such chain EVER reached j. No window
    * checks here and no fresh stage-1 seeding: every pick of such a
    * chain is ≤ its last pick, so window feasibility against an entry
    * start B reduces to `last ≤ B + T` at merge time, and fresh starts
    * are the separate [[withinGuardedStep]] fold. Min is a lossless
    * representative because all alive chains at a stage share their
    * clean tail (kills are uniform and any of them extends at the same
    * events). */
  private def entryMinStep(st: Column, e: Column, k: Int,
      stages: Seq[String], notBetween: Seq[Option[String]]): Column = {
    val r = st.getField("r")
    val ev = st.getField("ev")
    val tp = e.getField("tp")
    val us = e.getField("us")
    def advAt(j: Int): Column =
      if (j == 1) lit(null).cast("long") // no fresh seeding
      else when(tp === lit(stages(j - 1)) &&
        element_at(r, j - 1).isNotNull, us)
    val nr = array((1 to k).map { j =>
      val kill =
        if (j < k) notBetween(j - 1).map(x => tp === lit(x))
          .getOrElse(lit(false))
        else lit(false)
      when(kill, advAt(j)).otherwise(least(element_at(r, j), advAt(j)))
    }: _*)
    val nev = array((1 to k).map { j =>
      least(element_at(ev, j), advAt(j))
    }: _*)
    struct(nr.as("r"), nev.as("ev"))
  }

  /**
   * [[funnelWithinGuarded]] for SKEWED keys — the segment split for
   * the combined constraint, whose summary is genuinely richer than
   * either single-constraint twin's:
   *
   *   - `fresh` — the plain combined DP from empty state: alive and
   *     sticky max-start vectors for chains born inside the segment;
   *   - `ent[i]` (i = 1..k-1) — the [[entryMinStep]] fold seeded at
   *     stage i: `r[j]` is the min last-pick among entry chains ALIVE
   *     at j at segment end (so their tail gap is clean through the
   *     boundary — the clean-suffix requirement a crossing chain
   *     must satisfy), `ev[j]` the sticky min completion. A carried
   *     start `B[i]` extends to stage j across the segment iff
   *     `r[j] ≤ B[i] + T` (alive) / ever-reaches iff `ev[j] ≤ B[i]+T`
   *     (sticky) — exact, because every pick ≤ the last pick;
   *   - composition keeps per stage the max start over {fresh,
   *     surviving carried (entry untouched, [[EnteredBefore]] at its
   *     own slot; stage-k entries have no gap and always survive),
   *     extended carried} — max-start dominance survives the guards
   *     (kills are uniform across starts).
   *
   * Gates verbatim on w14's oracle (w15); spec proves bucketed ≡
   * plain on random logs at 1-second segments.
   */
  private def withinGuardedBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String], windowMicros: Long,
      notBetween: Seq[Option[String]], bucketSeconds: Long): DataFrame = {
    val k = stages.length
    val nulls = array_repeat(lit(null).cast("long"), k)
    def entryInit(i: Int): Column =
      struct(array((1 to k).map(j =>
        if (j == i) lit(EnteredBefore) else lit(null).cast("long")): _*)
        .as("r"), nulls.as("ev"))
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)(
      "fresh" -> aggregate(col("evs"), struct(nulls.as("b"), nulls.as("m")),
        (st, e) => withinGuardedStep(st, e, k, stages, notBetween,
          windowMicros)),
      "ent" -> array((1 until k).map(i =>
        aggregate(col("evs"), entryInit(i),
          (st, e) => entryMinStep(st, e, k, stages, notBetween))): _*))
    val merged = aggregate(col("segs"),
      struct(nulls.as("b"), nulls.as("m")), (st, seg) => {
      val b = st.getField("b")
      val m = st.getField("m")
      val fresh = seg.getField("fresh")
      def ent(i: Int) = element_at(seg.getField("ent"), i)
      val nb = array((1 to k).map { j =>
        val carried =
          if (j == k) Seq(element_at(b, k)) // stage-k entries never die
          else Seq(when(element_at(ent(j).getField("r"), j).isNotNull,
            element_at(b, j)))
        val extended = (1 until j).map { i =>
          val rj = element_at(ent(i).getField("r"), j)
          val bi = element_at(b, i)
          when(bi.isNotNull && rj.isNotNull &&
            rj <= bi + lit(windowMicros), bi)
        }
        greatest((element_at(fresh.getField("b"), j) +:
          (carried ++ extended)): _*)
      }: _*)
      val nm = array((1 to k).map { j =>
        val extended = (1 until j).map { i =>
          val evj = element_at(ent(i).getField("ev"), j)
          val bi = element_at(b, i)
          when(bi.isNotNull && evj.isNotNull &&
            evj <= bi + lit(windowMicros), bi)
        }
        greatest((element_at(m, j) +:
          element_at(fresh.getField("m"), j) +: extended): _*)
      }: _*)
      struct(nb.as("b"), nm.as("m"))
    })
    segs.select(col("user_id"), withinOut(merged.getField("m"), k).as("f"))
      .select(col("user_id"), col("f.stage_reached"), col("f.win_start_us"))
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

  /** One event's transition of the contiguity NFA. State per stage j:
    * `l[j]` — some chain's prefix-j match ENDS at the immediately
    * previous event; `o[j]` — some chain alive at stage j matched
    * STRICTLY BEFORE the previous event; `ts[j]` — the first event
    * time at which stage j was actually matched (sticky, the
    * observable). The l/o split is what `next`/`notNext` need and the
    * plain boolean NFA ([[guardedStep]]) cannot express: a strict hop
    * may only extend an l-chain, and a notNext blocker kills exactly
    * the l-chains (an o-chain's successor event has already passed
    * clean). Advances read the PRE state (the guarded-fold rule: an
    * event never extends or kills the partials it just created).
    * Chains are independent, so 2k booleans + k longs are lossless. */
  private def patternStep(st: Column, e: Column,
      stages: Seq[PatternStage]): Column = {
    val k = stages.length
    val tp = e.getField("tp")
    val l = st.getField("l")
    val o = st.getField("o")
    val ts = st.getField("ts")
    // prefix-j chains ending at the immediately previous event,
    // allowing optional-stage skips; j = 0 is the empty prefix, which
    // ends everywhere
    def effLast(j: Int): Column =
      if (j == 0) lit(true)
      else if (stages(j - 1).optional) element_at(l, j) || effLast(j - 1)
      else element_at(l, j)
    // prefix-j chains matched anywhere strictly before this event
    def effAny(j: Int): Column =
      if (j == 0) lit(true)
      else if (stages(j - 1).optional)
        element_at(l, j) || element_at(o, j) || effAny(j - 1)
      else element_at(l, j) || element_at(o, j)
    def adv(j: Int): Column = {
      val tOk = tp === lit(stages(j - 1).tp)
      if (j == 1) tOk
      else if (stages(j - 1).strict) tOk && effLast(j - 1)
      else tOk && effAny(j - 1)
    }
    val newL = array((1 to k).map(adv): _*)
    val newO = array((1 to k).map { j =>
      val killed = stages(j - 1).notNextAfter
        .map(x => tp === lit(x)).getOrElse(lit(false))
      element_at(o, j) || (element_at(l, j) && !killed)
    }: _*)
    val newTs = array((1 to k).map { j =>
      coalesce(element_at(ts, j), when(adv(j), e.getField("us")))
    }: _*)
    struct(newL.as("l"), newO.as("o"), newTs.as("ts"))
  }

  /** Entry state for the contiguity NFA: 0 = all-empty (fresh starts
    * only), 1..k = unit l[entry], k+1..2k = unit o[entry-k]. */
  private def patternInit(k: Int, entry: Column): Column = {
    val lInit = transform(sequence(lit(1), lit(k)), j => j === entry)
    val oInit = transform(sequence(lit(1), lit(k)), j => j + lit(k) === entry)
    struct(lInit.as("l"), oInit.as("o"),
      array_repeat(lit(null).cast("long"), k).as("ts"))
  }

  /** Observable projection: `stage_reached` = the longest SATISFIABLE
    * stage prefix (prefix j is satisfiable when stage j was actually
    * matched, or stage j is optional and prefix j-1 is satisfiable —
    * monotone by chain restriction, so the sum is the max prefix) plus
    * the per-stage first actual-match times. */
  private def patternOut(f: Column, stages: Seq[PatternStage]): Column = {
    val k = stages.length
    val ts = f.getField("ts")
    def sat(j: Int): Column =
      if (j == 0) lit(true)
      else if (stages(j - 1).optional)
        element_at(ts, j).isNotNull || sat(j - 1)
      else element_at(ts, j).isNotNull
    val reached = (1 to k).map(j => when(sat(j), 1).otherwise(0))
      .reduce(_ + _)
    struct(reached.as("stage_reached") +:
      (1 to k).map(j => element_at(ts, j).as(s"ts${j}_us")): _*)
  }

  /**
   * [[funnel]] with the remaining Flink CEP Pattern combinators —
   * STRICT contiguity (`next`), `notNext` gap guards and `optional`
   * stages, per [[PatternStage]]. Greedy is wrong under every one of
   * them (the earliest stage-1 pick can sit in a dead immediate slot,
   * be poisoned by its successor, or force a skip a later restart
   * doesn't need — FunnelSpec pins each trap), so this runs the l/o
   * NFA existence fold ([[patternStep]]): 2k booleans + k first-reach
   * longs of state, any restart count, ONE user-keyed shuffle.
   * Output: `stage_reached` (longest satisfiable prefix, optional
   * skips counted) and `ts<j>_us` = the first event time at which
   * stage j was ACTUALLY matched (NULL when only ever skipped). The
   * oracle replays it as chained total-order joins whose hop
   * predicates are immediate-successor probes (NOT EXISTS an event
   * strictly between) and immediate-successor blocker probes (w20);
   * skew-safe route: [[patternBucketed]] (w21).
   */
  def funnelPattern(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String,
      stages: Seq[PatternStage], route: Route = Single): DataFrame = {
    patternRequire(stages)
    val k = stages.length
    val folded = aggregate(col("evs"), patternInit(k, lit(0)),
      (st, e) => patternStep(st, e, stages))
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => patternBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, b)
      case None => userEvents(events, userCol, tsCol, orderCol, typed(typeCol))
        .select(col("user_id") +:
          ExprUtil.bound(folded)(patternOut(_, stages)).as("f") +: Nil: _*)
        .select(col("user_id") +: (col("f.stage_reached") +:
          (1 to k).map(i => col(s"f.ts${i}_us"))): _*)
    }
  }

  /** null-tolerant max (Spark `greatest` skips NULLs); single-arg safe. */
  private def gmax(cs: Seq[Column]): Column =
    if (cs.length == 1) cs.head else greatest(cs: _*)

  /** One event's transition of the WITHIN × contiguity product NFA —
    * [[patternStep]]'s l/o booleans lifted to MAX-START values (the w8
    * dominance: among chains occupying the same (stage, l/o) slot, the
    * latest start has the latest deadline and identical continuations,
    * so one long per slot is lossless), with the `within` deadline
    * checked at every advance against the max eligible predecessor —
    * the max is also the EASIEST to satisfy, so if it fails every
    * dominated chain fails too. `m[j]` is the sticky max start ever to
    * actually match stage j (the observable). Kills and strict hops
    * stay uniform across starts, which is what lets dominance survive
    * the full combinator product. */
  private def patternWithinStep(st: Column, e: Column,
      stages: Seq[PatternStage], windowMicros: Long): Column = {
    val k = stages.length
    val tp = e.getField("tp"); val us = e.getField("us")
    val L = st.getField("l"); val O = st.getField("o")
    val M = st.getField("m")
    def effLastS(j: Int): Column =
      if (j == 0) lit(null).cast("long")
      else if (stages(j - 1).optional)
        gmax(Seq(element_at(L, j), effLastS(j - 1)))
      else element_at(L, j)
    def effAnyS(j: Int): Column =
      if (j == 0) lit(null).cast("long")
      else if (stages(j - 1).optional)
        gmax(Seq(element_at(L, j), element_at(O, j), effAnyS(j - 1)))
      else gmax(Seq(element_at(L, j), element_at(O, j)))
    def adv(j: Int): Column = {
      val tOk = tp === lit(stages(j - 1).tp)
      if (j == 1) when(tOk, us)
      else {
        val base = if (stages(j - 1).strict) effLastS(j - 1)
          else effAnyS(j - 1)
        val pred = when(base.isNotNull &&
          us - base <= windowMicros, base)
        // stages 1..j-1 all optional: a chain may START here (its
        // first matched event IS this one — deadline trivially holds)
        val cands = if (stages.take(j - 1).forall(_.optional))
          Seq(pred, us) else Seq(pred)
        when(tOk, gmax(cands))
      }
    }
    val newL = array((1 to k).map(adv): _*)
    val newO = array((1 to k).map { j =>
      val killed = stages(j - 1).notNextAfter
        .map(x => tp === lit(x)).getOrElse(lit(false))
      when(killed, element_at(O, j))
        .otherwise(gmax(Seq(element_at(O, j), element_at(L, j))))
    }: _*)
    val newM = array((1 to k).map(j =>
      gmax(Seq(element_at(M, j), adv(j)))): _*)
    struct(newL.as("l"), newO.as("o"), newM.as("m"))
  }

  private def patternWithinInit(k: Int): Column = {
    val nulls = array_repeat(lit(null).cast("long"), k)
    struct(nulls.as("l"), nulls.as("o"), nulls.as("m"))
  }

  /** Observable projection of the product NFA: `stage_reached` = the
    * longest satisfiable prefix (a stage counts when actually matched
    * within the window, or optional atop a satisfied prefix) and
    * `win_start_us` = the MAX start among chains realizing that
    * prefix — for a prefix ending in skipped optional stages the
    * realizer sits at the last actually-matched stage, so the max
    * ranges over every stage whose trailing-optional run covers the
    * reached prefix. */
  private def patternWithinOut(f: Column,
      stages: Seq[PatternStage]): Column = {
    val k = stages.length
    val M = f.getField("m")
    def sat(j: Int): Column =
      if (j == 0) lit(true)
      else if (stages(j - 1).optional)
        element_at(M, j).isNotNull || sat(j - 1)
      else element_at(M, j).isNotNull
    val reached = (1 to k).map(j => when(sat(j), 1).otherwise(0))
      .reduce(_ + _)
    ExprUtil.bound(reached) { r =>
      val tOpt = (1 to k).map(j =>
        stages.drop(j).takeWhile(_.optional).length)
      val win = gmax((1 to k).map(j =>
        when(r <= lit(j + tOpt(j - 1)), element_at(M, j))))
      struct(r.as("stage_reached"), win.as("win_start_us"))
    }
  }

  /** Entry fold for [[patternWithinBucketed]]: the l/o NFA with
    * FIRST-REACH times per slot and NO fresh seeding (fresh chains are
    * the fresh fold's job — mixing them in would understate an entry
    * chain's reach times and mis-validate its deadline). `l[j]` = the
    * match time when a chain from the entry matched stage j at the
    * CURRENT event (clears next event), `o[j]` = MIN match time among
    * earlier matches still alive (min is the deadline-easiest — hops
    * on the min-reach path are all ≤ its last hop), `m[j]` = min time
    * stage j was ever matched (sticky, for the M composition). No
    * deadline inside: the entry's start is unknown here; composition
    * applies `reach ≤ start + T` once per target slot, sound because
    * reach times on the realizing path are monotone. */
  private def patternEntryStep(st: Column, e: Column,
      stages: Seq[PatternStage]): Column = {
    val k = stages.length
    val tp = e.getField("tp"); val us = e.getField("us")
    val L = st.getField("l"); val O = st.getField("o")
    val M = st.getField("m")
    def reachLast(j: Int): Column =
      if (j == 0) lit(false)
      else if (stages(j - 1).optional)
        element_at(L, j).isNotNull || reachLast(j - 1)
      else element_at(L, j).isNotNull
    def reachAny(j: Int): Column =
      if (j == 0) lit(false)
      else if (stages(j - 1).optional)
        element_at(L, j).isNotNull || element_at(O, j).isNotNull ||
          reachAny(j - 1)
      else element_at(L, j).isNotNull || element_at(O, j).isNotNull
    def adv(j: Int): Column = {
      val tOk = tp === lit(stages(j - 1).tp)
      if (j == 1) lit(null).cast("long") // no fresh seeding
      else when(tOk &&
        (if (stages(j - 1).strict) reachLast(j - 1) else reachAny(j - 1)),
        us)
    }
    val newL = array((1 to k).map(adv): _*)
    val newO = array((1 to k).map { j =>
      val killed = stages(j - 1).notNextAfter
        .map(x => tp === lit(x)).getOrElse(lit(false))
      when(killed, element_at(O, j))
        .otherwise(least(element_at(O, j), element_at(L, j)))
    }: _*)
    val newM = array((1 to k).map(j =>
      least(element_at(M, j), adv(j))): _*)
    struct(newL.as("l"), newO.as("o"), newM.as("m"))
  }

  /**
   * [[funnelPatternWithin]] for SKEWED keys — the segment split whose
   * summary combines the w21 and w15 machineries: the FRESH fold (the
   * product NFA itself, deadlines applied — its starts are known) plus
   * 2k ENTRY folds carrying first-reach times per (stage, l/o) slot
   * ([[patternEntryStep]], [[EnteredBefore]] at the entry's own slot
   * for the carried-through case). Composition: an entry slot holding
   * max-start `b` contributes `b` to target slot (j, class) iff the
   * entry fold reached it with `reach ≤ b + windowMicros` — sound
   * because reach times along the realizing path are monotone, so the
   * min-reach path's every hop meets the deadline, and max-start
   * dominance survives (the check is monotone in b). Bit-identical to
   * the single fold; gates on w42's oracle VERBATIM (w43).
   */
  private def patternWithinBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[PatternStage], windowMicros: Long,
      bucketSeconds: Long): DataFrame = {
    val k = stages.length
    val nulls = array_repeat(lit(null).cast("long"), k)
    def entryInit(slot: Int): Column = { // 1..k = l[slot], k+1..2k = o[slot-k]
      def unit(at: Int) = array((1 to k).map(j =>
        if (j == at) lit(EnteredBefore) else lit(null).cast("long")): _*)
      if (slot <= k) struct(unit(slot).as("l"), nulls.as("o"), nulls.as("m"))
      else struct(nulls.as("l"), unit(slot - k).as("o"), nulls.as("m"))
    }
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)(
      "fresh" -> aggregate(col("evs"), patternWithinInit(k),
        (st, e) => patternWithinStep(st, e, stages, windowMicros)),
      "ent" -> array((1 to 2 * k).map(slot =>
        aggregate(col("evs"), entryInit(slot),
          (st, e) => patternEntryStep(st, e, stages))): _*))
    val merged = aggregate(col("segs"), patternWithinInit(k), (st, seg) => {
      val fresh = seg.getField("fresh")
      def ent(slot: Int) = element_at(seg.getField("ent"), slot)
      def entryVal(slot: Int) = // the carried max-start for this slot
        if (slot <= k) element_at(st.getField("l"), slot)
        else element_at(st.getField("o"), slot - k)
      def contrib(slot: Int, field: String, j: Int): Column = {
        val r = element_at(ent(slot).getField(field), j)
        val b = entryVal(slot)
        when(b.isNotNull && r.isNotNull && r <= b + lit(windowMicros), b)
      }
      def mergeField(field: String): Column = array((1 to k).map { j =>
        gmax(element_at(fresh.getField(field), j) +:
          (1 to 2 * k).map(slot => contrib(slot, field, j)))
      }: _*)
      struct(mergeField("l").as("l"), mergeField("o").as("o"),
        array((1 to k).map { j =>
          gmax(element_at(st.getField("m"), j) +:
            element_at(fresh.getField("m"), j) +:
            (1 to 2 * k).map(slot => contrib(slot, "m", j)))
        }: _*).as("m"))
    })
    segs.select(col("user_id"),
        ExprUtil.bound(merged)(patternWithinOut(_, stages)).as("f"))
      .select(col("user_id"), col("f.stage_reached"), col("f.win_start_us"))
  }

  /**
   * The CONTIGUITY × WITHIN product — Flink allows `within(T)` on any
   * pattern, including one using `next` / `notNext` / `optional`
   * ([[funnelPattern]]'s combinators): the match's last event must
   * fall within `windowMicros` of its FIRST matched event. Greedy is
   * doubly wrong here (both the w8 expiry trap and the w20 dead-slot
   * trap), so the machine is the l/o NFA with max-start slot values
   * ([[patternWithinStep]]): 3k longs of state, ONE user-keyed
   * shuffle. Output: (user_id, stage_reached, win_start_us) — the w8
   * observable over the combinator pattern. Oracle: chained
   * total-order hop joins CARRYING the chain's start, each hop
   * additionally bounded by `start + windowMicros` (the strict /
   * blocker probes unchanged), max-start aggregation per stage.
   * Skew-safe route: [[patternWithinBucketed]] (w43).
   */
  def funnelPatternWithin(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[PatternStage], windowMicros: Long,
      route: Route = Single): DataFrame = {
    patternRequire(stages)
    require(windowMicros > 0, "need windowMicros > 0")
    val k = stages.length
    val folded = aggregate(col("evs"), patternWithinInit(k),
      (st, e) => patternWithinStep(st, e, stages, windowMicros))
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => patternWithinBucketed(events, userCol, typeCol,
        tsCol, orderCol, stages, windowMicros, b)
      case None => userEvents(events, userCol, tsCol, orderCol, typed(typeCol))
        .select(col("user_id"),
          ExprUtil.bound(folded)(patternWithinOut(_, stages)).as("f"))
        .select(col("user_id"), col("f.stage_reached"), col("f.win_start_us"))
    }
  }

  /**
   * [[funnelPattern]] for SKEWED keys. Chains stay independent under
   * strict hops, notNext kills and optional skips, so a segment's
   * effect is still LINEAR over the entry vector — now in the boolean
   * semiring over BOTH the l and o coordinates (2k+1 unit-entry folds
   * of O(k) metadata per segment: zero entry for fresh starts, a unit
   * l[i] and a unit o[i] per stage) with first-reach times composing
   * in the min semiring. Cross-boundary adjacency is sound because
   * time buckets partition the total order contiguously: the entry
   * l bits refer to exactly the previous segment's last event. Gates
   * against w20's oracle VERBATIM (w21).
   */
  private def patternBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[PatternStage], bucketSeconds: Long): DataFrame = {
    val k = stages.length
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)("f" -> transform(sequence(lit(0), lit(2 * k)), entry =>
        aggregate(col("evs"), patternInit(k, entry),
          (st, e) => patternStep(st, e, stages))))
    val zero = struct(array_repeat(lit(false), k).as("l"),
      array_repeat(lit(false), k).as("o"),
      array_repeat(lit(null).cast("long"), k).as("ts"))
    val merged = aggregate(col("segs"), zero, (st, seg) => {
      val f = seg.getField("f")
      def fAt(i: Int) = element_at(f, i + 1)
      // active(i): is unit entry i live at this segment's entry?
      def active(i: Int): Column =
        if (i <= k) element_at(st.getField("l"), i)
        else element_at(st.getField("o"), i - k)
      def orOver(field: String, j: Int): Column =
        (1 to 2 * k).map(i => active(i) &&
            element_at(fAt(i).getField(field), j))
          .foldLeft(element_at(fAt(0).getField(field), j))(_ || _)
      val nl = array((1 to k).map(j => orOver("l", j)): _*)
      val no = array((1 to k).map(j => orOver("o", j)): _*)
      val nts = array((1 to k).map { j =>
        coalesce(element_at(st.getField("ts"), j),
          least(element_at(fAt(0).getField("ts"), j) +:
            (1 to 2 * k).map(i =>
              when(active(i), element_at(fAt(i).getField("ts"), j))): _*))
      }: _*)
      struct(nl.as("l"), no.as("o"), nts.as("ts"))
    })
    segs.select(col("user_id") +:
        ExprUtil.bound(merged)(patternOut(_, stages)).as("f") +: Nil: _*)
      .select(col("user_id") +: (col("f.stage_reached") +:
        (1 to k).map(i => col(s"f.ts${i}_us"))): _*)
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
    // which silently DIVERGES from the loop machines' kill semantics
    // (w71: a blocked completion does not count) — rather than ship
    // two readings of one guard, the bounded quantifier rejects it
    // and points at the kill-semantics machines
    require(group.isEmpty || group.last.notNextAfter.isEmpty,
      "notNextAfter on the group's LAST stage is unsupported under " +
        "the stage-list expansion (its sticky first-reach reps would " +
        "count a blocked completion, silently diverging from the loop " +
        "machines' kill semantics); use funnelGroupTimesRange (which " +
        "routes the guarded form through the capped dominance machine " +
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
   * (`Pattern.begin(Pattern.begin("a").next("b")).times(n)`). The
   * Spark-first reduction composes two existing recipes: quantifiers
   * are stage-list expansion (the w12 rule), and a group is just a
   * stage LIST — so the group quantifier is [[funnelPattern]] over
   * [[groupExpand]]'s n copies, with the group's internal contiguity
   * verbatim inside every copy and the seams relaxed
   * (`consecutiveSeams = true` for Flink's `consecutive()` on the
   * group). No new machine: same l/o NFA existence fold, 2·n·k
   * booleans + n·k first-reach longs of state, ONE user-keyed
   * shuffle. Output: `(user_id, reps_completed, ts_r<r>_s<i>_us…)`.
   * Oracle: the w20 chained-join replay over the expanded hop list —
   * strict guards inside copies, none (or all, consecutive) at seams.
   * Every route is [[funnelPattern]]'s over the expansion (the segment
   * split never reads what the stage list MEANS, only its length);
   * w59b gates the bucketed route on w59's oracle verbatim.
   */
  def funnelGroupTimes(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      group: Seq[PatternStage], times: Int,
      consecutiveSeams: Boolean = false, route: Route = Single): DataFrame = {
    groupRequire(group, times)
    groupProject(group, times)(
      funnelPattern(events, userCol, typeCol, tsCol, orderCol,
        groupExpand(group, times, consecutiveSeams), route))
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
    * MEANINGFUL here and supported (round 18): it guards the
    * repetition SEAM — a repetition whose completing event is
    * immediately followed by the blocker is invalid (its chain dies
    * at the blocker: no promotion to the sticky observable, no seam
    * extension; end-of-log completions pass, there being no next
    * event). [[patternRequire]] rejects the trailing guard as
    * output-inert for flat patterns, so the group validates with it
    * stripped. */
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

  /** One event's transition of the group-loop DOMINANCE machine —
    * [[patternStep]]'s l/o booleans lifted to MAX-COMPLETED-REPS
    * values. Stage-list expansion cannot express an unbounded
    * quantifier, so this is a genuine third lift of the contiguity
    * NFA (after booleans, w20, and max-starts, w42): among chains
    * occupying the same (stage, l/o) slot mid-repetition, the one
    * with more completed repetitions dominates — strict hops, notNext
    * kills and completions are uniform across rep counts, and seams
    * only ever read the max — so ONE nullable long per slot is
    * lossless. Two extra slots hold the idle chains: `bl` (completed
    * a repetition at the immediately previous event — what a
    * `consecutive()` seam may extend) and `bo` (completed earlier, or
    * never started; also the sticky reps observable). A completion
    * (`adv(k) + 1`) moves the chain to `bl`; `bl` promotes to `bo`
    * one event later (the l→o rule at the seam). Every operation is
    * (max, +const) — max-plus linear in the state — EXCEPT the
    * fresh-start injection under consecutive seams (`gmax(bl, 0)`:
    * a zero-rep chain may start anywhere); `fresh = false` removes
    * that constant, giving the PURE linear dynamics the bucketed
    * twin's gain matrices require (relaxed seams read fresh starts
    * from `bo`'s init-0, so their dynamics are linear as-is). */
  private def groupLoopStep(st: Column, e: Column,
      group: Seq[PatternStage], consecutiveSeams: Boolean,
      fresh: Boolean, cap: Option[Long] = None): Column = {
    val k = group.length
    val tp = e.getField("tp")
    val bo = st.getField("bo"); val bl = st.getField("bl")
    val L = st.getField("l"); val O = st.getField("o")
    def effLastV(j: Int): Column =
      if (j == 0) lit(null).cast("long") // unreachable: head non-optional
      else if (group(j - 1).optional)
        gmax(Seq(element_at(L, j), effLastV(j - 1)))
      else element_at(L, j)
    def effAnyV(j: Int): Column =
      if (j == 0) lit(null).cast("long")
      else if (group(j - 1).optional)
        gmax(Seq(element_at(L, j), element_at(O, j), effAnyV(j - 1)))
      else gmax(Seq(element_at(L, j), element_at(O, j)))
    // the TRAILING seam guard (notNextAfter on the last stage, round
    // 18): at the blocker event, every freshly-completed chain (bl)
    // dies — its completion's immediate successor is the blocker —
    // so bl neither promotes to bo nor seeds a seam extension. All
    // transitions stay max-plus linear (a kill is the -inf
    // coefficient), so the bucketed twin's gain matrices carry the
    // guard unchanged. Chains already in bo survived their own guard
    // one event after completing.
    val seamKill = group.last.notNextAfter
      .map(x => tp === lit(x)).getOrElse(lit(false))
    val blAlive = when(!seamKill, bl)
    def adv(j: Int): Column = {
      val tOk = tp === lit(group(j - 1).tp)
      if (j == 1) {
        val seam =
          if (!consecutiveSeams) gmax(Seq(bo, blAlive))
          else if (fresh) gmax(Seq(blAlive, lit(0L)))
          else blAlive
        when(tOk, seam)
      } else {
        val base = if (group(j - 1).strict) effLastV(j - 1)
          else effAnyV(j - 1)
        when(tOk, base)
      }
    }
    val newL = array((1 to k).map(adv): _*)
    val newO = array((1 to k).map { j =>
      val killed = group(j - 1).notNextAfter
        .map(x => tp === lit(x)).getOrElse(lit(false))
      when(killed, element_at(O, j))
        .otherwise(gmax(Seq(element_at(O, j), element_at(L, j))))
    }: _*)
    // RELUCTANT consume mode caps the completion step — the one
    // policy point of the machine: a chain that has already completed
    // `cap` repetitions has emitted its minimal match, so further
    // completions saturate instead of counting (null propagates
    // through the comparison to the otherwise branch)
    val complete = adv(k) + 1L
    val blNew = cap.map(m =>
      when(complete >= lit(m), lit(m)).otherwise(complete))
      .getOrElse(complete)
    struct(
      gmax(Seq(bo, blAlive)).as("bo"),
      blNew.as("bl"),
      newL.as("l"), newO.as("o"))
  }

  /** Entry state: slot 0 = the GLOBAL init (bo = 0 — the never-started
    * chain), 1..k = unit l[slot], k+1..2k = unit o[slot−k],
    * 2k+1 = unit bl, 2k+2 = unit bo — each unit carries value 0 so a
    * fold from it yields the segment's max-plus GAIN for that entry. */
  private def groupLoopInit(k: Int, slot: Column): Column = {
    val lInit = transform(sequence(lit(1), lit(k)),
      j => when(j === slot, lit(0L)))
    val oInit = transform(sequence(lit(1), lit(k)),
      j => when(j + lit(k) === slot, lit(0L)))
    struct(
      when(slot === 0 || slot === lit(2 * k + 2), lit(0L)).as("bo"),
      when(slot === lit(2 * k + 1), lit(0L)).as("bl"),
      lInit.as("l"), oInit.as("o"))
  }

  /** State struct → flat slot vector (1..k = l, k+1..2k = o,
    * 2k+1 = bl, 2k+2 = bo), the bucketed twin's matrix row shape. */
  private def groupLoopVec(st: Column): Column =
    concat(st.getField("l"), st.getField("o"),
      array(st.getField("bl"), st.getField("bo")))

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
   * machine is the dominance fold ([[groupLoopStep]]), not a pick
   * chain. Same scale shape as [[funnelPattern]]: ONE user-keyed
   * shuffle, one expression fold, 2k+2 longs of state. Oracle: the
   * all-matches table (one chained join per in-group hop) and an
   * unrolled reachability DP over the seam relation (w62/w63).
   *
   * DELIBERATELY ABSENT: `within(T)` on the unbounded loop. The w8/w42
   * dominance that makes `within` a one-long-per-slot product needs
   * identical continuations per slot, which fixed-depth machines have;
   * here chains at one slot differ in BOTH reps and start, and the two
   * orders oppose (more reps ⇒ started earlier ⇒ earlier deadline), so
   * the lossless state is a Pareto frontier whose size is bounded only
   * by the current max reps — no O(k) fold exists. The expressible
   * form is the BOUNDED product [[funnelGroupTimesWithin]] at cap n,
   * which is also what a `within`-truncated unbounded match can
   * realize: T bounds the repetitions any match can contain, so a
   * caller picks n ≥ the corpus' per-window ceiling and reads
   * `reps_completed` — same answer, finite machine. For WITNESSES
   * (which events, not just how many) under a span bound,
   * [[funnelGroupMatchesWithin]] filters the canonical enumeration —
   * answer-size-bounded, gated w70.
   *
   * `mode` is the consume mode, as on the flat loops. `minTimes` is the
   * loop's floor (1 = Flink's `oneOrMore`, n = `timesOrMore(n)` — see
   * [[funnelGroupTimesOrMore]] for the thresholded report) and is read
   * ONLY under `Reluctant`, where it is the cap the match stops at:
   * under `Greedy` the fold is uncapped by definition. Under RELUCTANT
   * consumption the emitted match contains exactly `minTimes`
   * repetitions once the floor is reachable, so `reps` is
   * `min(greedy reps, minTimes)` — below the floor the partial progress
   * shows uncapped (the flat family's "loop progress is observable
   * before completion" convention). The mode can never change
   * EXISTENCE (`reps >= m` iff the greedy machine reaches m): the
   * TRUNCATION LEMMA — a chain's first r' complete repetitions form a
   * valid chain for every r' ≤ r, under either seam mode, because
   * dropping a suffix of repetitions never disturbs the seams it keeps
   * — makes every intermediate count realizable, so capping is exact.
   *
   * Per machine: the SINGLE fold threads the cap into the dominance
   * machine's completion step (the policy point — a completing chain
   * saturates at the floor); the skew-safe route runs the greedy
   * tropical split ([[groupLoopBucketed]]) UNCHANGED and caps the
   * OUTPUT — the cap is min with a constant, which is not max-plus
   * linear, so capping inside the segments would break the gain-matrix
   * algebra; by the truncation lemma the two placements compute the
   * same function (spec-pinned). Auto's threshold here is
   * [[GroupLoopAutoKeyEvents]]. Gates: w62/w62b (greedy), w68/w68b/w68c
   * (relaxed, reluctant), w69 (consecutive seams), each against the
   * enumeration oracle with `LEAST(·, m)`.
   */
  def funnelGroupLoop(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      group: Seq[PatternStage], consecutiveSeams: Boolean = false,
      mode: ConsumeMode = Greedy, minTimes: Int = 1,
      route: Route = Single): DataFrame = {
    groupLoopRequire(group)
    require(minTimes >= 1, "need minTimes >= 1")
    val cap = if (mode == Reluctant) Some(minTimes.toLong) else None
    resolve(route, events, userCol, GroupLoopAutoKeyEvents) match {
      case None => groupLoopFold(events, userCol, typeCol, tsCol, orderCol,
        group, consecutiveSeams, cap)
      case Some(b) =>
        val reps = groupLoopBucketed(events, userCol, typeCol, tsCol,
          orderCol, group, b, consecutiveSeams)
        cap.fold(reps)(m => reps.select(col("user_id"),
          least(col("reps"), lit(m)).as("reps")))
    }
  }

  /** The single-shuffle group-loop fold with an optional completion
    * CAP — greedy at `cap = None`, reluctant at `cap = Some(m)`
    * ([[funnelGroupLoop]]'s policy point). */
  private def groupLoopFold(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      group: Seq[PatternStage], consecutiveSeams: Boolean,
      cap: Option[Long]): DataFrame = {
    val k = group.length
    val folded = aggregate(col("evs"), groupLoopInit(k, lit(0)),
      (st, e) => groupLoopStep(st, e, group, consecutiveSeams,
        fresh = true, cap = cap))
    userEvents(events, userCol, tsCol, orderCol, typed(typeCol))
      .select(col("user_id"),
        ExprUtil.bound(folded)(f => coalesce(
          gmax(Seq(f.getField("bo"), f.getField("bl"))), lit(0L)))
          .as("reps"))
  }

  /**
   * [[funnelGroupLoop]] for SKEWED keys — a MAX-PLUS (tropical)
   * segment monoid: the dominance fold is max-plus linear in its
   * 2k+2-slot state (every transition is a max of slots plus a
   * constant gain), so a segment's entire effect is the affine pair
   * `(G, F)` — `G[s][s']` the max rep GAIN over in-segment paths from
   * entry slot s to exit slot s' (one pure-linear fold per unit entry
   * state, `fresh = false`), `F[s']` the best value of chains BORN
   * inside the segment (one fold from the global init with the
   * fresh-start injection live). Composition is the tropical
   * matrix-vector product `v'[s'] = max(max_s(v[s] + G[s][s']),
   * F[s'])` — associative, so bucket order is the only order that
   * matters. 2k+3 folds of O(k) state per segment, two user-keyed
   * shuffles, per-group memory bounded by the bucket width — the
   * same wall-escape contract as every bucketed twin. Entry l/bl
   * slots stay exact across bucket boundaries because the previous
   * segment's last event IS the global previous event (the w21
   * adjacency argument). Gates on w62's oracle VERBATIM.
   */
  private def groupLoopBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      group: Seq[PatternStage], bucketSeconds: Long,
      consecutiveSeams: Boolean): DataFrame = {
    val k = group.length
    val n = 2 * k + 2
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)(
      "g" -> transform(sequence(lit(1), lit(n)), s0 =>
        groupLoopVec(aggregate(col("evs"), groupLoopInit(k, s0),
          (st, e) => groupLoopStep(st, e, group, consecutiveSeams,
            fresh = false)))),
      "f" -> groupLoopVec(aggregate(col("evs"), groupLoopInit(k, lit(0)),
        (st, e) => groupLoopStep(st, e, group, consecutiveSeams,
          fresh = true))))
    // init vector: all -inf (null) except bo = 0 (the never-started chain)
    val initVec = transform(sequence(lit(1), lit(n)),
      s => when(s === lit(n), lit(0L)))
    val merged = aggregate(col("segs"), initVec,
      (v, seg) => ExprUtil.bound(struct(seg.getField("g").as("g"),
          seg.getField("f").as("f"))) { sg =>
        transform(sequence(lit(1), lit(n)), sp =>
          gmax(Seq(
            array_max(zip_with(v, sg.getField("g"),
              (vs, grow) => vs + element_at(grow, sp))),
            element_at(sg.getField("f"), sp))))
      })
    segs.select(col("user_id"),
        ExprUtil.bound(merged)(v => coalesce(
          gmax(Seq(element_at(v, n - 1), element_at(v, n))), lit(0L)))
          .as("reps"))
  }

  /**
   * Flink CEP's BOUNDED group quantifier `times(m, n)` — the last
   * group-quantifier shape after times(n) (w59) and oneOrMore (w62).
   * For the EXISTENCE machine the range adds only REPORTING: the
   * max-depth fold over [[groupExpand]]'s n copies already yields
   * `reps_completed` ≤ n, and the pattern is satisfied exactly when
   * at least m whole copies completed — so this is [[funnelGroupTimes]]
   * at the ceiling plus `matched = reps_completed >= m` (the same
   * reduction that made the flat `times(m, n)` a capped loop, w18).
   * Output: `(user_id, reps_completed, matched, ts_r<r>_s<i>_us…)`.
   *
   * A TRAILING seam guard (`notNextAfter` on the group's LAST stage —
   * the one shape [[groupRequire]] rejects for the expansion, whose
   * sticky first-reach reps would count a blocked completion) ROUTES
   * through the CAPPED DOMINANCE MACHINE instead: [[funnelGroupLoop]]
   * under `Reluctant` at floor = `maxTimes`, which already implements
   * the kill semantics (w71), plus the threshold report. The cap
   * saturates the completion step, exact by the TRUNCATION LEMMA,
   * whose argument survives the guard — a repetition's guard outcome
   * is a property of the EVENT STREAM at its completing index (is the
   * next event the blocker?), not of the chain's suffix, so dropping a
   * suffix of repetitions never changes the kept prefix's validity.
   * On the skew-safe route the guarded tropical split runs UNCHANGED —
   * the kill is a −inf gain coefficient the segment matrices carry
   * (w71b) — and the cap applies to its output. The guarded REPORT
   * SHAPE is `(user_id, reps_completed, matched)` — counts, not
   * witnesses (the dominance machine has no per-copy first-match
   * times; callers needing witnesses under a guard want the
   * enumeration family); `reps_completed` = min(max guarded chain
   * depth, maxTimes), INT like the expansion form's. Auto's threshold
   * is the machine's: [[GroupLoopAutoKeyEvents]] for the guarded form,
   * [[AutoBucketKeyEvents]] for the expansion. Gates: w64 (expansion),
   * w72 / w72b / w72c (guarded: single, bucketed, auto), against the
   * guarded greedy-earliest enumeration oracle with
   * `LEAST(·, maxTimes)`.
   */
  def funnelGroupTimesRange(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      group: Seq[PatternStage], minTimes: Int, maxTimes: Int,
      consecutiveSeams: Boolean = false, route: Route = Single): DataFrame = {
    require(minTimes >= 1 && maxTimes >= minTimes,
      "need 1 <= minTimes <= maxTimes")
    if (group.nonEmpty && group.last.notNextAfter.nonEmpty)
      funnelGroupLoop(events, userCol, typeCol, tsCol, orderCol, group,
          consecutiveSeams, Reluctant, minTimes = maxTimes, route = route)
        .select(col("user_id"),
          col("reps").cast("int").as("reps_completed"),
          (col("reps") >= lit(minTimes.toLong)).as("matched"))
    else funnelGroupTimes(events, userCol, typeCol, tsCol, orderCol, group,
        maxTimes, consecutiveSeams, route)
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
   * UNBOUNDED group loop cannot have as a fold (the
   * [[funnelGroupLoop]] Pareto obstruction: chains at one slot differ
   * in both reps and start, the two orders oppose, so the lossless
   * within-state is a frontier, not O(k) slots). The enumeration
   * route sidesteps the obstruction by materializing WITNESSES:
   * every canonical skip-past-last match whose whole span — first
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
   * [[funnelGroupLoop]] / [[funnelGroupTimesOrMore]]. Scale shape is
   * [[funnelMulti]]'s: one user-keyed shuffle, the span filter and
   * recount run on the (maxMatches-bounded) match stream.
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
    val blockers = events.filter(col(typeCol) === lit(absentType))
      .select(col(userCol).as("user_id"),
        unix_micros(col(tsCol).cast("timestamp")).as("b_us"))
    fits.join(blockers,
        fits("user_id") === blockers("user_id") &&
          col("b_us") > fits(s"ts_r${times}_s${k}_us") &&
          col("b_us") <= fits("ts_r1_s1_us") + lit(windowMicros),
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
   * stream allows, up to `maxTimes`), the last enumeration shape the
   * group family lacked — [[funnelGroupMatches]] covers fixed
   * `times(n)`, [[funnelGroupTimesRange]] covers the range as
   * a counts report; THIS is the range as WITNESSES, which the
   * trailing-absence tail needs (the tail predicate reads each
   * match's own completion time, so a per-match rep count must be
   * observable).
   *
   * THE REDUCTION — one theorem makes it a single fold: under greedy
   * skip-past-last, EVERY NON-FINAL MATCH IS FULL. A match stops
   * short of `maxTimes` repetitions only when repetition r+1 cannot
   * complete; the next match attempt replays exactly those failed
   * greedy picks (skip-past-last resumes after the short match's
   * last consumed event, which is where the failed extension started
   * probing), so it dies at the same missing stage — a short match is
   * always the LAST match. Hence the range enumeration is
   * [[funnelMulti]]'s witness stream over the `maxTimes`-fold
   * expansion, read twice: full matches are `adv div (maxTimes·k)`
   * (the fixed-n reading), and the ONE possible trailing short match
   * is the stream's REMAINDER — `(adv mod (maxTimes·k)) div k`
   * complete repetitions, a match iff ≥ `minTimes`. The advance
   * counter is exact even past the witness cap (the w18 rule), so
   * both counts are exact; the short match's witnesses sit inside the
   * cap whenever it is emitted (it can only follow fewer than
   * `maxMatches` full matches).
   *
   * Output: `(user_id, match_idx, n_matches, reps,
   * ts_r<r>_s<i>_us…)` for r ≤ `maxTimes` — witness columns beyond a
   * match's own `reps` are NULL (the match contains only its COMPLETE
   * repetitions; a dangling partial repetition's picks are not part
   * of any match, Flink's group-quantifier reading). `n_matches` is
   * the TRUE total (full + qualifying tail), `reps = maxTimes` on
   * every full match. `minTimes = maxTimes` degenerates to
   * [[funnelGroupMatches]] plus the `reps` column (spec law). Scale
   * shape unchanged: ONE user-keyed shuffle, one fold, the same
   * capped state. Type-only groups, [[funnelMulti]]'s contract.
   */
  def funnelGroupMatchesRange(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      groupTypes: Seq[String], minTimes: Int, maxTimes: Int,
      maxMatches: Int, route: Route = Single): DataFrame = {
    require(groupTypes.nonEmpty && minTimes >= 1 && maxTimes >= minTimes &&
      maxMatches >= 1,
      "need groupTypes, 1 <= minTimes <= maxTimes and maxMatches >= 1")
    val k = groupTypes.length
    val expanded = Seq.fill(maxTimes)(groupTypes).flatten
    val (g, stream) = witnessStream(events, userCol, typeCol, tsCol,
      orderCol, expanded, maxMatches * expanded.length, route)
    g.select(col("user_id"),
        explode(ExprUtil.bound(stream)(
          multiRangeOut(_, k, minTimes, maxTimes, maxMatches))).as("m"))
      .select(col("user_id") +: col("m.match_idx") +: col("m.n_matches") +:
        col("m.reps") +:
        (for (r <- 1 to maxTimes; i <- 1 to k)
          yield col(s"m.ts_r${r}_s${i}_us")): _*)
  }

  /** Exact long division of an exactly-divisible numerator (r21 ADVICE
    * fix): Column `/` is DOUBLE division + cast, exact only while the
    * advance counter stays below 2^53 per user; Catalyst's
    * IntegralDivide stays in long arithmetic unconditionally. Values
    * are identical in the exact range (the numerator is a non-negative
    * multiple of the divisor by construction), so every gate is
    * untouched — this removes the conditional, not the contract. */
  private def divLong(num: Column, den: Long): Column =
    org.apache.spark.sql.graft.bridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.bridge.expressionEager(num),
        org.apache.spark.sql.graft.bridge.expressionEager(lit(den))))

  /** [[multiOut]]'s RANGE-quantified sibling: read the witness stream
    * `(n, w)` as `fullM` complete `maxTimes`-repetition matches plus
    * the possible trailing short match ([[funnelGroupMatchesRange]]'s
    * reduction), emitting per-match `reps` and NULLing witness slots
    * beyond each match's own repetitions. */
  private def multiRangeOut(f: Column, k: Int, minTimes: Int,
      maxTimes: Int, maxMatches: Int): Column = {
    val bigK = maxTimes * k
    val n = f.getField("n")
    val w = f.getField("w")
    val fullM = divLong(n - pmod(n, lit(bigK.toLong)), bigK.toLong)
    val tailAdv = pmod(n, lit(bigK.toLong))
    val tailReps = divLong(tailAdv - pmod(tailAdv, lit(k.toLong)), k.toLong)
    val tailOk = tailReps >= lit(minTimes.toLong)
    val nMatches = fullM + when(tailOk, lit(1L)).otherwise(lit(0L))
    val emitted = least(nMatches, lit(maxMatches.toLong)).cast("int")
    val fields = (m: Column) => {
      val isTail = tailOk && (m.cast("long") === fullM + lit(1L))
      val reps = when(isTail, tailReps).otherwise(lit(maxTimes.toLong))
      m.cast("long").as("match_idx") +: nMatches.as("n_matches") +:
        reps.cast("int").as("reps") +:
        (for (r <- 1 to maxTimes; i <- 1 to k) yield
          when(lit(r.toLong) <= reps,
            element_at(w, (m - 1) * bigK + ((r - 1) * k + i)))
            .as(s"ts_r${r}_s${i}_us"))
    }
    val tsFields = (for (r <- 1 to maxTimes; i <- 1 to k)
      yield s"ts_r${r}_s${i}_us:bigint").mkString(",")
    when(emitted > 0,
      transform(sequence(lit(1), emitted), m => struct(fields(m): _*)))
      .otherwise(array().cast(
        s"array<struct<match_idx:bigint,n_matches:bigint,reps:int," +
          s"$tsFields>>"))
  }

  /** [[funnelGroupMatchesRange]] with the span bound and TRAILING
    * absence tail — Flink's
    * `begin(group).times(m, n).notFollowedBy(B).within(T)`, the last
    * open combinator cell (the absence axis over the range-quantified
    * group): a range match survives iff its span — first pick to its
    * OWN last complete repetition's completing pick — fits `T` AND no
    * `absentType` event falls in (completion, start + T]. Both
    * predicates are per-match index properties, so they compose onto
    * the range enumeration exactly as [[funnelGroupMatchesAbsence]]'s
    * did onto the fixed one — with the completion read per row via
    * COALESCE over the rep-descending completion slots (witnesses
    * beyond `reps` are NULL by construction, so the coalesce IS the
    * match's own completion). Same scale shape: the enumeration's one
    * user-keyed exchange, ONE answer-sized LEFT ANTI equi-join on the
    * user key with the time range as post-condition (never a
    * theta-join), the answer-sized recount window. Same time-based
    * blocker-tie contract as the whole absence family. `match_idx`
    * keeps its enumeration index (gaps mark cut matches);
    * `n_matches` recounts survivors. Gated w75b against the chained
    * greedy-pick replay with all three predicates (reps ∈ [m, n],
    * span fit, tail absence); the plain enumeration is gated w75. */
  def funnelGroupMatchesRangeAbsence(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      groupTypes: Seq[String], minTimes: Int, maxTimes: Int,
      maxMatches: Int, windowMicros: Long, absentType: String,
      route: Route = Single): DataFrame = {
    require(windowMicros > 0, "need windowMicros > 0")
    val k = groupTypes.length
    val endUs = coalesce((maxTimes to 1 by -1).map(r =>
      col(s"ts_r${r}_s${k}_us")): _*)
    val fits = funnelGroupMatchesRange(events, userCol, typeCol, tsCol,
        orderCol, groupTypes, minTimes, maxTimes, maxMatches, route)
      .withColumn("end_us", endUs)
      .filter(col("end_us") - col("ts_r1_s1_us") <= windowMicros)
    val blockers = events.filter(col(typeCol) === lit(absentType))
      .select(col(userCol).as("user_id"),
        unix_micros(col(tsCol).cast("timestamp")).as("b_us"))
    fits.join(blockers,
        fits("user_id") === blockers("user_id") &&
          col("b_us") > fits("end_us") &&
          col("b_us") <= fits("ts_r1_s1_us") + lit(windowMicros),
        "left_anti")
      .drop("end_us")
      .withColumn("n_matches",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")))
  }

  // -------------------------------------------------------------------
  // Match ENUMERATION — Flink CEP's AFTER MATCH SKIP PAST LAST EVENT
  // -------------------------------------------------------------------

  /** Shared match-stream output projection: `w` is the flat witness
    * stream (first `maxMatches*k` advance times), `n` the TRUE total
    * advance count; match m = witnesses (m-1)k+1..mk. Users with zero
    * completed matches emit nothing. */
  private def multiOut(f: Column, k: Int, maxMatches: Int): Column = {
    val n = f.getField("n")
    val w = f.getField("w")
    val nMatches = divLong(n - pmod(n, lit(k.toLong)), k.toLong)
    val emitted = least(nMatches, lit(maxMatches.toLong)).cast("int")
    when(emitted > 0,
      transform(sequence(lit(1), emitted), m =>
        struct((m.cast("long")).as("match_idx") +:
          nMatches.as("n_matches") +:
          (1 to k).map(j =>
            element_at(w, (m - 1) * k + j).as(s"ts${j}_us")): _*)))
      .otherwise(array().cast(
        s"array<struct<match_idx:bigint,n_matches:bigint,${
          (1 to k).map(j => s"ts${j}_us:bigint").mkString(",")}>>"))
  }

  /**
   * ALL non-overlapping matches of the ordered pattern, per user —
   * Flink CEP's match ENUMERATION under AFTER MATCH SKIP PAST LAST
   * EVENT ([[funnel]] reports only the first match's prefix). The
   * greedy-restart machine (complete stage k → emit → reset to stage
   * 0) is the canonical skip-past-last semantics, maximizes the match
   * count (exchange argument) and is deterministic.
   *
   * The Spark-first reduction that keeps it ONE fold: the pointer
   * after any prefix is `(total advances) mod k`, so the whole machine
   * is a single witness STREAM — an event advances iff its type is
   * `stages[len mod k]`, and match m is witnesses (m-1)k+1..mk. State:
   * one counter + a capped witness list (the list never feeds the
   * advance condition, so capping it cannot change the trajectory —
   * the w18 rule). Emits the FIRST `maxMatches` matches as rows
   * `(user_id, match_idx, n_matches, ts1_us..tsk_us)` with `n_matches`
   * the TRUE (uncapped) total; zero-match users emit nothing. The
   * oracle replays it as maxMatches×k chained greedy picks (w26); the
   * skew-safe route is [[witnessFoldBucketed]] (w27).
   */
  def funnelMulti(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[String],
      maxMatches: Int, route: Route = Single): DataFrame = {
    val k = stages.length
    require(k >= 1 && maxMatches >= 1, "need stages and maxMatches >= 1")
    val (g, stream) = witnessStream(events, userCol, typeCol, tsCol,
      orderCol, stages, maxMatches * k, route)
    g.select(col("user_id"),
        explode(ExprUtil.bound(stream)(multiOut(_, k, maxMatches))).as("m"))
      .select(col("user_id") +: col("m.match_idx") +: col("m.n_matches") +:
        (1 to k).map(j => col(s"m.ts${j}_us")): _*)
  }

  /** The witness stream both enumeration entry points read, on the
    * resolved route: one row per user plus the `(n, w)` column over
    * it. The skew-safe fold reproduces `(n, w)` BIT-IDENTICALLY (the
    * w18 capped-monoid rule), so ANY output projection over the stream
    * composes unchanged onto either fold. */
  private def witnessStream(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String], capW: Int, route: Route): (DataFrame, Column) =
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => witnessFoldBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, capW, b)
      case None => (userEvents(events, userCol, tsCol, orderCol,
        typed(typeCol)), witnessFold(stages, capW))
    }

  /** [[funnelMulti]]'s single-pass fold of the sorted `evs` into
    * `(n, w)` — `n` the EXACT total advance count (never capped: it
    * drives the advance condition and every downstream match count),
    * `w` the witness list capped at `capW` (it never feeds the advance
    * condition, so capping cannot change the trajectory — the w18
    * rule). */
  private def witnessFold(stages: Seq[String], capW: Int): Column = {
    val k = stages.length
    val init = struct(lit(0L).as("n"), array().cast("array<long>").as("w"))
    aggregate(col("evs"), init, (st, e) => {
      val n = st.getField("n")
      val w = st.getField("w")
      val advT = e.getField("tp") ===
        element_at(typedLit(stages), pmod(n, lit(k.toLong)).cast("int") + 1)
      when(advT, struct((n + 1).as("n"),
        when(size(w) < capW, concat(w, array(e.getField("us"))))
          .otherwise(w).as("w")))
        .otherwise(st)
    })
  }

  /** [[funnelMulti]] for SKEWED keys. The witness-stream reduction
    * makes the segment monoid trivial: a segment's effect from entry
    * offset r ∈ 0..k-1 is `(advance count, capped witness list)` under
    * the advance condition `tp = stages[(r + len) mod k]`, and
    * composition is counter addition plus concat-truncate of the
    * witness lists (exact: the trajectory reads the TRUE counter, never
    * the capped list — the w18 capped-monoid rule). Bit-identical to
    * the single fold; gates against w26's oracle VERBATIM (w27), and
    * the range enumeration's twin against w75's (w75c). */
  private def witnessFoldBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String], capW: Int,
      bucketSeconds: Long): (DataFrame, Column) = {
    val k = stages.length
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)("f" -> transform(sequence(lit(0), lit(k - 1)), r =>
        aggregate(col("evs"),
          struct(lit(0L).as("n"), array().cast("array<long>").as("w")),
          (st, e) => {
            val n = st.getField("n")
            val w = st.getField("w")
            val advT = e.getField("tp") === element_at(typedLit(stages),
              pmod(r + n, lit(k.toLong)).cast("int") + 1)
            when(advT, struct((n + 1).as("n"),
              when(size(w) < capW, concat(w, array(e.getField("us"))))
                .otherwise(w).as("w")))
              .otherwise(st)
          })))
    val zero = struct(lit(0L).as("n"), array().cast("array<long>").as("w"))
    val merged = aggregate(col("segs"), zero, (st, seg) =>
      ExprUtil.bound(element_at(seg.getField("f"),
          pmod(st.getField("n"), lit(k.toLong)).cast("int") + 1)) { slot =>
        struct((st.getField("n") + slot.getField("n")).as("n"),
          concat(st.getField("w"),
            slice(slot.getField("w"), lit(1),
              greatest(lit(capW) - size(st.getField("w")), lit(0))))
            .as("w"))
      })
    (segs, merged)
  }

  /**
   * Flink CEP's TRAILING `notFollowedBy(B)` — legal in Flink ONLY
   * under `within(T)` ("a pattern sequence cannot end in
   * notFollowedBy() without a time interval": an unbounded trailing
   * absence never resolves). The ABSENCE ALARM: a match of the stage
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
   * window or killed by its tail blocker (w70's convention).
   *
   * Scale shape: [[funnelMulti]]'s one user-keyed shuffle (the
   * segment twin on the skew-safe route, w27's), then ONE
   * LEFT ANTI equi-join of the (maxMatches-bounded) match stream
   * against the blocker events on the user key — the time range rides
   * the equi-join as its post-condition, never a theta-join — and the
   * answer-sized recount window. Gated w73/w73b against the chained
   * greedy-pick replay with the same two predicates as NOT EXISTS.
   */
  def funnelMatchesAbsence(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String], maxMatches: Int, windowMicros: Long,
      absentType: String, route: Route = Single): DataFrame = {
    require(windowMicros > 0, "need windowMicros > 0")
    val k = stages.length
    val fits = funnelMulti(events, userCol, typeCol, tsCol, orderCol,
        stages, maxMatches, route)
      .filter(col(s"ts${k}_us") - col("ts1_us") <= windowMicros)
    val blockers = events.filter(col(typeCol) === lit(absentType))
      .select(col(userCol).as("user_id"),
        unix_micros(col(tsCol).cast("timestamp")).as("b_us"))
    val survivors = fits.join(blockers,
      fits("user_id") === blockers("user_id") &&
        col("b_us") > fits(s"ts${k}_us") &&
        col("b_us") <= fits("ts1_us") + lit(windowMicros),
      "left_anti")
    survivors.withColumn("n_matches",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")))
  }

  // -------------------------------------------------------------------
  // AFTER MATCH SKIP strategies — Flink CEP's AfterMatchSkipStrategy
  // -------------------------------------------------------------------

  /** Flink CEP `AfterMatchSkipStrategy` counterpart for ordered-pattern
    * match enumeration (the reference has no CEP; the Flink API surface
    * is the north-star this family closes — [[funnelMulti]] covered
    * SKIP_PAST_LAST_EVENT as a greedy-restart machine, this closes the
    * remaining strategies on a per-start-branch reduction). */
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

  private val ChainType = "array<struct<us:bigint,oid:bigint>>"

  private def emptyChains = array().cast(s"array<$ChainType>")

  /** One event through the per-start BRANCH NFA: bucket j (1-based)
    * holds the witness prefixes of every branch that has matched stages
    * 1..j, in start order; all branches in a bucket advance TOGETHER on
    * the bucket's next stage type (greedy `followedBy` binds the first
    * qualifying event, which is the same event for every branch waiting
    * on it — this coalescing is what keeps per-start enumeration
    * linear). New buckets are built from the PRE-event state
    * simultaneously, so a branch advances at most one stage per event
    * even when consecutive stage types repeat; bucket monotonicity
    * (earlier starts sit in higher buckets) makes `stay ++ arrive`
    * start-ordered. Completions append to `done` in completion order,
    * start order within one completing event — exactly the order Flink
    * emits matches in. */
  private def chainsStep(st: Column, e: Column, types: Seq[String]): Column = {
    val k = types.length
    val wit = array(struct(e.getField("us").as("us"),
      e.getField("oid").as("oid")))
    def bktOf(j: Int) = element_at(st.getField("bkt"), j)
    def tpIs(stage: Int) = e.getField("tp") === lit(types(stage - 1))
    val newBkt = (1 to k - 1).map { j =>
      val stay = when(tpIs(j + 1), emptyChains).otherwise(bktOf(j))
      val arrive =
        if (j == 1) when(tpIs(1), array(wit)).otherwise(emptyChains)
        else when(tpIs(j), transform(bktOf(j - 1), c => concat(c, wit)))
          .otherwise(emptyChains)
      concat(stay, arrive)
    }
    val completions =
      when(tpIs(k), transform(bktOf(k - 1), c => concat(c, wit)))
        .otherwise(emptyChains)
    struct(array(newBkt: _*).as("bkt"),
      concat(st.getField("done"), completions).as("done"))
  }

  /** One completed chain through the pruning-scan state
    * `(mu, mo, n, out)` — shared by the fused single fold (which
    * prunes completions the moment they emerge) and the bucketed
    * twin's post-sort scan: each EMITTED match raises the kill
    * threshold to its anchor event's total-order position, and a later
    * completion emits iff its start is at-or-after (strictly after for
    * [[SkipPastLast]]) the threshold — a branch killed while partial
    * is exactly a completion whose start fails the check. `anchor` is
    * the 1-based EXPANDED witness index (None = no pruning); the
    * output list caps at `maxMatches` while `n` counts the TRUE
    * emitted total (the cap never feeds the threshold — the w18
    * capped-monoid rule). */
  private def pruneStep(s: Column, c: Column, anchor: Option[Int],
      inclusive: Boolean, maxMatches: Int): Column = {
    val (mu, mo) = (s.getField("mu"), s.getField("mo"))
    val su = element_at(c, 1).getField("us")
    val so = element_at(c, 1).getField("oid")
    val surv =
      if (inclusive) su > mu || (su === mu && so >= mo)
      else su > mu || (su === mu && so > mo)
    val (nmu, nmo) = anchor match {
      case None => (mu, mo)
      case Some(a) =>
        val au = element_at(c, a).getField("us")
        val ao = element_at(c, a).getField("oid")
        val grow = au > mu || (au === mu && ao > mo)
        (when(surv && grow, au).otherwise(mu),
          when(surv && grow, ao).otherwise(mo))
    }
    struct(nmu.as("mu"), nmo.as("mo"),
      (s.getField("n") + when(surv, 1L).otherwise(0L)).as("n"),
      when(surv && size(s.getField("out")) < maxMatches,
        concat(s.getField("out"), array(c)))
        .otherwise(s.getField("out")).as("out"))
  }

  private def pruneInit: Column =
    struct(lit(Long.MinValue).as("mu"), lit(Long.MinValue).as("mo"),
      lit(0L).as("n"), emptyChains.as("out"))

  /** Completion-order pruning scan over an assembled chain list (the
    * bucketed twin's path — the single fold fuses [[pruneStep]] into
    * the event fold instead, so no per-user completion list is ever
    * materialized there). */
  private def pruneChains(done: Column, anchor: Option[Int],
      inclusive: Boolean, maxMatches: Int): Column =
    aggregate(done, pruneInit,
      pruneStep(_, _, anchor, inclusive, maxMatches))

  /** The FUSED single-fold step: [[chainsStep]]'s bucket moves with
    * the pruning scan applied to each event's completions as they
    * emerge (they emerge exactly in scan order — completion order,
    * start order within one event), so the fold never materializes a
    * per-user completion list: state = k-1 buckets + the 4-field scan
    * state, and the output list is capped. Without the fusion a
    * match-heavy key pays quadratic list copying on an unbounded
    * `done` array — the same reason [[funnelMulti]] caps its witness
    * list. */
  private def skipStep(st: Column, e: Column, types: Seq[String],
      anchor: Option[Int], inclusive: Boolean, maxMatches: Int): Column = {
    val k = types.length
    val wit = array(struct(e.getField("us").as("us"),
      e.getField("oid").as("oid")))
    def bktOf(j: Int) = element_at(st.getField("bkt"), j)
    def tpIs(stage: Int) = e.getField("tp") === lit(types(stage - 1))
    val newBkt = (1 to k - 1).map { j =>
      val stay = when(tpIs(j + 1), emptyChains).otherwise(bktOf(j))
      val arrive =
        if (j == 1) when(tpIs(1), array(wit)).otherwise(emptyChains)
        else when(tpIs(j), transform(bktOf(j - 1), c => concat(c, wit)))
          .otherwise(emptyChains)
      concat(stay, arrive)
    }
    val completions =
      when(tpIs(k), transform(bktOf(k - 1), c => concat(c, wit)))
        .otherwise(emptyChains)
    // let-bound: the scan is read field-by-field and lambda bodies get
    // no CSE — unbound, the completion aggregate would re-run 4× per
    // event (each re-walking the bucket transform)
    ExprUtil.bound(aggregate(completions,
      struct(st.getField("mu").as("mu"), st.getField("mo").as("mo"),
        st.getField("n").as("n"), st.getField("out").as("out")),
      pruneStep(_, _, anchor, inclusive, maxMatches))) { scan =>
      struct(array(newBkt: _*).as("bkt"), scan.getField("mu").as("mu"),
        scan.getField("mo").as("mo"), scan.getField("n").as("n"),
        scan.getField("out").as("out"))
    }
  }

  /** Emitted-match projection: first `maxMatches` surviving chains as
    * `(match_idx, n_matches, ts1_us..tsk_us)` rows, `n_matches` the
    * TRUE post-prune total; zero-match users emit nothing. */
  private def skipOut(p: Column, k: Int): Column = {
    val n = p.getField("n")
    val out = p.getField("out")
    when(size(out) > 0,
      transform(sequence(lit(1), size(out)), m =>
        struct(m.cast("long").as("match_idx") +: n.as("n_matches") +:
          (1 to k).map(j => element_at(element_at(out, m), j)
            .getField("us").as(s"ts${j}_us")): _*)))
      .otherwise(array().cast(
        s"array<struct<match_idx:bigint,n_matches:bigint,${
          (1 to k).map(j => s"ts${j}_us:bigint").mkString(",")}>>"))
  }

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
   * after-match skip strategy. The Spark-first reduction: the NFA's
   * branch set is ONE GREEDY CHAIN PER START EVENT (deterministic
   * `followedBy` binds each next stage to the first qualifying event),
   * chains are monotone in their start (an earlier start never binds a
   * later event at any stage), so completions arrive in start order
   * and the whole machine is the [[chainsStep]] bucket fold — O(k)
   * buckets whose total chain count is bounded by the user's
   * stage-1-type event count (the same O(events-per-user) class as the
   * event array the family already collects; skewed keys take the
   * skew-safe route, [[skipBucketed]]). Per-event cost scales with the
   * PENDING branch count, so this is the family where the skew-safe
   * route pays BEYOND feasibility: measured at a 20M-event power key
   * with ~160 branches pending, the single fold took 885 s and the
   * bucketed split 343 s (2.6×), while the single fold still dies at
   * the 48M row wall ([[Route]]). The strategy is then EXACTLY the
   * [[pruneStep]] completion-order scan — Flink emits matches as they
   * complete and prunes live partials against each emission's anchor —
   * FUSED into
   * the event fold ([[skipStep]]): completions emerge in scan order,
   * so no per-user completion list is ever materialized and the only
   * unbounded state is the pending-branch buckets. ONE user-keyed
   * shuffle; output rows `(user_id, match_idx, n_matches,
   * ts1_us..tsk_us)` over the EXPANDED stage list.
   */
  def funnelSkip(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[(String, Int)],
      skip: SkipStrategy, maxMatches: Int,
      route: Route = Single): DataFrame = {
    skipRequire(stages, skip, maxMatches)
    val types = expandStages(stages)
    val k = types.length
    val (anchor, inclusive) = skipAnchor(stages, skip)
    val init = struct(array(Seq.fill(k - 1)(emptyChains): _*).as("bkt"),
      lit(Long.MinValue).as("mu"), lit(Long.MinValue).as("mo"),
      lit(0L).as("n"), emptyChains.as("out"))
    val folded = aggregate(col("evs"), init,
      skipStep(_, _, types, anchor, inclusive, maxMatches))
    val out = resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => skipBucketed(events, userCol, typeCol, tsCol,
        orderCol, types, anchor, inclusive, maxMatches, b)
      case None => userEvents(events, userCol, tsCol, orderCol,
          typed(typeCol))
        .select(col("user_id"),
          explode(ExprUtil.bound(folded)(skipOut(_, k))).as("m"))
    }
    out.select(col("user_id") +: col("m.match_idx") +: col("m.n_matches") +:
      (1 to k).map(j => col(s"m.ts${j}_us")): _*)
  }

  /**
   * [[funnelSkip]] for SKEWED keys — the time-bucketed split. The
   * segment summary exploits the same coalescing that keeps the single
   * fold linear: every branch in a bucket moves TOGETHER, so a
   * segment's effect on the chains that ENTER it at bucket r is one
   * scalar simulation (final bucket index + the witness suffix all of
   * them append — k-1 simulations total), plus the full machine run
   * from empty state for the segment's INTERNAL starts (partials per
   * exit bucket + internal completions). Composition re-distributes
   * the carried buckets through the entry table (higher entry buckets
   * first — start monotonicity makes `carried ++ internal` start-
   * ordered) and concatenates completions; the global completion
   * order is restored at the end by ONE sort on (completion, start)
   * — total, because starts are unique — and the pruning scan then
   * runs identically to the single fold. Exact, not approximate:
   * nothing is capped before the sort (chain counts are bounded by
   * per-segment start counts, the same class as the event arrays).
   */
  private def skipBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      types: Seq[String], anchor: Option[Int], inclusive: Boolean,
      maxMatches: Int, bucketSeconds: Long): DataFrame = {
    val k = types.length
    val initEmpty = struct(
      array(Seq.fill(k - 1)(emptyChains): _*).as("bkt"),
      emptyChains.as("done"))
    val segSummary = ExprUtil.bound(
      aggregate(col("evs"), initEmpty, chainsStep(_, _, types))) { full =>
      struct(
        transform(sequence(lit(1), lit(k - 1)), r =>
          aggregate(col("evs"),
            struct(r.cast("int").as("idx"),
              array().cast(ChainType).as("suf")),
            (st, e) => {
              val idx = st.getField("idx")
              val adv = idx < k &&
                e.getField("tp") === element_at(typedLit(types), idx + 1)
              when(adv, struct((idx + 1).as("idx"),
                concat(st.getField("suf"), array(struct(
                  e.getField("us").as("us"), e.getField("oid").as("oid"))))
                  .as("suf")))
                .otherwise(st)
            })).as("ent"),
        full.getField("bkt").as("part"),
        full.getField("done").as("done"))
    }
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)("f" -> segSummary)
    val merged = aggregate(col("segs"), initEmpty, (st, s) => {
      val seg = s.getField("f")
      def entIdx(r: Int) = element_at(seg.getField("ent"), r).getField("idx")
      def grp(r: Int) = transform(element_at(st.getField("bkt"), r),
        c => concat(c, element_at(seg.getField("ent"), r).getField("suf")))
      val newBkt = (1 to k - 1).map { b =>
        concat(((k - 1) to 1 by -1).map(r =>
          when(entIdx(r) === b, grp(r)).otherwise(emptyChains)) :+
          element_at(seg.getField("part"), b): _*)
      }
      val doneAdd = concat(((k - 1) to 1 by -1).map(r =>
        when(entIdx(r) === k, grp(r)).otherwise(emptyChains)) :+
        seg.getField("done"): _*)
      struct(array(newBkt: _*).as("bkt"),
        concat(st.getField("done"), doneAdd).as("done"))
    })
    val doneSorted = transform(
      sort_array(transform(merged.getField("done"), c => struct(
        element_at(c, -1).getField("us").as("cu"),
        element_at(c, -1).getField("oid").as("co"),
        c.as("ch")))),
      x => x.getField("ch"))
    segs.select(col("user_id"), explode(ExprUtil.bound(
      pruneChains(doneSorted, anchor, inclusive, maxMatches))(
      skipOut(_, k))).as("m"))
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
   * overlaps). Path counting in the event DAG: one fold holding
   * `cnt[j]` = combinations completing the first j stages; an event of
   * type t_j adds `cnt[j-1]` (every prefix combination extends through
   * it exactly once), processed HIGH stage first so an event never
   * extends the combinations it just created (the pre-state rule,
   * built into the simultaneous array rebuild). ONE user-keyed
   * shuffle, O(k) state, no enumeration blow-up — the count can still
   * be combinatorially LARGE (it is the answer); it overflows Long
   * beyond ~9e18 combinations, long past any enumerable regime.
   * Output: (user_id, n_any) with n_any = cnt[k], 0 included.
   * Skew-safe route: [[anyCountBucketed]] (w29).
   */
  def funnelAnyCount(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, orderCol: String, stages: Seq[String],
      route: Route = Single): DataFrame = {
    val k = stages.length
    require(k >= 1, "need at least one stage")
    val init = array_repeat(lit(0L), k)
    val folded = aggregate(col("evs"), init, (c, e) =>
      array((1 to k).map { j =>
        val add = if (j == 1) when(e.getField("tp") === lit(stages(0)), lit(1L))
            .otherwise(lit(0L))
          else when(e.getField("tp") === lit(stages(j - 1)),
            element_at(c, j - 1)).otherwise(lit(0L))
        element_at(c, j) + add
      }: _*))
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => anyCountBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, b)
      case None => userEvents(events, userCol, tsCol, orderCol, typed(typeCol))
        .select(col("user_id"), element_at(folded, k).as("n_any"))
    }
  }

  /**
   * [[funnelAnyCount]] for SKEWED keys: the count vector evolves
   * LINEARLY (each event is a unit-triangular integer matrix acting on
   * the homogenized vector [1, cnt1..cntk]), so a segment's effect is
   * the (k+1)×(k+1) product matrix — the cheapest summary in the whole
   * funnel family — and composition is one matrix–vector product per
   * segment. Bit-identical to the single fold; gates on w28's oracle
   * VERBATIM.
   */
  private def anyCountBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[String], bucketSeconds: Long): DataFrame = {
    val k = stages.length
    // segment summary: fold the homogenized matrix rows — row i of the
    // product matrix = the fold started from unit vector e_i (i = 0 is
    // the constant-1 slot, i.e. fresh combinations)
    def foldRow(entry: Int): Column = {
      val init = array((0 to k).map(j =>
        lit(if (j == entry) 1L else 0L)): _*)
      aggregate(col("evs"), init, (c, e) =>
        array(element_at(c, 1) +: (1 to k).map { j =>
          val add = when(e.getField("tp") === lit(stages(j - 1)),
            element_at(c, j)).otherwise(lit(0L))
          element_at(c, j + 1) + add
        }: _*))
    }
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)("m" -> array((0 to k).map(foldRow): _*))
    // merged state = homogenized vector [1, cnt1..cntk]
    val zero = array(lit(1L) +: Seq.fill(k)(lit(0L)): _*)
    val merged = aggregate(col("segs"), zero, (v, seg) =>
      array((0 to k).map { j =>
        (0 to k).map(i => element_at(v, i + 1) *
            element_at(element_at(seg.getField("m"), i + 1), j + 1))
          .reduce(_ + _)
      }: _*))
    segs.select(col("user_id"), element_at(merged, k + 1).as("n_any"))
  }

  /** Shared step of the combinations path-count: homogenized vector
    * `[1, cnt1..cntk]`; a type-j event adds `cnt[j-1]` (extend every
    * prefix combination through it — the followedByAny rule) and, when
    * stage j is a LOOP (`oneOrMore().allowCombinations()`), ALSO adds
    * `cnt[j]` (every existing stage-j combination may take this event
    * as one more member — all its members precede it by induction), so
    * a loop stage's diagonal coefficient is 2. All reads are
    * PRE-state (simultaneous rebuild — an event never extends the
    * combinations it just created). */
  private def combiStep(c: Column, e: Column,
      stages: Seq[(String, Boolean)]): Column =
    array(element_at(c, 1) +: (1 to stages.length).map { j =>
      val (t, loop) = stages(j - 1)
      val add = when(e.getField("tp") === lit(t),
        element_at(c, j) +
          (if (loop) element_at(c, j + 1) else lit(0L)))
        .otherwise(lit(0L))
      element_at(c, j + 1) + add
    }: _*)

  /**
   * Flink CEP's `oneOrMore().allowCombinations()` match MULTIPLICITY —
   * [[funnelAnyCount]] extended with LOOPING stages: a loop stage
   * matches every non-empty ordered SUBSET of its type's events
   * between the surrounding stages (Flink's non-deterministic relaxed
   * contiguity inside the repetition), so the count for `a b+ c` is
   * Σ over (a, c) pairs of `2^{#b between} − 1`. Same scale shape as
   * the path counter: ONE user-keyed shuffle, k+1 longs of state, the
   * count is the answer (enumeration would be the blow-up). `stages`
   * = (type, isCombinationsLoop). Output: (user_id, n_combi), 0
   * included. Skew-safe route: [[combinationsBucketed]] (w41).
   */
  def funnelCombinations(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Boolean)], route: Route = Single): DataFrame = {
    val k = stages.length
    require(k >= 1, "need at least one stage")
    val init = array(lit(1L) +: Seq.fill(k)(lit(0L)): _*)
    val folded = aggregate(col("evs"), init, combiStep(_, _, stages))
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => combinationsBucketed(events, userCol, typeCol, tsCol,
        orderCol, stages, b)
      case None => userEvents(events, userCol, tsCol, orderCol, typed(typeCol))
        .select(col("user_id"), element_at(folded, k + 1).as("n_combi"))
    }
  }

  /**
   * [[funnelCombinations]] for SKEWED keys: the combinations vector
   * evolves LINEARLY too (a loop stage's event matrix carries 2 on
   * its diagonal — still integer, still exact), so the segment
   * summary is the same (k+1)×(k+1) product matrix as
   * [[anyCountBucketed]]'s. Bit-identical to the single fold;
   * gates on w39's oracle VERBATIM.
   */
  private def combinationsBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String,
      stages: Seq[(String, Boolean)], bucketSeconds: Long): DataFrame = {
    val k = stages.length
    def foldRow(entry: Int): Column = {
      val init = array((0 to k).map(j =>
        lit(if (j == entry) 1L else 0L)): _*)
      aggregate(col("evs"), init, combiStep(_, _, stages))
    }
    val segs = segments(events, userCol, tsCol, orderCol, typed(typeCol),
      bucketSeconds)("m" -> array((0 to k).map(foldRow): _*))
    val zero = array(lit(1L) +: Seq.fill(k)(lit(0L)): _*)
    val merged = aggregate(col("segs"), zero, (v, seg) =>
      array((0 to k).map { j =>
        (0 to k).map(i => element_at(v, i + 1) *
            element_at(element_at(seg.getField("m"), i + 1), j + 1))
          .reduce(_ + _)
      }: _*))
    segs.select(col("user_id"), element_at(merged, k + 1).as("n_combi"))
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
    * min-dominance fold rests on. */
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
    * the three surfaces (array fold / sorted fold / streaming) must
    * agree — a silent per-surface default would break their
    * bit-identity (the sorted path would read 0, the streaming
    * encoder would crash opaquely; round-16 review). One branch per
    * row. */
  private[graft] def iterVal(valCol: String,
      op: String = "funnelIterative"): Column =
    coalesce(col(valCol).cast("long"),
      raise_error(lit(s"$op: NULL in value column " +
        s"'$valCol' — value conditions require a non-null integer " +
        "fixed-point value; filter or default NULLs first")).cast("long"))

  /** One event's transition of the min-anchor dominance fold. State:
    * `d[j]` — the MINIMAL anchor value among chains that have
    * completed stage j (AnchorFirst: min first value; AnchorPrev: min
    * stage-j matched value; NULL = no chain); `ts[j]` — sticky first
    * event time stage j was matched by ANY valid chain.
    *
    * Why one value per stage is lossless (the dominance argument that
    * keeps Flink's exponential SharedBuffer out of the state): with
    * `num >= 0`, an event's feasibility `v·den > a·num` is MONOTONE in
    * the anchor `a` — the min-anchor chain can extend whenever any
    * chain can. Under AnchorFirst an extension PRESERVES the anchor,
    * so the extended set's min is the old min; under AnchorPrev every
    * extension's new anchor is the same `v`, so the stage-(j+1) set
    * is rebuilt from the events that ever joined and its min is the
    * running min of those. Either way the reachable-set min IS the
    * tracked value, and `adv(j)` fires iff the true NFA has some
    * chain advance — which also makes `ts[j]` exact. Advances read
    * the PRE state (an event never extends the chains it creates). */
  private def iterStep(st: Column, e: Column, stages: Seq[IterStage],
      anchorFirst: Boolean): Column = {
    val k = stages.length
    val d = st.getField("d"); val ts = st.getField("ts")
    val tp = e.getField("tp"); val us = e.getField("us")
    val v = e.getField("v")
    def adv(j: Int): Column = {
      val tOk = tp === lit(stages(j - 1).tp)
      if (j == 1) tOk
      else {
        val prev = element_at(d, j - 1)
        val cOk = stages(j - 1).cond match {
          case Some(RelGt(num, den)) => v * lit(den) > prev * lit(num)
          case None => lit(true)
        }
        tOk && prev.isNotNull && cOk
      }
    }
    val newD = array((1 to k).map { j =>
      val cand = if (j == 1 || !anchorFirst) v else element_at(d, j - 1)
      when(adv(j), least(element_at(d, j), cand))
        .otherwise(element_at(d, j))
    }: _*)
    val newTs = array((1 to k).map(j =>
      coalesce(element_at(ts, j), when(adv(j), us))): _*)
    struct(newD.as("d"), newTs.as("ts"))
  }

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
   * that to ONE dominant anchor per stage ([[iterStep]]'s argument),
   * so the whole operator is the usual single fold: ONE user-keyed
   * shuffle, 2k longs of state. Output `(user_id, stage_reached,
   * ts1_us..tsk_us)` — `ts<j>_us` the first event time stage j was
   * matched by any valid chain. `valCol` must already be integer
   * fixed-point. Oracle: chained total-order hop joins CARRYING the
   * anchor (first value, or the hop event's own value), the hop
   * predicate `v·den > anchor·num` verbatim, min-time per stage.
   *
   * The skew-safe route is the SORT-BASED fold ([[iterativeSorted]]),
   * not a segment split, so [[Bucketed]]'s `seconds` is unused here;
   * like every other route it builds with no Spark job.
   * Measured with one power key: the single fold dies at a 48M-event
   * key while the sorted fold completes in 27 s, and the sorted fold
   * already wins 3.2× at 10M, so [[Auto]]'s 16M threshold errs safe.
   * Gates: w50/w51 (single), w52 (sorted), w55 (auto).
   */
  def funnelIterative(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String, valCol: String,
      stages: Seq[IterStage], anchor: IterAnchor = AnchorFirst,
      route: Route = Single): DataFrame = {
    iterRequire(stages)
    val k = stages.length
    val init = struct(
      array_repeat(lit(null).cast("long"), k).as("d"),
      array_repeat(lit(null).cast("long"), k).as("ts"))
    val folded = aggregate(col("evs"), init,
      (st, e) => iterStep(st, e, stages, anchor == AnchorFirst))
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(_) => iterativeSorted(events, userCol, typeCol, tsCol,
        orderCol, valCol, stages, anchor)
      case None => userEvents(events, userCol, tsCol, orderCol,
          typed(typeCol) :+ ("v" -> iterVal(valCol)))
        .select(col("user_id") +: ExprUtil.bound(folded) { f =>
          val ts = f.getField("ts")
          struct((1 to k).map(j =>
              when(element_at(ts, j).isNotNull, 1).otherwise(0))
            .reduce(_ + _).as("stage_reached") +:
            (1 to k).map(j => element_at(ts, j).as(s"ts${j}_us")): _*)
        }.as("f") +: Nil: _*)
        .select(col("user_id") +: (col("f.stage_reached") +:
          (1 to k).map(i => col(s"f.ts${i}_us"))): _*)
    }
  }

  /**
   * [[funnelIterative]] for SKEWED keys — and an honest departure
   * from the family's segment-monoid recipe: an iterative condition
   * makes a segment's effect depend on the entry anchors through
   * VALUE comparisons (`v·den > a·num` with `a` unknown at summary
   * time), so the exit state is a step function of each entry value
   * with breakpoints at the segment's own events — no O(k) summary
   * exists, which is the same reason Flink evaluates iterative
   * conditions sequentially per key. The skew-safe plan is therefore
   * the SORT-BASED fold: ONE hash exchange on the user key, an
   * external (spill-backed) secondary sort on (user, time, id), and
   * a streaming per-key pass holding just the 2k-long state — no
   * per-key collected array, so the ~2 GB UnsafeRow wall does not
   * exist on this path and memory is O(k) whatever the key's event
   * count (a 48M-event power key streams from the sorter's spill
   * files; wall-clock concentrates on that key's task, which no
   * correct plan for a sequential-condition fold can avoid).
   * Bit-identical to [[funnelIterative]] by construction — same
   * integer ops in the same total order (spec-asserted; gated on the
   * same oracle VERBATIM).
   */
  private def iterativeSorted(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String, valCol: String,
      stages: Seq[IterStage], anchor: IterAnchor): DataFrame = {
    val k = stages.length
    // oid keeps the order column's NATIVE type: the array fold's
    // sort_array ties break in that type's own ordering, and a cast
    // here (e.g. string "9"/"10") would re-order ties and break the
    // twins' bit-identity (round-16 review)
    val base = events.select(col(userCol).as("user_id"),
      unix_micros(col(tsCol).cast("timestamp")).as("us"),
      col(orderCol).as("oid"),
      col(typeCol).as("tp"), iterVal(valCol).as("v"))
    val parted = base.repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "oid")
    val userType = base.schema("user_id").dataType
    val outSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("user_id", userType) +:
        org.apache.spark.sql.types.StructField("stage_reached",
          org.apache.spark.sql.types.IntegerType, nullable = false) +:
        (1 to k).map(j => org.apache.spark.sql.types.StructField(
          s"ts${j}_us", org.apache.spark.sql.types.LongType)))
    val anchorFirst = anchor == AnchorFirst
    val st = stages.toArray
    // a Dataset map, not an RDD handed to createDataFrame: the plan
    // stays lazy, so building it runs neither the scan nor the shuffle
    parted.mapPartitions { it =>
      val buf = it.buffered
      new Iterator[org.apache.spark.sql.Row] {
        def hasNext: Boolean = buf.hasNext
        def next(): org.apache.spark.sql.Row = {
          val user = buf.head.get(0)
          val d = new Array[Long](k)
          val ts = Array.fill(k)(IterUnreached)
          while (buf.hasNext && buf.head.get(0) == user) {
            val r = buf.next()
            iterAdvance(st, anchorFirst, d, ts, r.getLong(1), r.getString(3),
              r.getLong(4))
          }
          org.apache.spark.sql.Row.fromSeq(user +:
            ts.count(_ != IterUnreached) +: ts.toSeq.map(t =>
              if (t == IterUnreached) null else t))
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** [[iterAdvance]]'s mark for a stage no chain has reached yet. */
  private[graft] val IterUnreached = Long.MinValue

  /** One event of the min-anchor dominance fold ([[iterStep]]'s
    * transition and argument) over plain arrays, IN PLACE: `ts(j) ==
    * [[IterUnreached]]` marks stage j unreached, and `d(j)` is valid
    * exactly where `ts(j)` is set (both are first written by the same
    * advance). Walking the stages in DESCENDING order is the pre-state
    * rule with zero allocations: stage j reads only slot j-1, which
    * the walk has not yet written (clone-per-event was ~100M arrays at
    * a 48M-event power key). The sorted skew route and the streaming
    * twin both fold with this one function. */
  private[graft] def iterAdvance(stages: Array[IterStage],
      anchorFirst: Boolean, d: Array[Long], ts: Array[Long], us: Long,
      tp: String, v: Long): Unit = {
    var j = stages.length - 1
    while (j >= 0) {
      val passes = tp == stages(j).tp && (j == 0 ||
        (ts(j - 1) != IterUnreached && (stages(j).cond match {
          case Some(RelGt(num, den)) => v * den > d(j - 1) * num
          case None => true
        })))
      if (passes) {
        val cand = if (j == 0 || !anchorFirst) v else d(j - 1)
        d(j) = if (ts(j) != IterUnreached) math.min(d(j), cand) else cand
        if (ts(j) == IterUnreached) ts(j) = us
      }
      j -= 1
    }
  }

  /**
   * `followedByAny` match ENUMERATION: every ordered event combination
   * matching the pattern, one row per match. Inherently
   * answer-size-bound (the t79 rationale) — the output IS the
   * combination set, so the right plan is the chained equi-join on
   * user with a range predicate per hop, which Spark distributes and
   * AQE sizes; a fold cannot beat the output's own cardinality. Use
   * [[funnelAnyCount]] when only multiplicity is needed. Columns:
   * (user_id, ts1_us .. tsk_us), ordered combinations in the
   * (event-time, event_id) total order.
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

  /** The advance test of the PREDICATE funnel: does event `e` satisfy
    * the CURRENT stage's condition? One CASE over the stage pointer —
    * predicates are arbitrary per-stage Columns over the event
    * struct, so there is no lookup table to index. */
  private def whereAdv(s: Column, e: Column,
      stages: Seq[Column => Column]): Column =
    stages.zipWithIndex.foldLeft(lit(false)) { case (acc, (p, i)) =>
      when(s === i, p(e)).otherwise(acc)
    }

  /** Column names the predicate-funnel internals own — a carried
    * event column by one of these names would be silently shadowed
    * (the `bkt` helper overwrite being the nastiest: predicates would
    * read bucket indexes), so the surface rejects them loudly. */
  private val WhereReserved = Set("us", "oid", "bkt", "user_id")

  private def whereRequire(carryCols: Seq[String],
      stages: Seq[Column => Column]): Unit = {
    require(stages.nonEmpty, "need at least one stage")
    require(carryCols.nonEmpty, "need at least one carried event column")
    val clash = carryCols.filter(WhereReserved)
    require(clash.isEmpty,
      s"carried column name(s) ${clash.mkString(", ")} collide with the " +
        "funnel's internal us/oid/bkt/user_id columns — rename them first")
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
   * prefix and greedy breaks). Same scale shape as [[funnel]]: ONE
   * user-keyed shuffle, one expression fold, pointer + k timestamps
   * of state.
   *
   * `carryCols` names the event columns the predicates may read
   * (each becomes a field of the struct handed to every predicate,
   * alongside `us` and `oid`); carrying only what conditions need
   * keeps the collected array narrow. Output identical to [[funnel]]:
   * `(user_id, stage_reached, ts1_us..tsk_us)`. Oracle: the w12
   * chained greedy row_number-1 picks with each hop's WHERE spelling
   * the same predicate; skew-safe route: [[whereBucketed]] (w54).
   */
  def funnelWhere(events: DataFrame, userCol: String, tsCol: String,
      orderCol: String, carryCols: Seq[String],
      stages: Seq[Column => Column], route: Route = Single): DataFrame = {
    val k = stages.length
    whereRequire(carryCols, stages)
    val init = struct(lit(0).as("s"),
      array_repeat(lit(null).cast("long"), k).as("ts"))
    val folded = aggregate(col("evs"), init, (st, e) =>
      when(st.getField("s") < k && whereAdv(st.getField("s"), e, stages),
        struct((st.getField("s") + 1).as("s"),
          transform(st.getField("ts"), (x, i) =>
            when(i === st.getField("s"), e.getField("us")).otherwise(x))
            .as("ts")))
        .otherwise(st))
    resolve(route, events, userCol, AutoBucketKeyEvents) match {
      case Some(b) => whereBucketed(events, userCol, tsCol, orderCol,
        carryCols, stages, b)
      case None => userEvents(events, userCol, tsCol, orderCol,
          carryCols.map(c => c -> col(c)))
        .select(col("user_id") +: ExprUtil.bound(folded) { f =>
          struct(f.getField("s").as("stage_reached") +:
            (1 to k).map(i =>
              element_at(f.getField("ts"), i).as(s"ts${i}_us")): _*)
        }.as("f") +: Nil: _*)
        .select(col("user_id") +: (col("f.stage_reached") +:
          (1 to k).map(i => col(s"f.ts${i}_us"))): _*)
    }
  }

  /**
   * [[funnelWhere]] for SKEWED keys — [[greedyBucketed]]'s segment
   * monoid verbatim: the monoid argument never used WHAT the advance
   * test is, only that it is a function of (event, stage), which a
   * per-stage predicate still is — a segment's effect from any entry
   * stage remains (exit stage, witnesses), k+2 slots of metadata.
   * Bit-identical to the single fold (spec-asserted); gated on w53's
   * oracle VERBATIM (w54).
   */
  private def whereBucketed(events: DataFrame, userCol: String,
      tsCol: String, orderCol: String, carryCols: Seq[String],
      stages: Seq[Column => Column], bucketSeconds: Long): DataFrame = {
    val k = stages.length
    def foldFromWhere(evs: Column, entry: Column): Column =
      aggregate(evs,
        struct(entry.as("s"), array().cast("array<long>").as("w")),
        (st, e) => when(st.getField("s") < k &&
            whereAdv(st.getField("s"), e, stages),
          struct((st.getField("s") + 1).as("s"),
            concat(st.getField("w"), array(e.getField("us"))).as("w")))
          .otherwise(st))
    val segs = segments(events, userCol, tsCol, orderCol,
      carryCols.map(c => c -> col(c)), bucketSeconds)(
      "f" -> transform(sequence(lit(0), lit(k)),
        s => foldFromWhere(col("evs"), s)))
    val zero = struct(lit(0).as("s"), array().cast("array<long>").as("w"))
    val merged = aggregate(col("segs"), zero, (st, seg) =>
      struct(
        element_at(seg.getField("f"), st.getField("s") + 1)
          .getField("s").as("s"),
        concat(st.getField("w"),
          element_at(seg.getField("f"), st.getField("s") + 1).getField("w"))
          .as("w")))
    segs.select(col("user_id") +: ExprUtil.bound(merged) { r =>
        struct(r.getField("s").as("stage_reached") +:
          (1 to k).map(i =>
            when(size(r.getField("w")) >= i, element_at(r.getField("w"), i))
              .as(s"ts${i}_us")): _*)
      }.as("f") +: Nil: _*)
      .select(col("user_id") +: (col("f.stage_reached") +:
        (1 to k).map(i => col(s"f.ts${i}_us"))): _*)
  }

  /** The greedy stage fold from an ARBITRARY entry stage, over a sorted
    * event array — the segment building block [[withinBucketed]]
    * composes its crossing-chain summaries from. Witnesses are the
    * event times of the stages advanced WITHIN this fold, in order.
    * (The plain bucketed funnel now shares the predicate family's
    * generalization of this fold instead — see [[greedyBucketed]].) */
  private def foldFrom(evs: Column, entry: Column, k: Int,
      stages: Seq[String]): Column =
    aggregate(evs,
      struct(entry.as("s"), array().cast("array<long>").as("w")),
      (st, e) => when(st.getField("s") < k &&
          e.getField("tp") === element_at(typedLit(stages), st.getField("s") + 1),
        struct((st.getField("s") + 1).as("s"),
          concat(st.getField("w"), array(e.getField("us"))).as("w")))
        .otherwise(st))

  /**
   * [[funnel]] for SKEWED keys — the t23-style bucketed split applied
   * to CEP: a pathological power user's event array would blow the
   * single `collect_list` group, so events split into coarse time
   * buckets, each bucket folds independently, and the per-bucket
   * results merge in bucket order.
   *
   * "Blow" is literal, not rhetorical: past the ~2 GB row wall
   * ([[Route]]) the segment monoid is the only correct plan, not an
   * optimization.
   *
   * What makes the split CORRECT is that the greedy fold is a MONOID
   * under function composition: a segment's effect is fully described
   * by the transition vector `f[s] = (exit stage, witnesses)` for every
   * possible entry stage `s ∈ 0..k` — k+2 slots of metadata, whatever
   * the segment size — and composing segments is one array lookup plus
   * a witness concat. Same output as [[funnel]] bit-for-bit
   * (spec-asserted on random logs with 1-second buckets), two
   * user-keyed shuffles instead of one, per-group memory bounded by
   * the bucket width instead of the user's lifetime.
   *
   * Since round 16 this DELEGATES to [[whereBucketed]] — the
   * segment monoid never read what the advance test is, so the typed
   * family is the predicate family at `e.tp === stage` (one shared
   * implementation instead of two byte-similar copies); the columns
   * are renamed to the family's internal names first, which also
   * makes caller-name collisions with us/oid/bkt impossible here.
   */
  private def greedyBucketed(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, orderCol: String, stages: Seq[String],
      bucketSeconds: Long): DataFrame = {
    val prepared = events.select(col(userCol).as("__u"),
      col(tsCol).as("__ts"), col(orderCol).as("__oid"),
      col(typeCol).as("tp"))
    whereBucketed(prepared, "__u", "__ts", "__oid", Seq("tp"),
      stages.map(t => (e: Column) => e.getField("tp") === lit(t)),
      bucketSeconds)
  }
}
