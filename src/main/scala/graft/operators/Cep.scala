package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.Funnel.{IterStage, PatternStage, RelGt, SkipStrategy}

/**
 * The CEP machines: ONE value per pattern shape (state, `step`,
 * completion and buffering rules), and the batch driver that folds
 * them. Flink runs keyed CEP as one state machine per key over the
 * key's events in time order, whether the input is bounded or not; so
 * does this port. Two drivers run the same machines:
 *
 *   - [[runSorted]], the batch driver behind every `Funnel.funnel*`
 *     shape: one hash exchange on the user, a sort on (user, event
 *     time, order column), and a per-user fold. Nothing per user is
 *     collected, so a power key's log streams from the sorter's spill
 *     files with O(state) memory, whatever its event count;
 *   - `StreamingIngest.cepUpdate`, the event-time buffer behind every
 *     `streamingFunnel*` twin, which folds the events the watermark
 *     has passed, in the same (event time, event_id) order.
 *
 * A machine's `step` is its only transition function: no shape keeps a
 * second implementation of it for another driver or another key size.
 *
 * Serializable because the machines are closures over this object's
 * helpers that ship to the executors; a Scala 2.13 module serializes as
 * a proxy naming its class, never its fields.
 */
private[graft] object Cep extends Serializable {

  /** One event as a machine sees it: (event time µs, order position,
    * type, value). The position orders ties on the event time: the
    * event_id on the streaming side, the rank in the (event time, order
    * column) sort on the batch side, so a non-`Long` order column keeps
    * its own ordering. The value is the stage conditions' integer
    * fixed-point input (0 for the typed shapes, which never read it). */
  type Ev = (Long, Long, String, Long)

  /** A completed match a machine owes: (match_idx, witness times µs). */
  type Match = (Long, Seq[Long])

  /** Slot sentinel for "no partial match here" — the streaming state
    * encoder carries plain longs, not options. */
  val NoStart: Long = Long.MinValue

  /** A CEP machine as a value: everything in which the pattern shapes
    * differ. The drivers own buffering, ordering and output.
    *
    * @param init       the state of a key seen for the first time
    * @param step       fold one event into the state, in event order
    * @param idle       the state holds nothing worth keeping: the
    *                   streaming entry is dropped while nothing is
    *                   buffered, and re-creating it from `init` folds
    *                   identically
    * @param done       the match is complete: the streaming retention
    *                   TTL runs and the buffer drops
    * @param keeps      which immature events stay buffered once the
    *                   machine has folded (default: all until `done`,
    *                   none after) — the loop shapes keep the events a
    *                   complete spine can still absorb
    * @param retainFrom the event time the streaming TTL counts from,
    *                   given the state and the time it first became done
    * @param wakeUps    event times (µs) at which a streaming key must
    *                   re-run even without data (the absence holding pen)
    * @param drain      the matches the folded state owes at a watermark
    *                   (µs), and the state without them; the batch driver
    *                   drains once, at +∞
    */
  final case class Machine[S](
      init: S,
      step: (S, Ev) => S,
      idle: S => Boolean,
      done: S => Boolean = (_: S) => false,
      keeps: Option[(S, Ev) => Boolean] = None,
      retainFrom: (S, Long) => Long = (_: S, doneUs: Long) => doneUs,
      wakeUps: S => Seq[Long] = (_: S) => Nil,
      drain: (S, Long) => (S, Seq[Match]) = (s: S, _: Long) => (s, Nil))

  // -------------------------------------------------------------------
  // The batch driver
  // -------------------------------------------------------------------

  /**
   * Run machine `m` over a bounded event log: hash-partition on the
   * user, sort on (user, event time, order column, type, value), fold
   * each user's events through `init`/`step`, drain the final state at
   * +∞ and project it with `rows` into zero or more output rows
   * (`fields`, after the user column). The user column keeps its
   * native type as `user_id`, and ties on the event time break in the
   * order column's own ordering (the machine sees the rank, never the
   * value). `tp` and `v` are the columns the machine reads as the
   * event type and value.
   *
   * Lazy: a Dataset `mapPartitions`, so building the frame runs no
   * Spark job. Memory is the machine's state per task, whatever a
   * key's event count: there is no per-user array and so no row-size
   * wall.
   */
  def runSorted[S](events: DataFrame, userCol: String, tsCol: String,
      orderCol: String, m: Machine[S], fields: Seq[StructField],
      tp: Column, v: Column = lit(0L))(
      rows: (S, Seq[Match]) => Seq[Seq[Any]]): DataFrame = {
    val base = events.select(col(userCol).as("user_id"),
      unix_micros(col(tsCol).cast("timestamp")).as("us"),
      col(orderCol).as("oid"), tp.as("tp"), v.as("v"))
    val schema = StructType(
      StructField("user_id", base.schema("user_id").dataType) +: fields)
    base.repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "oid", "tp", "v")
      .mapPartitions { it =>
        val buf = it.buffered
        Iterator.continually(buf).takeWhile(_.hasNext).flatMap { _ =>
          val user = buf.head.get(0)
          var s = m.init
          var pos = 0L
          while (buf.hasNext && buf.head.get(0) == user) {
            val r = buf.next()
            s = m.step(s, (r.getLong(1), pos, r.getString(3), r.getLong(4)))
            pos += 1
          }
          val (fin, matches) = m.drain(s, Long.MaxValue)
          rows(fin, matches).iterator.map(vs => Row.fromSeq(user +: vs))
        }
      }(Encoders.row(schema))
  }

  /** A slot value for an output row: NULL for [[NoStart]]. */
  def orNull(x: Long): Any = if (x == NoStart) null else x

  /** Stage reached by a max-start vector (its set slots are a prefix). */
  def slotsSet(b: Seq[Long]): Int = b.count(_ != NoStart)

  /** The window start a max-start vector reports: its deepest set slot. */
  def deepestStart(b: Seq[Long]): Option[Long] = {
    val s = slotsSet(b); if (s > 0) Some(b(s - 1)) else None
  }

  // -------------------------------------------------------------------
  // Greedy pointer: funnel, funnelWhere
  // -------------------------------------------------------------------

  /** The greedy stage pointer and its witnesses. */
  final case class FunnelWhereState(stage: Int, witnessUs: Seq[Long])

  /** Greedy pointer + witnesses: stage j advances on the first event
    * its predicate accepts. Conditions are event-local, so
    * greedy-earliest is existence-optimal and the witnesses are the
    * lexicographically least. */
  def where(stages: IndexedSeq[(String, Long) => Boolean])
      : Machine[FunnelWhereState] = {
    val k = stages.length
    Machine[FunnelWhereState](
      init = FunnelWhereState(0, Nil),
      step = { case (s, (us, _, tp, v)) =>
        if (s.stage < k && stages(s.stage)(tp, v))
          FunnelWhereState(s.stage + 1, s.witnessUs :+ us)
        else s
      },
      idle = _.stage == 0,
      done = _.stage == k)
  }

  /** [[where]] with one type test per stage. */
  def typed(stages: Seq[String]): Machine[FunnelWhereState] =
    where(stages.map(t => (tp: String, _: Long) => tp == t).toIndexedSeq)

  // -------------------------------------------------------------------
  // Max-start DP: funnelWithin, funnelWithinGuarded
  // -------------------------------------------------------------------

  /** The max-start DP vector: b[j] = the latest stage-1 time among
    * in-window chains at stage j ([[NoStart]] when none). */
  final case class FunnelWinState(b: Seq[Long])

  /** Max-start dominance: a later start has a later deadline, so k
    * longs are a lossless state whatever the restart count. Transitions
    * read the pre-event vector, so an event never extends a chain that
    * contains it. */
  def within(stages: IndexedSeq[String],
      windowMicros: Long): Machine[FunnelWinState] = {
    val k = stages.length
    Machine[FunnelWinState](
      init = FunnelWinState(Seq.fill(k)(NoStart)),
      step = { case (s, (us, _, tp, _)) =>
        val pre = s.b.toArray
        val b = pre.clone()
        var j = k
        while (j >= 2) {
          if (tp == stages(j - 1) && pre(j - 2) != NoStart &&
              us <= pre(j - 2) + windowMicros)
            b(j - 1) = math.max(b(j - 1), pre(j - 2))
          j -= 1
        }
        if (tp == stages(0)) b(0) = math.max(b(0), us)
        FunnelWinState(b.toSeq)
      },
      idle = s => slotsSet(s.b) == 0,
      done = s => slotsSet(s.b) == k,
      // the TTL counts from the completing chain's window start
      retainFrom = (s, _) => s.b(k - 1))
  }

  /** The alive max-start vector (killable by gap blockers) and the
    * sticky ever-reached one (the observable). */
  final case class FunnelWinGuardState(b: Seq[Long], m: Seq[Long])

  /** Max-start dominance survives the guards because a blocker kills
    * every alive partial at its stage equally; a killing blocker leaves
    * exactly the partial this event just advanced (if any). */
  def withinGuarded(stages: IndexedSeq[String], windowMicros: Long,
      notBetween: IndexedSeq[Option[String]]): Machine[FunnelWinGuardState] = {
    val k = stages.length
    Machine[FunnelWinGuardState](
      init = FunnelWinGuardState(Seq.fill(k)(NoStart), Seq.fill(k)(NoStart)),
      step = { case (s, (us, _, tp, _)) =>
        val pre = s.b.toArray
        val b = pre.clone()
        val m = s.m.toArray
        var j = 0
        while (j < k) {
          val adv =
            if (j == 0) { if (tp == stages(0)) us else NoStart }
            else if (tp == stages(j) && pre(j - 1) != NoStart &&
              us <= pre(j - 1) + windowMicros) pre(j - 1)
            else NoStart
          val kill = j < k - 1 && notBetween(j).contains(tp)
          b(j) = if (kill) adv else math.max(b(j), adv)
          m(j) = math.max(m(j), adv)
          j += 1
        }
        FunnelWinGuardState(b.toSeq, m.toSeq)
      },
      idle = s => slotsSet(s.m) == 0 && s.b.forall(_ == NoStart),
      done = s => slotsSet(s.m) == k)
  }

  // -------------------------------------------------------------------
  // Boolean NFA: funnelGuarded
  // -------------------------------------------------------------------

  /** The NFA's open-clean and sticky ever-reached bit vectors. */
  final case class FunnelGuardState(o: Seq[Boolean], e: Seq[Boolean])

  /** `o[j]`: some chain is open at stage j with no blocker since its
    * last matched event; `e[j]`: stage j was ever reached by a clean
    * chain. Advances read the pre state (the event that ends a gap is
    * not "between"); chains are independent, so 2k booleans are
    * lossless. */
  def guarded(stages: IndexedSeq[String],
      notBetween: IndexedSeq[Option[String]]): Machine[FunnelGuardState] = {
    val k = stages.length
    Machine[FunnelGuardState](
      init = FunnelGuardState(Seq.fill(k)(false), Seq.fill(k)(false)),
      step = { case (s, (_, _, tp, _)) =>
        val pre = s.o.toArray
        val o = pre.clone()
        val ev = s.e.toArray
        var j = 0
        while (j < k) {
          if (tp == stages(j) && (j == 0 || pre(j - 1))) {
            o(j) = true; ev(j) = true
          } else if (j < k - 1 && notBetween(j).contains(tp)) o(j) = false
          j += 1
        }
        FunnelGuardState(o.toSeq, ev.toSeq)
      },
      idle = s => !s.e.contains(true) && !s.o.contains(true),
      done = _.e.forall(identity))
  }

  // -------------------------------------------------------------------
  // Contiguity NFA: funnelPattern, funnelPatternWithin, group patterns
  // -------------------------------------------------------------------

  /** The l/o NFA (chains ending at the immediately previous event vs
    * earlier) plus the first-match time per stage ([[NoStart]] unset). */
  final case class FunnelPatternState(l: Seq[Boolean], o: Seq[Boolean],
      ts: Seq[Long])

  /** Longest satisfiable prefix of a first-match vector: prefix j is
    * satisfiable when stage j was matched, or stage j is optional and
    * prefix j-1 is satisfiable. */
  def patternReached(stages: IndexedSeq[PatternStage], ts: Seq[Long]): Int = {
    def sat(j: Int): Boolean =
      j == 0 || ts(j - 1) != NoStart ||
        (stages(j - 1).optional && sat(j - 1))
    (1 to stages.length).count(sat)
  }

  /** The l/o split is what `next`/`notNext` need: a strict hop may only
    * extend an l-chain, and a notNext blocker kills exactly the
    * l-chains. Advances read the pre state; chains are independent, so
    * 2k booleans + k first-match longs are lossless. */
  def pattern(stages: IndexedSeq[PatternStage]): Machine[FunnelPatternState] = {
    val k = stages.length
    Machine[FunnelPatternState](
      init = FunnelPatternState(Seq.fill(k)(false), Seq.fill(k)(false),
        Seq.fill(k)(NoStart)),
      step = { case (s, (us, _, tp, _)) =>
        val preL = s.l.toArray
        val preO = s.o.toArray
        val l = new Array[Boolean](k)
        val o = new Array[Boolean](k)
        val ts = s.ts.toArray
        def effLast(j: Int): Boolean =
          if (j == 0) true
          else if (stages(j - 1).optional) preL(j - 1) || effLast(j - 1)
          else preL(j - 1)
        def effAny(j: Int): Boolean =
          if (j == 0) true
          else if (stages(j - 1).optional)
            preL(j - 1) || preO(j - 1) || effAny(j - 1)
          else preL(j - 1) || preO(j - 1)
        var j = 1
        while (j <= k) {
          val st = stages(j - 1)
          val adv = tp == st.tp &&
            (j == 1 || (if (st.strict) effLast(j - 1) else effAny(j - 1)))
          l(j - 1) = adv
          o(j - 1) = preO(j - 1) ||
            (preL(j - 1) && !st.notNextAfter.contains(tp))
          if (adv && ts(j - 1) == NoStart) ts(j - 1) = us
          j += 1
        }
        FunnelPatternState(l.toSeq, o.toSeq, ts.toSeq)
      },
      idle = s => !s.l.contains(true) && !s.o.contains(true) &&
        s.ts.forall(_ == NoStart),
      done = _.ts.forall(_ != NoStart))
  }

  /** The max-start product NFA's three vectors: `l[j]` — latest start
    * among chains whose prefix-j match ends at the immediately previous
    * event; `o[j]` — latest start among chains matched strictly before
    * it; `m[j]` — the sticky latest start ever to match stage j. */
  final case class FunnelPatternWinState(l: Seq[Long], o: Seq[Long],
      m: Seq[Long])

  /** Stage reached and window start of a [[patternWithin]] state: the
    * longest satisfiable prefix, and the max start among chains
    * realizing it (for a prefix ending in skipped optional stages the
    * realizer sits at the last actually-matched stage). */
  def patternWindow(stages: IndexedSeq[PatternStage],
      m: Seq[Long]): (Int, Option[Long]) = {
    val k = stages.length
    def sat(j: Int): Boolean =
      if (j == 0) true
      else if (stages(j - 1).optional) m(j - 1) != NoStart || sat(j - 1)
      else m(j - 1) != NoStart
    val r = (1 to k).count(sat)
    val tOpt = (1 to k).map(j => stages.drop(j).takeWhile(_.optional).length)
    val cands = (1 to k).filter(j => r <= j + tOpt(j - 1))
      .map(j => m(j - 1)).filter(_ != NoStart)
    (r, if (cands.nonEmpty) Some(cands.max) else None)
  }

  /** [[pattern]]'s l/o booleans lifted to max-start values (the
    * [[within]] dominance: among chains in one (stage, l/o) slot the
    * latest start has the latest deadline and identical continuations),
    * with the `within` deadline checked at every advance against the
    * max eligible predecessor — the easiest to satisfy. */
  def patternWithin(stages: IndexedSeq[PatternStage],
      windowMicros: Long): Machine[FunnelPatternWinState] = {
    val k = stages.length
    Machine[FunnelPatternWinState](
      init = FunnelPatternWinState(Seq.fill(k)(NoStart),
        Seq.fill(k)(NoStart), Seq.fill(k)(NoStart)),
      step = { case (s, (us, _, tp, _)) =>
        val preL = s.l.toArray; val preO = s.o.toArray
        val l = new Array[Long](k); val o = new Array[Long](k)
        val m = s.m.toArray
        def effLast(j: Int): Long =
          if (j == 0) NoStart
          else if (stages(j - 1).optional)
            math.max(preL(j - 1), effLast(j - 1))
          else preL(j - 1)
        def effAny(j: Int): Long =
          if (j == 0) NoStart
          else if (stages(j - 1).optional)
            math.max(math.max(preL(j - 1), preO(j - 1)), effAny(j - 1))
          else math.max(preL(j - 1), preO(j - 1))
        def adv(j: Int): Long =
          if (tp != stages(j - 1).tp) NoStart
          else if (j == 1) us
          else {
            val base = if (stages(j - 1).strict) effLast(j - 1)
              else effAny(j - 1)
            val pred = if (base != NoStart && us - base <= windowMicros)
              base else NoStart
            // stages 1..j-1 all optional: a chain may START here
            if (stages.take(j - 1).forall(_.optional)) math.max(pred, us)
            else pred
          }
        var j = 1
        while (j <= k) {
          val a = adv(j)
          l(j - 1) = a
          o(j - 1) =
            if (stages(j - 1).notNextAfter.contains(tp)) preO(j - 1)
            else math.max(preO(j - 1), preL(j - 1))
          m(j - 1) = math.max(m(j - 1), a)
          j += 1
        }
        FunnelPatternWinState(l.toSeq, o.toSeq, m.toSeq)
      },
      idle = s => patternWindow(stages, s.m)._1 == 0 &&
        (s.l ++ s.o ++ s.m).forall(_ == NoStart),
      done = s => patternWindow(stages, s.m)._1 == k)
  }

  /** Group-loop dominance state: rep values use [[NoStart]] as −∞
    * (every live value is ≥ 0). */
  final case class FunnelGroupLoopState(bo: Long, bl: Long, l: Seq[Long],
      o: Seq[Long])

  /** The contiguity NFA's l/o slots lifted to MAX-COMPLETED-REPS values:
    * among chains in one slot mid-repetition the one with more completed
    * repetitions dominates (strict hops, notNext kills and completions
    * are uniform across rep counts). `bl` holds chains that completed a
    * repetition at the immediately previous event (what a consecutive
    * seam may extend), `bo` those that completed earlier or never
    * started. A trailing `notNextAfter` on the group's last stage kills
    * a freshly completed chain at the blocker. `cap` saturates the
    * completion step (the reluctant consume mode). The reps observable
    * is `max(bo, bl, 0)`. */
  def groupLoop(group: IndexedSeq[PatternStage], consecutiveSeams: Boolean,
      cap: Option[Long]): Machine[FunnelGroupLoopState] = {
    val k = group.length
    def vmax(a: Long, b: Long): Long = if (a >= b) a else b
    Machine[FunnelGroupLoopState](
      init = FunnelGroupLoopState(0L, NoStart, Seq.fill(k)(NoStart),
        Seq.fill(k)(NoStart)),
      step = { case (s, (_, _, tp, _)) =>
        val preL = s.l.toArray; val preO = s.o.toArray
        val l = new Array[Long](k); val o = new Array[Long](k)
        val preBlAlive =
          if (group.last.notNextAfter.contains(tp)) NoStart else s.bl
        def effLastV(j: Int): Long =
          if (j == 0) NoStart
          else if (group(j - 1).optional) vmax(preL(j - 1), effLastV(j - 1))
          else preL(j - 1)
        def effAnyV(j: Int): Long =
          if (j == 0) NoStart
          else if (group(j - 1).optional)
            vmax(vmax(preL(j - 1), preO(j - 1)), effAnyV(j - 1))
          else vmax(preL(j - 1), preO(j - 1))
        def adv(j: Int): Long =
          if (tp != group(j - 1).tp) NoStart
          else if (j == 1) {
            if (!consecutiveSeams) vmax(s.bo, preBlAlive)
            else vmax(preBlAlive, 0L)
          } else if (group(j - 1).strict) effLastV(j - 1)
          else effAnyV(j - 1)
        var j = 1
        while (j <= k) {
          l(j - 1) = adv(j)
          o(j - 1) =
            if (group(j - 1).notNextAfter.contains(tp)) preO(j - 1)
            else vmax(preO(j - 1), preL(j - 1))
          j += 1
        }
        val compBase = l(k - 1)
        val bl = if (compBase == NoStart) NoStart
          else cap.fold(compBase + 1L)(m => math.min(compBase + 1L, m))
        FunnelGroupLoopState(vmax(s.bo, preBlAlive), bl, l.toSeq, o.toSeq)
      },
      idle = s => s.bo == 0L && s.bl == NoStart &&
        s.l.forall(_ == NoStart) && s.o.forall(_ == NoStart))
  }

  /** The reps a [[groupLoop]] state reports. */
  def groupLoopReps(s: FunnelGroupLoopState): Long =
    math.max(math.max(s.bo, s.bl), 0L)

  // -------------------------------------------------------------------
  // Loop quantifiers: funnelLoop, funnelTimesRange, funnelLoopConsecutive,
  // funnelLoopUntil
  // -------------------------------------------------------------------

  /** The expanded-list spine pointer plus the per-stage (count,
    * last-time) loop slots. */
  final case class FunnelLoopState(s: Int, c: Seq[Long], l: Seq[Long])

  /** Full stages completed at spine pointer `s` of a loop machine. */
  def loopStage(stages: Seq[(String, Int)], s: Int): Int =
    stages.map(_._2).scanLeft(0)(_ + _).tail.count(_ <= s)

  /** The greedy loop: the spine is the greedy-earliest mandatory-pick
    * chain over the expanded stage list, and once stage j's block is
    * complete its loop absorbs every type-j event until the next
    * stage's first pick. `caps` bounds each stage's absorption
    * (times(m, n); None = ∞): overflow events are ignored. */
  def loop(stages: IndexedSeq[(String, Int)],
      caps: Option[IndexedSeq[Int]]): Machine[FunnelLoopState] = {
    val k = stages.length
    val expanded = stages.flatMap { case (t, n) => Seq.fill(n)(t) }
    val kx = expanded.length
    val bounds = stages.map(_._2).scanLeft(0)(_ + _).tail
    def underCap(c: Seq[Long], j: Int): Boolean =
      caps.forall(cs => c(j) < cs(j))
    Machine[FunnelLoopState](
      init = FunnelLoopState(0, Seq.fill(k)(0L), Seq.fill(k)(NoStart)),
      step = { case (st, (us, _, tp, _)) =>
        val j = bounds.indexOf(st.s)
        if (st.s < kx && tp == expanded(st.s)) {
          val a = bounds.indexWhere(_ >= st.s + 1)
          FunnelLoopState(st.s + 1, st.c.updated(a, st.c(a) + 1),
            st.l.updated(a, us))
        } else if (j >= 0 && tp == stages(j)._1 && underCap(st.c, j))
          st.copy(c = st.c.updated(j, st.c(j) + 1), l = st.l.updated(j, us))
        else st
      },
      idle = _.s == 0,
      done = _.s == kx,
      // a complete spine can only absorb last-stage-type events — the
      // rest of the buffer is dead weight (and nothing at all once the
      // last stage's loop is capped out)
      keeps = Some((st, e) => st.s < kx ||
        (e._3 == stages(k - 1)._1 && underCap(st.c, k - 1))))
  }

  /** The run machine: stage pointer, open-loop bit, per-stage
    * count/last-time. */
  final case class FunnelConsecState(j: Int, open: Boolean, c: Seq[Long],
      l: Seq[Long])

  /** Strict contiguity inside each repetition block: a type-j event
    * extends the current run (reaching `m_j` opens the loop), any other
    * event resets a partial run; an open loop absorbs type-j events and
    * any other event closes it for good and is offered to stage j+1.
    * `reluctant` turns the open-phase absorb into a no-op. Stage reached
    * is `j - 1 + open`. */
  def consecutive(stages: IndexedSeq[(String, Int)],
      reluctant: Boolean): Machine[FunnelConsecState] = {
    val types = stages.map(_._1)
    val m = stages.map(_._2)
    val k = stages.length
    Machine[FunnelConsecState](
      init = FunnelConsecState(1, false, Seq.fill(k)(0L),
        Seq.fill(k)(NoStart)),
      step = { case (st, (us, _, tp, _)) =>
        var j = st.j
        var open = st.open
        val c = st.c.toArray
        val l = st.l.toArray
        if (j <= k) {
          if (open) {
            if (tp == types(j - 1)) {
              if (!reluctant) { c(j - 1) += 1; l(j - 1) = us }
            } else {
              j += 1
              open = false
              if (j <= k && tp == types(j - 1)) {
                c(j - 1) = 1; l(j - 1) = us; open = m(j - 1) == 1
              }
            }
          } else {
            if (tp == types(j - 1)) {
              c(j - 1) += 1; l(j - 1) = us
              if (c(j - 1) == m(j - 1)) open = true
            } else { c(j - 1) = 0; l(j - 1) = NoStart }
          }
        }
        FunnelConsecState(j, open, c.toSeq, l.toSeq)
      },
      idle = st => st.j == 1 && !st.open && st.c.forall(_ == 0L),
      // a machine past its last stage is final; a reluctant one with the
      // LAST stage's block complete is observationally final even while
      // the loop is formally open (the open loop never absorbs and a
      // breaker only moves j past k with c/l untouched)
      keeps = Some((st, _) =>
        st.j <= k && !(reluctant && st.j == k && st.open)))
  }

  /** The loop machine plus `x`: the CURRENT stage's repetition is
    * closed. */
  final case class FunnelLoopUntilState(s: Int, c: Seq[Long], l: Seq[Long],
      x: Boolean)

  /** [[loop]] with Flink's `until`: the current stage's until event
    * sets `x`; crossing into a new stage clears it. While set, mid-block
    * advances are blocked (the pattern stalls) and absorption stops; a
    * boundary advance into the next stage stays allowed. The until
    * check runs after the advance. `reluctant` makes absorption the one
    * dead branch. */
  def loopUntil(stages: IndexedSeq[(String, Int, Option[String])],
      reluctant: Boolean): Machine[FunnelLoopUntilState] = {
    val mst = stages.map { case (t, m, _) => (t, m) }
    val k = stages.length
    val expanded = mst.flatMap { case (t, n) => Seq.fill(n)(t) }
    val kx = expanded.length
    val bounds = mst.map(_._2).scanLeft(0)(_ + _).tail
    val subOf = mst.zipWithIndex.flatMap { case ((_, n), j) =>
      Seq.fill(n)(j + 1) }
    val loopOf = (0 to kx).map(s => bounds.indexOf(s) + 1)
    // the full stage the machine is "in" at pointer s: the stage whose
    // loop is open at a block boundary, else the one owning the next
    // mandatory slot
    val curOf = (0 to kx).map(s => if (loopOf(s) > 0) loopOf(s) else subOf(s))
    Machine[FunnelLoopUntilState](
      init = FunnelLoopUntilState(0, Seq.fill(k)(0L), Seq.fill(k)(NoStart),
        x = false),
      step = { case (st, (us, _, tp, _)) =>
        var s = st.s
        var x = st.x
        val c = st.c.toArray
        val l = st.l.toArray
        val curJ = curOf(s)
        val advT = s < kx && tp == expanded(s)
        val jAdv = if (s < kx) subOf(s) else 0
        val adv = advT && (jAdv != curJ || !x)
        val jLoop = loopOf(s)
        val absorb = !reluctant && !adv && jLoop > 0 && !x &&
          tp == mst(jLoop - 1)._1
        if (adv) { c(jAdv - 1) += 1; l(jAdv - 1) = us; s += 1 }
        else if (absorb) { c(jLoop - 1) += 1; l(jLoop - 1) = us }
        val newCurJ = curOf(s)
        if (newCurJ != curJ) x = false
        if (stages(newCurJ - 1)._3.contains(tp)) x = true
        FunnelLoopUntilState(s, c.toSeq, l.toSeq, x)
      },
      // a stage-0 STALL is a tombstone: dropping it would forget that
      // the pattern can never start
      idle = st => st.s == 0 && !st.x,
      done = _.s == kx,
      keeps = Some { (st, e) =>
        val complete = st.s == kx
        val frozen = st.x && (loopOf(st.s) == 0 || complete)
        // a complete reluctant spine is observationally final: loop
        // absorption is dead and a last-stage until close only stops
        // absorption that already never happens
        !frozen && !(complete && reluctant) && (!complete ||
          e._3 == mst(k - 1)._1 || stages(k - 1)._3.contains(e._3))
      })
  }

  // -------------------------------------------------------------------
  // Iterative conditions: funnelIterative
  // -------------------------------------------------------------------

  /** The min-anchor dominance vector: `d` is valid exactly where `ts`
    * is set ([[NoStart]] = unreached). */
  final case class FunnelIterState(d: Seq[Long], ts: Seq[Long])

  /** `d[j]` = the minimal anchor among chains completing stage j —
    * lossless under the `num >= 0` monotonicity contract: the
    * min-anchor chain can extend whenever any chain can. Under
    * AnchorFirst an extension keeps the anchor; under AnchorPrev every
    * extension's new anchor is the event's own value. `ts[j]` is the
    * first time any valid chain matched stage j. */
  def iterative(stages: IndexedSeq[IterStage],
      anchorFirst: Boolean): Machine[FunnelIterState] = {
    val k = stages.length
    val st = stages.toArray
    Machine[FunnelIterState](
      init = FunnelIterState(Seq.fill(k)(0L), Seq.fill(k)(NoStart)),
      step = { case (s, (us, _, tp, v)) =>
        val d = s.d.toArray
        val ts = s.ts.toArray
        // DESCENDING walk = the pre-state rule in place: stage j reads
        // only slot j-1, which the walk has not yet written
        var j = k - 1
        while (j >= 0) {
          val passes = tp == st(j).tp && (j == 0 ||
            (ts(j - 1) != NoStart && (st(j).cond match {
              case Some(RelGt(num, den)) => v * den > d(j - 1) * num
              case None => true
            })))
          if (passes) {
            val cand = if (j == 0 || !anchorFirst) v else d(j - 1)
            d(j) = if (ts(j) != NoStart) math.min(d(j), cand) else cand
            if (ts(j) == NoStart) ts(j) = us
          }
          j -= 1
        }
        FunnelIterState(d.toSeq, ts.toSeq)
      },
      idle = _.ts.forall(_ == NoStart),
      done = _.ts.forall(_ != NoStart))
  }

  // -------------------------------------------------------------------
  // Path counting: funnelAnyCount, funnelCombinations
  // -------------------------------------------------------------------

  /** The k-slot path-counting vector. */
  final case class FunnelAnyState(c: Seq[Long])

  /** `c[j]` = event combinations completing the first j stages: a
    * type-j event adds `c[j-1]` (and, on a combinations loop stage,
    * `c[j]` too — every existing combination may absorb it), read from
    * the pre state. */
  def combinations(stages: IndexedSeq[(String, Boolean)])
      : Machine[FunnelAnyState] = {
    val k = stages.length
    Machine[FunnelAnyState](
      init = FunnelAnyState(Seq.fill(k)(0L)),
      step = { case (s, (_, _, tp, _)) =>
        val pre = s.c.toArray
        val c = pre.clone()
        var j = 0
        while (j < k) {
          val (t, loop) = stages(j)
          if (tp == t)
            c(j) += (if (j == 0) 1L else pre(j - 1)) +
              (if (loop) pre(j) else 0L)
          j += 1
        }
        FunnelAnyState(c.toSeq)
      },
      idle = _.c.forall(_ == 0L))
  }

  // -------------------------------------------------------------------
  // Match enumeration: funnelMulti and the group-match shapes
  // -------------------------------------------------------------------

  /** The skip-past-last pointer machine: `n` advances, `partial` the
    * in-progress match's witnesses (length = advances mod k), `held`
    * the completed matches not yet drained. */
  final case class FunnelMatchesState(n: Long, partial: Seq[Long],
      held: Seq[(Long, Seq[Long])])

  /** Skip-past-last enumeration: an event advances iff its type is
    * `stages(n mod k)`, and each k advances complete match `n / k`,
    * held up to `maxMatches` (later ones still advance `n`).
    * `absence` = (window µs, blocker type) keeps only matches whose span
    * fits the window, kills a held match at a blocker in (completion,
    * start + window], and drains a match once the watermark passes its
    * start + window. */
  def matches(stages: IndexedSeq[String], maxMatches: Int,
      absence: Option[(Long, String)]): Machine[FunnelMatchesState] = {
    val k = stages.length
    Machine[FunnelMatchesState](
      init = FunnelMatchesState(0L, Nil, Nil),
      step = { case (s, (us, _, tp, _)) =>
        var n = s.n
        var partial = s.partial
        var held = s.held
        if (tp == stages((n % k).toInt)) {
          n += 1
          partial = partial :+ us
          if (partial.length == k) {
            val matchIdx = n / k
            if (matchIdx <= maxMatches &&
                absence.forall(a => partial.last - partial.head <= a._1))
              held = held :+ ((matchIdx, partial))
            partial = Nil
          }
        }
        absence.foreach { case (w, absentType) =>
          if (tp == absentType)
            held = held.filterNot { case (_, m) =>
              m.last < us && us <= m.head + w }
        }
        FunnelMatchesState(n, partial, held)
      },
      idle = s => s.n == 0L && s.held.isEmpty,
      wakeUps = s =>
        absence.fold(Seq.empty[Long])(a => s.held.map(_._2.head + a._1)),
      drain = { (s, wmUs) =>
        val (matured, held) = s.held.partition { case (_, w) =>
          absence.forall(a => w.head + a._1 <= wmUs) }
        (s.copy(held = held), matured.sortBy(_._1))
      })
  }

  // -------------------------------------------------------------------
  // After-match skip strategies: funnelSkip
  // -------------------------------------------------------------------

  /** Chains are flat `Seq[Long]` of interleaved (us, position) pairs;
    * `buckets(j-1)` holds the prefixes that matched stages 1..j.
    * (mu, mo) is the running after-match-skip threshold; `ready` the
    * surviving matches not yet drained. */
  final case class FunnelSkipState(n: Long, mu: Long, mo: Long,
      buckets: Seq[Seq[Seq[Long]]], ready: Seq[(Long, Seq[Long])])

  /** One greedy branch per start event; all branches in a bucket
    * advance together on the bucket's next stage type, built from the
    * pre-event state. Each completion is checked against the skip
    * threshold the moment it completes (completion order, start order
    * within one event — Flink's emission order): it survives iff its
    * start is at-or-after (strictly after for SkipPastLast) the
    * threshold, and a survivor raises the threshold to its anchor.
    * `n` counts every survivor; `ready` holds the first `maxMatches`.
    * Draining also drops branches whose start is already behind the
    * threshold — they can never survive (output-invariant). */
  def skip(stages: Seq[(String, Int)], strategy: SkipStrategy,
      maxMatches: Int): Machine[FunnelSkipState] = {
    val types = Funnel.expandStages(stages)
    val k = types.length
    val (anchor, inclusive) = Funnel.skipAnchor(stages, strategy)
    def survives(c: Seq[Long], mu: Long, mo: Long): Boolean = {
      val (su, so) = (c(0), c(1))
      if (inclusive) su > mu || (su == mu && so >= mo)
      else su > mu || (su == mu && so > mo)
    }
    Machine[FunnelSkipState](
      init = FunnelSkipState(0L, Long.MinValue, Long.MinValue,
        Seq.fill(k - 1)(Nil), Nil),
      step = { case (s, (us, oid, tp, _)) =>
        var n = s.n
        var mu = s.mu
        var mo = s.mo
        var ready = s.ready
        val pre = s.buckets.toArray
        val buckets = pre.clone()
        (1 to k - 1).foreach { j =>
          val stay = if (tp == types(j)) Nil else pre(j - 1)
          val arrive =
            if (j == 1) { if (tp == types.head) Seq(Seq(us, oid)) else Nil }
            else if (tp == types(j - 1)) pre(j - 2).map(_ :+ us :+ oid)
            else Nil
          buckets(j - 1) = stay ++ arrive
        }
        val completions =
          if (tp == types(k - 1)) pre(k - 2).map(_ :+ us :+ oid) else Nil
        completions.foreach { c =>
          if (survives(c, mu, mo)) {
            n += 1
            if (n <= maxMatches)
              ready = ready :+ ((n, c.indices.collect {
                case i if i % 2 == 0 => c(i) }))
            anchor.foreach { a =>
              val (au, ao) = (c(2 * (a - 1)), c(2 * (a - 1) + 1))
              if (au > mu || (au == mu && ao > mo)) { mu = au; mo = ao }
            }
          }
        }
        FunnelSkipState(n, mu, mo, buckets.toSeq, ready)
      },
      idle = s => s.n == 0L && s.buckets.forall(_.isEmpty),
      drain = (s, _) => (
        s.copy(buckets = s.buckets.map(_.filter(survives(_, s.mu, s.mo))),
          ready = Nil),
        s.ready))
  }
}
