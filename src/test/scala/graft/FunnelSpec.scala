package graft

import java.sql.Timestamp

import graft.operators.{Funnel, Pattern}

class FunnelSpec extends SparkSpec {

  import spark.implicits._

  /** A loop pattern in either consume mode: reluctant is the bounded
    * quantifier at its floor. */
  private def loopMode(stages: Seq[(String, Int)],
      mode: Funnel.ConsumeMode): Pattern =
    if (mode == Funnel.Reluctant)
      Pattern.timesRange(stages.map { case (t, m) => (t, m, m) })
    else Pattern.loop(stages)

  private def ts(s: Int) = Timestamp.valueOf(f"2026-01-01 00:00:$s%02d")
  private val us0 = ts(0).getTime * 1000L
  private def tsUs(s: Int): Long = us0 + s * 1000000L
  /** The same log split into input partitions by event-time range
    * (`split`, the default) or left as it is: a shape's rows must not
    * depend on how its input arrives — the "bucketed == single" clauses
    * of the properties below, which once compared a time-bucketed plan
    * with the per-user one. */
  private def splitByTime(df: org.apache.spark.sql.DataFrame,
      split: Boolean = true): org.apache.spark.sql.DataFrame =
    if (split)
      df.repartitionByRange(16, org.apache.spark.sql.functions.col("ts"))
    else df

  /**
   * True iff the plan behind `df` contains an Aggregate whose GROUPING
   * expressions include an attribute named exactly `bkt` — the
   * structural signature of a time-bucketed segment split
   * (`groupBy(user_id, bkt)`), which no CEP shape may plan.
   *
   * Structural on purpose: a `toString.contains("bkt#")` sniff could be
   * flipped by any attribute whose name merely ends in "bkt" or by a
   * plan-printing change; and a bare name match without the
   * Aggregate/grouping context false-positives on struct FIELDS named
   * bkt (the skip fold's state carries one). Attributes only — a
   * grouping expression that merely ALIASES something to `bkt` is not
   * the twins' shape.
   */
  private def groupsByAttr(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.exists {
            case att: org.apache.spark.sql.catalyst.expressions.Attribute =>
              att.name == "bkt"
            case _ => false
          } => a
    }.nonEmpty

  test("groupsByAttr keys on a grouping ATTRIBUTE, not struct fields or plan text") {
    val df = Seq((1L, 10L), (2L, 20L)).toDF("user_id", "bkt")
    // the bucketed-twin shape: groupBy over a real bkt attribute
    assert(groupsByAttr(df.groupBy("user_id", "bkt").count()))
    // the round-16 advisor's false-positive risks: a struct FIELD named
    // bkt inside an aggregate (the skip fold's state shape) ...
    assert(!groupsByAttr(
      Seq((1L, 10L)).toDF("user_id", "b")
        .withColumn("st", org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("b").as("bkt")))
        .groupBy("user_id").agg(
          org.apache.spark.sql.functions.collect_list("st"))))
    // ... an attribute merely NAMED like bkt elsewhere in the plan ...
    assert(!groupsByAttr(
      df.withColumnRenamed("bkt", "xbkt").groupBy("user_id").count()))
    // ... and an ALIAS to bkt in the grouping (not the twins' shape)
    assert(!groupsByAttr(
      df.groupBy(org.apache.spark.sql.functions.col("user_id").as("bkt"))
        .count()))
  }

  test("funnel: ordered progression, out-of-order rejection, ties break on event id") {
    val ev = Seq(
      // user 1: full funnel
      (1L, 1L, ts(10), "view"), (1L, 2L, ts(20), "click"), (1L, 3L, ts(30), "purchase"),
      // user 2: click BEFORE the first view never counts; purchase can't skip click
      (2L, 4L, ts(10), "click"), (2L, 5L, ts(20), "view"), (2L, 6L, ts(30), "purchase"),
      // user 3: view then purchase (no click) → stage 1
      (3L, 7L, ts(10), "view"), (3L, 8L, ts(20), "purchase"),
      // user 4: nothing matching stage 1 → stage 0
      (4L, 9L, ts(5), "purchase"),
      // user 5: same timestamp — click has the HIGHER event id → after view → stage 2
      (5L, 10L, ts(10), "view"), (5L, 11L, ts(10), "click"),
      // user 6: same timestamp — click has the LOWER event id → not after → stage 1
      (6L, 13L, ts(10), "click"), (6L, 14L, ts(10), "view"),
      // user 7: greedy earliest witness — the SECOND view is never needed
      (7L, 15L, ts(10), "view"), (7L, 16L, ts(15), "view"), (7L, 17L, ts(20), "click")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val r = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.times(Seq("view", "click", "purchase").map(_ -> 1)))
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getInt(1),
        Option(x.get(2)).map(_.asInstanceOf[Long] - us0),
        Option(x.get(3)).map(_.asInstanceOf[Long] - us0),
        Option(x.get(4)).map(_.asInstanceOf[Long] - us0)))
    val s = 1000000L // seconds → micros
    assert(r === Array(
      (1L, 3, Some(10 * s), Some(20 * s), Some(30 * s)),
      (2L, 1, Some(20 * s), None, None),
      (3L, 1, Some(10 * s), None, None),
      (4L, 0, None, None, None),
      (5L, 2, Some(10 * s), Some(10 * s), None),
      (6L, 1, Some(10 * s), None, None),
      (7L, 2, Some(10 * s), Some(20 * s), None)))
  }

  test("property: funnel fold equals an in-memory greedy reference on random logs") {
    val rnd = new scala.util.Random(4242L)
    val types = Array("view", "click", "purchase", "error")
    val stages = Seq("view", "click", "purchase")
    // dense timestamp collisions on purpose: the (ts, event_id) total
    // order is the contract under test
    val events = (0 until 400).map { i =>
      (rnd.nextInt(12).toLong, i.toLong, ts(rnd.nextInt(50)),
        types(rnd.nextInt(types.length)))
    }
    val expected = events.groupBy(_._1).view.mapValues { es =>
      var stage = 0
      val wit = scala.collection.mutable.ArrayBuffer.empty[Long]
      es.sortBy(e => (e._3.getTime, e._2)).foreach { e =>
        if (stage < stages.length && e._4 == stages(stage)) {
          wit += e._3.getTime * 1000L; stage += 1
        }
      }
      (stage, wit.toSeq)
    }.toMap
    val got = Funnel.run(events.toDF("user_id", "event_id", "ts", "event_type"),
        "user_id", "event_type", "ts", "event_id",
        Pattern.times(stages.map(_ -> 1)))
      .collect().map { x =>
        x.getLong(0) -> ((x.getInt(1),
          (2 to 4).map(x.get).filter(_ != null).map(_.asInstanceOf[Long]).toSeq))
      }.toMap
    assert(got === expected)
    // the generator must exercise full completion (400 events, 12 users)
    assert(expected.values.exists(_._1 == 3))
  }

  test("funnelWithin: the expired-window restart trap, boundary inclusivity, repeated types") {
    val W = 15000000L // 15 s in micros
    val s = 1000000L
    val ev = Seq(
      // user 1: the CEP trap — greedy's earliest view (t=0) expires
      // before the click at t=20; the restart view at t=18 converts.
      // A windowless greedy fold would report stage 1.
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(18), "view"),
      (1L, 3L, ts(20), "click"),
      // user 2: click exactly AT start+W is in-window (inclusive bound)
      (2L, 4L, ts(5), "view"), (2L, 5L, ts(20), "click"),
      // user 3: click 1s past the window of the only view → stage 1,
      // win start stays the view's own time
      (3L, 6L, ts(2), "view"), (3L, 7L, ts(18), "click"),
      // user 4: two full chains; win_start is the LATER feasible start
      (4L, 8L, ts(0), "view"), (4L, 9L, ts(1), "click"),
      (4L, 10L, ts(2), "purchase"),
      (4L, 11L, ts(10), "view"), (4L, 12L, ts(11), "click"),
      (4L, 13L, ts(12), "purchase"),
      // user 5: an event never extends a chain containing itself even
      // when the pattern repeats its type (view,view needs TWO events)
      (5L, 14L, ts(10), "view")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val r = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.within(Seq("view", "click", "purchase"), W))
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getInt(1),
        Option(x.get(2)).map(_.asInstanceOf[Long] - us0)))
    assert(r === Array(
      (1L, 2, Some(18 * s)),
      (2L, 2, Some(5 * s)),
      (3L, 1, Some(2 * s)),
      (4L, 3, Some(10 * s)),
      (5L, 1, Some(10 * s))))
    val rep = Funnel.run(ev.filter("user_id = 5"),
        "user_id", "event_type", "ts", "event_id",
        Pattern.within(Seq("view", "view"), W))
      .collect().map(x => (x.getLong(0), x.getInt(1)))
    assert(rep === Array((5L, 1)))
  }

  test("property: funnelWithin equals a brute-force all-chains reference; huge window equals the plain funnel") {
    val rnd = new scala.util.Random(20260814L)
    val types = Array("view", "click", "purchase", "error")
    val stages = Seq("view", "click", "purchase")
    val W = 8000000L // 8 s window against 50 s of events: many expiries
    val events = (0 until 400).map { i =>
      (rnd.nextInt(12).toLong, i.toLong, ts(rnd.nextInt(50)),
        types(rnd.nextInt(types.length)))
    }
    // brute force: per user, max start per stage over ALL in-window
    // chains via the same DP recurrence run in plain Scala
    val expected = events.groupBy(_._1).view.mapValues { es =>
      val sorted = es.sortBy(e => (e._3.getTime, e._2))
      val b = Array.fill[Option[Long]](stages.length)(None)
      sorted.foreach { e =>
        val us = e._3.getTime * 1000L
        for (j <- stages.length to 2 by -1)
          if (e._4 == stages(j - 1) && b(j - 2).exists(us <= _ + W))
            b(j - 1) = Some(math.max(b(j - 1).getOrElse(Long.MinValue),
              b(j - 2).get))
        if (e._4 == stages(0))
          b(0) = Some(math.max(b(0).getOrElse(Long.MinValue), us))
      }
      val sr = b.count(_.isDefined)
      (sr, if (sr > 0) b(sr - 1) else None)
    }.toMap
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    val got = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.within(stages, W))
      .collect().map(x => x.getLong(0) ->
        ((x.getInt(1), Option(x.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(got === expected)
    assert(expected.values.exists(_._1 == 3)) // completions exercised
    // with a window wider than the log, stage_reached == plain funnel
    val wide = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.within(stages, 86400000000L))
      .collect().map(x => x.getLong(0) ->
        ((x.getInt(1), Option(x.get(2)).map(_.asInstanceOf[Long])))).toMap
    val plain = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.times(stages.map(_ -> 1)))
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(wide.view.mapValues(_._1).toMap === plain)
    // and the 8 s window actually bit somewhere: some user's verdict
    // (stage or winning start) differs from the unconstrained one
    assert(got.exists { case (u, v) => wide(u) != v })
  }

  test("funnelGuarded: poisoned-start restarts, blocker-as-endpoint, per-gap guards, ties") {
    val nb = Seq(Some("error"), Some("error"))
    val stages = Seq("view", "click", "purchase")
    val ev = Seq(
      // user 1: the guard trap — the first view's gap is poisoned by
      // the error; the restart view converts. Greedy would report 1.
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(5), "error"),
      (1L, 3L, ts(10), "view"), (1L, 4L, ts(15), "click"),
      // user 2: error BETWEEN click and purchase blocks stage 3 only
      (2L, 5L, ts(0), "view"), (2L, 6L, ts(5), "click"),
      (2L, 7L, ts(8), "error"), (2L, 8L, ts(12), "purchase"),
      // user 3: clean full chain; later error undoes nothing (sticky)
      (3L, 9L, ts(0), "view"), (3L, 10L, ts(5), "click"),
      (3L, 11L, ts(10), "purchase"), (3L, 12L, ts(15), "error"),
      // user 4: same-timestamp order — the error's LOWER event id puts
      // it before the click in the total order: gap poisoned
      (4L, 13L, ts(0), "view"), (4L, 14L, ts(5), "error"),
      (4L, 15L, ts(5), "click")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val r = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.guarded(stages, nb))
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getInt(1)))
    assert(r === Array((1L, 2), (2L, 2), (3L, 3), (4L, 1)))
    // a blocker type can BE a stage type: as the matched endpoint it is
    // not "between" — view then error converts under stages(view,error)
    // even though error also guards the gap
    val r2 = Funnel.run(ev.filter("user_id = 1"),
        "user_id", "event_type", "ts", "event_id",
        Pattern.guarded(Seq("view", "error"), Seq(Some("error"))))
      .collect().map(x => (x.getLong(0), x.getInt(1)))
    assert(r2 === Array((1L, 2)))
    // None = unguarded gap: user 2 completes when only gap 1 is guarded
    val r3 = Funnel.run(ev.filter("user_id = 2"),
        "user_id", "event_type", "ts", "event_id",
        Pattern.guarded(stages, Seq(Some("error"), None)))
      .collect().map(x => (x.getLong(0), x.getInt(1)))
    assert(r3 === Array((2L, 3)))
  }

  test("property: funnelGuarded equals a brute-force clean-chain reference; bucketed == single") {
    val rnd = new scala.util.Random(555555L)
    val types = Array("view", "click", "purchase", "error")
    val stages = Seq("view", "click", "purchase")
    val nb = Seq(Some("error"), Some("error"))
    val events = (0 until 400).map { i =>
      (rnd.nextInt(12).toLong, i.toLong, ts(rnd.nextInt(50)),
        types(rnd.nextInt(types.length)))
    }
    // brute force: the same NFA run in plain Scala (pre-state advance,
    // then blocker kill; sticky ever-bits)
    val expected = events.groupBy(_._1).view.mapValues { es =>
      val sorted = es.sortBy(e => (e._3.getTime, e._2))
      val open = Array.fill(stages.length)(false)
      val ever = Array.fill(stages.length)(false)
      sorted.foreach { e =>
        val pre = open.clone()
        for (j <- stages.indices) {
          val adv = e._4 == stages(j) && (j == 0 || pre(j - 1))
          if (adv) { open(j) = true; ever(j) = true }
        }
        for (j <- 0 until stages.length - 1)
          if (nb(j).contains(e._4) && !(e._4 == stages(j) && (j == 0 || pre(j - 1))))
            open(j) = false
      }
      ever.count(identity)
    }.toMap
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    val got = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.guarded(stages, nb))
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(got === expected)
    assert(expected.values.exists(_ == 3))
    val single = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.guarded(stages, nb)).orderBy("user_id").collect()
    val byTime = Funnel.run(splitByTime(df), "user_id", "event_type", "ts", "event_id",
        Pattern.guarded(stages, nb))
      .orderBy("user_id").collect()
    assert(byTime === single)
  }

  test("funnelTimes: quantified stages via expansion — counts, boundary witnesses, bucketed twin") {
    val s = 1000000L
    val ev = Seq(
      // user 1: exactly two views, two clicks, one purchase in order
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(5), "view"),
      (1L, 3L, ts(10), "click"), (1L, 4L, ts(15), "click"),
      (1L, 5L, ts(20), "purchase"),
      // user 2: only ONE view — quantifier unmet, stage 0 even though
      // clicks and purchases follow
      (2L, 6L, ts(0), "view"), (2L, 7L, ts(5), "click"),
      (2L, 8L, ts(10), "click"), (2L, 9L, ts(15), "purchase"),
      // user 3: second click never comes → stage 1 only
      (3L, 10L, ts(0), "view"), (3L, 11L, ts(2), "view"),
      (3L, 12L, ts(4), "click"), (3L, 13L, ts(6), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val stages = Seq(("view", 2), ("click", 2), ("purchase", 1))
    val r = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.times(stages))
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getInt(1),
        Option(x.get(2)).map(_.asInstanceOf[Long] - us0),
        Option(x.get(3)).map(_.asInstanceOf[Long] - us0),
        Option(x.get(4)).map(_.asInstanceOf[Long] - us0)))
    assert(r === Array(
      // witnesses are each stage's LAST (n-th) occurrence
      (1L, 3, Some(5 * s), Some(15 * s), Some(20 * s)),
      (2L, 0, None, None, None),
      (3L, 1, Some(2 * s), None, None)))
    // the log split by event time gives the same rows
    val single = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.times(stages)).orderBy("user_id").collect()
    val byTime = Funnel.run(splitByTime(ev), "user_id", "event_type", "ts", "event_id",
        Pattern.times(stages))
      .orderBy("user_id").collect()
    assert(byTime === single)
  }

  /** Independent reference for [[Funnel.funnelLoop]]'s documented
    * contract: greedy-earliest spine over the expanded list; a
    * completed block's loop absorbs its type until the next stage's
    * first pick. */
  private def loopRef(es: Seq[(Long, Long, Timestamp, String)],
      stages: Seq[(String, Int)]): (Int, Seq[Long], Seq[Option[Long]]) = {
    val expanded = stages.flatMap { case (t, n) => Seq.fill(n)(t) }
    val bounds = stages.map(_._2).scanLeft(0)(_ + _).tail
    var s = 0
    val c = Array.fill(stages.length)(0L)
    val l = Array.fill[Option[Long]](stages.length)(None)
    es.sortBy(e => (e._3.getTime, e._2)).foreach { e =>
      val us = e._3.getTime * 1000L
      if (s < expanded.length && e._4 == expanded(s)) {
        s += 1
        val j = bounds.indexWhere(_ >= s)
        c(j) += 1; l(j) = Some(us)
      } else {
        val j = bounds.indexOf(s)
        if (j >= 0 && e._4 == stages(j)._1) { c(j) += 1; l(j) = Some(us) }
      }
    }
    (bounds.count(_ <= s), c.toSeq, l.toSeq)
  }

  test("funnelLoop: greedy absorption, loop closes at next pick, partial-block counts, trailing tail") {
    val stages = Seq(("view", 2), ("click", 1), ("purchase", 1))
    val ev = Seq(
      // user 1: two mandatory views, one absorbed view, click closes the
      // view loop, a view AFTER the click is dead, purchase completes,
      // a trailing purchase absorbs into the last stage's open loop
      (1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "view"), (1L, 3L, ts(3), "view"),
      (1L, 4L, ts(4), "click"), (1L, 5L, ts(5), "view"),
      (1L, 6L, ts(6), "purchase"), (1L, 7L, ts(7), "purchase"),
      // user 2: partial mandatory block — one view of two: stage 0 but
      // reps1 counts the partial pick
      (2L, 8L, ts(1), "view"),
      // user 3: loop events keep counting while the NEXT stage never
      // arrives (views absorb to end of log)
      (3L, 9L, ts(1), "view"), (3L, 10L, ts(2), "view"), (3L, 11L, ts(3), "view"),
      // user 4: nothing matching → all zeros
      (4L, 12L, ts(1), "error")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val s = 1000000L
    val r = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.loop(stages))
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getInt(1),
        (2 to 6 by 2).map(x.getLong).toSeq,
        (3 to 7 by 2).map(i => Option(x.get(i)).map(_.asInstanceOf[Long] - us0)).toSeq))
    assert(r === Array(
      (1L, 3, Seq(3L, 1L, 2L), Seq(Some(3 * s), Some(4 * s), Some(7 * s))),
      (2L, 0, Seq(1L, 0L, 0L), Seq(Some(1 * s), None, None)),
      (3L, 1, Seq(3L, 0L, 0L), Seq(Some(3 * s), None, None)),
      (4L, 0, Seq(0L, 0L, 0L), Seq(None, None, None))))
  }

  test("property: funnelLoop equals the in-memory reference; bucketed == single (1-second segments)") {
    val rnd = new scala.util.Random(70707L)
    val types = Array("view", "click", "purchase", "error")
    val stages = Seq(("view", 1), ("click", 2), ("purchase", 1))
    val events = (0 until 500).map { i =>
      (rnd.nextInt(12).toLong, i.toLong, ts(rnd.nextInt(50)),
        types(rnd.nextInt(types.length)))
    }
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    val expected = events.groupBy(_._1).view
      .mapValues(loopRef(_, stages)).toMap
    val single = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.loop(stages))
    val got = single.collect().map { x =>
      x.getLong(0) -> ((x.getInt(1), (2 to 6 by 2).map(x.getLong).toSeq,
        (3 to 7 by 2).map(i =>
          Option(x.get(i)).map(_.asInstanceOf[Long])).toSeq))
    }.toMap
    assert(got === expected)
    assert(expected.values.exists(_._1 == 3)) // generator reaches completion
    assert(expected.values.exists(v => v._2.head > 1)) // loops really absorb
    val singleRows = single.orderBy("user_id").collect()
    val byTime = Funnel.run(splitByTime(df), "user_id", "event_type", "ts", "event_id",
        Pattern.loop(stages))
      .orderBy("user_id").collect()
    assert(byTime === singleRows)
  }

  private def rangeRef(es: Seq[(Long, Long, Timestamp, String)],
      stages: Seq[(String, Int, Int)]): (Int, Seq[Long], Seq[Option[Long]]) = {
    val mstages = stages.map { case (t, m, _) => (t, m) }
    val expanded = mstages.flatMap { case (t, n) => Seq.fill(n)(t) }
    val bounds = mstages.map(_._2).scanLeft(0)(_ + _).tail
    var s = 0
    val c = Array.fill(stages.length)(0L)
    val l = Array.fill[Option[Long]](stages.length)(None)
    es.sortBy(e => (e._3.getTime, e._2)).foreach { e =>
      val us = e._3.getTime * 1000L
      if (s < expanded.length && e._4 == expanded(s)) {
        s += 1
        val j = bounds.indexWhere(_ >= s)
        c(j) += 1; l(j) = Some(us)
      } else {
        val j = bounds.indexOf(s)
        if (j >= 0 && e._4 == stages(j)._1 && c(j) < stages(j)._3) {
          c(j) += 1; l(j) = Some(us)
        }
      }
    }
    (bounds.count(_ <= s), c.toSeq, l.toSeq)
  }

  test("funnelTimesRange: the cap truncates absorption; overflow never disturbs the spine") {
    val stages = Seq(("view", 2, 3), ("click", 1, 2), ("purchase", 1, 1))
    val ev = Seq(
      // u1: v v v v c c c p p — views cap at 3 (4th ignored), clicks at
      // 2 (3rd ignored), the second purchase is ignored (cap 1) — and
      // every ignored event leaves stage_reached and the spine intact
      (1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "view"), (1L, 3L, ts(3), "view"),
      (1L, 4L, ts(4), "view"), (1L, 5L, ts(5), "click"), (1L, 6L, ts(6), "click"),
      (1L, 7L, ts(7), "click"), (1L, 8L, ts(8), "purchase"), (1L, 9L, ts(9), "purchase"),
      // u2: exactly the minimum reps everywhere
      (2L, 10L, ts(1), "view"), (2L, 11L, ts(2), "view"),
      (2L, 12L, ts(3), "click"), (2L, 13L, ts(4), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val s = 1000000L
    val r = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.timesRange(stages))
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getInt(1),
        (2 to 6 by 2).map(x.getLong).toSeq,
        (3 to 7 by 2).map(i => Option(x.get(i)).map(_.asInstanceOf[Long] - us0)).toSeq))
    assert(r === Array(
      (1L, 3, Seq(3L, 2L, 1L), Seq(Some(3 * s), Some(6 * s), Some(8 * s))),
      (2L, 3, Seq(2L, 1L, 1L), Seq(Some(2 * s), Some(3 * s), Some(4 * s)))))
  }

  test("property: funnelTimesRange equals the in-memory reference; capped bucketed merge == single") {
    val rnd = new scala.util.Random(81818L)
    val types = Array("view", "click", "purchase", "error")
    val stages = Seq(("view", 1, 2), ("click", 2, 3), ("purchase", 1, 1))
    val events = (0 until 500).map { i =>
      (rnd.nextInt(12).toLong, i.toLong, ts(rnd.nextInt(50)),
        types(rnd.nextInt(types.length)))
    }
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    val expected = events.groupBy(_._1).view
      .mapValues(rangeRef(_, stages)).toMap
    val single = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.timesRange(stages))
    val got = single.collect().map { x =>
      x.getLong(0) -> ((x.getInt(1), (2 to 6 by 2).map(x.getLong).toSeq,
        (3 to 7 by 2).map(i =>
          Option(x.get(i)).map(_.asInstanceOf[Long])).toSeq))
    }.toMap
    assert(got === expected)
    assert(expected.values.exists(_._1 == 3)) // completions happen
    // caps really truncate: some user hits a cap exactly
    assert(expected.values.exists(v => v._2(0) == 2L || v._2(1) == 3L))
    val singleRows = single.orderBy("user_id").collect()
    // the log split by event time gives the same rows
    val byTime = Funnel.run(splitByTime(df), "user_id", "event_type", "ts", "event_id",
        Pattern.timesRange(stages))
      .orderBy("user_id").collect()
    assert(byTime === singleRows)
  }

  test("funnelWithinGuarded: both constraints bite; property vs a brute-force DP") {
    val stages = Seq("view", "click", "purchase")
    val nb = Seq(Some("error"), Some("error"))
    val W = 15000000L // 15 s
    val s = 1000000L
    val ev = Seq(
      // user 1: the in-window chain is POISONED; the clean restart is
      // in-window → stage 2 via the restart
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(3), "error"),
      (1L, 3L, ts(10), "view"), (1L, 4L, ts(12), "click"),
      // user 2: clean chain but the click is OUT of window → stage 1
      (2L, 5L, ts(0), "view"), (2L, 6L, ts(20), "click"),
      // user 3: clean AND in-window full chain
      (3L, 7L, ts(0), "view"), (3L, 8L, ts(5), "click"),
      (3L, 9L, ts(10), "purchase"),
      // user 4: in-window but error between click and purchase → 2
      (4L, 10L, ts(0), "view"), (4L, 11L, ts(4), "click"),
      (4L, 12L, ts(6), "error"), (4L, 13L, ts(9), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val r = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.within(stages, W, nb))
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getInt(1),
        Option(x.get(2)).map(_.asInstanceOf[Long] - us0)))
    assert(r === Array((1L, 2, Some(10 * s)), (2L, 1, Some(0L)),
      (3L, 3, Some(0L)), (4L, 2, Some(0L))))
    // property: the combined DP vs a plain-Scala replay on random logs
    val rnd = new scala.util.Random(424242L)
    val types = Array("view", "click", "purchase", "error")
    val events = (0 until 400).map { i =>
      (rnd.nextInt(12).toLong, i.toLong, ts(rnd.nextInt(50)),
        types(rnd.nextInt(types.length)))
    }
    val expected = events.groupBy(_._1).view.mapValues { es =>
      val sorted = es.sortBy(e => (e._3.getTime, e._2))
      val b = Array.fill[Option[Long]](stages.length)(None)
      val m = Array.fill[Option[Long]](stages.length)(None)
      sorted.foreach { e =>
        val us = e._3.getTime * 1000L
        val adv = Array.tabulate(stages.length) { j =>
          if (j == 0) { if (e._4 == stages(0)) Some(us) else None }
          else if (e._4 == stages(j) && b(j - 1).exists(us <= _ + W))
            b(j - 1)
          else None
        }
        for (j <- stages.indices) {
          val kill = j < stages.length - 1 && nb(j).contains(e._4)
          b(j) = if (kill) adv(j)
            else (b(j) ++ adv(j)).reduceOption(_ max _)
          m(j) = (m(j) ++ adv(j)).reduceOption(_ max _)
        }
      }
      val sr = m.count(_.isDefined)
      (sr, if (sr > 0) m(sr - 1) else None)
    }.toMap
    val got = Funnel.run(events.toDF("user_id", "event_id", "ts", "event_type"),
        "user_id", "event_type", "ts", "event_id",
        Pattern.within(stages, W, nb))
      .collect().map(x => x.getLong(0) ->
        ((x.getInt(1), Option(x.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(got === expected)
    assert(expected.values.exists(_._1 == 3))
  }

  test("plan gate: the funnel is ONE user-keyed shuffle, no window, no join") {
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val plan = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.times(Seq("view", "click", "purchase").map(_ -> 1))).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected exactly one shuffle (partial+final agg):\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"k-stage funnel must not plan per-stage joins or windows:\n$plan")
  }

  test("plan gate: the windowed funnel keeps the one-shuffle shape; the DP adds state, not plan") {
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val plan = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.within(Seq("view", "click", "purchase"), 7200000000L))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected exactly one shuffle (partial+final agg):\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"the within(T) DP must not plan per-stage joins or windows:\n$plan")
  }

  // -------------------------------------------------------------------
  // funnelPattern — strict contiguity / notNext / optional
  // -------------------------------------------------------------------

  import Funnel.PatternStage

  private def runPattern(ev: org.apache.spark.sql.DataFrame,
      stages: Seq[PatternStage]) =
    Funnel.run(ev, "user_id", "event_type", "ts", "event_id", Pattern.pattern(stages))
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getInt(1),
        (2 until 2 + stages.length).map(i =>
          Option(x.get(i)).map(_.asInstanceOf[Long] - us0))))

  test("funnelPattern strict: the greedy-first-pick trap, ties, and immediate-only hops") {
    val ev = Seq(
      // user 1: first view's successor is a view — greedy dies; the
      // SECOND view is immediately followed by click → reached 2
      (1L, 1L, ts(10), "view"), (1L, 2L, ts(20), "view"),
      (1L, 3L, ts(30), "click"),
      // user 2: view then a gap event then click — NOT contiguous
      (2L, 4L, ts(10), "view"), (2L, 5L, ts(20), "error"),
      (2L, 6L, ts(30), "click"),
      // user 3: contiguity through a same-timestamp pair (event id
      // breaks the tie: 8 is the immediate successor of 7)
      (3L, 7L, ts(10), "view"), (3L, 8L, ts(10), "click"),
      // user 4: full strict chain view→click→purchase back-to-back
      (4L, 9L, ts(10), "view"), (4L, 10L, ts(11), "click"),
      (4L, 11L, ts(12), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val stages = Seq(PatternStage("view"),
      PatternStage("click", strict = true),
      PatternStage("purchase", strict = true))
    val s = 1000000L
    assert(runPattern(ev, stages) === Array(
      (1L, 2, Seq(Some(10 * s), Some(30 * s), None)),
      (2L, 1, Seq(Some(10 * s), None, None)),
      (3L, 2, Seq(Some(10 * s), Some(10 * s), None)),
      (4L, 3, Seq(Some(10 * s), Some(11 * s), Some(12 * s)))))
  }

  test("funnelPattern notNext: successor poisoning kills the chain, a later clean start survives") {
    val ev = Seq(
      // user 1: the only view's successor is an error → chain dead;
      // stage 1 still counts (sticky ever)
      (1L, 1L, ts(10), "view"), (1L, 2L, ts(20), "error"),
      (1L, 3L, ts(30), "purchase"),
      // user 2: first view poisoned, second view's successor is the
      // purchase itself → clean restart converts
      (2L, 4L, ts(10), "view"), (2L, 5L, ts(20), "error"),
      (2L, 6L, ts(25), "view"), (2L, 7L, ts(40), "purchase"),
      // user 3: successor is a click (not the blocker) → chain lives
      // on relaxed to the purchase
      (3L, 8L, ts(10), "view"), (3L, 9L, ts(20), "click"),
      (3L, 10L, ts(30), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val stages = Seq(
      PatternStage("view", notNextAfter = Some("error")),
      PatternStage("purchase"))
    val s = 1000000L
    assert(runPattern(ev, stages) === Array(
      (1L, 1, Seq(Some(10 * s), None)),
      (2L, 2, Seq(Some(10 * s), Some(40 * s))),
      (3L, 2, Seq(Some(10 * s), Some(30 * s)))))
  }

  test("funnelPattern optional: skipped stage leaves a NULL ts but satisfies the prefix; strict hop can ride the skip") {
    val ev = Seq(
      // user 1: signup then purchase, no error — prefix 3 satisfied
      // through the skip, ts2 NULL
      (1L, 1L, ts(10), "signup"), (1L, 2L, ts(30), "purchase"),
      // user 2: the error IS present → actual match, ts2 set
      (2L, 3L, ts(10), "signup"), (2L, 4L, ts(20), "error"),
      (2L, 5L, ts(30), "purchase"),
      // user 3: purchase is the IMMEDIATE successor of the signup and
      // the middle stage is strict-skippable → reached 3
      (3L, 6L, ts(10), "signup"), (3L, 7L, ts(11), "purchase"),
      // user 4: strict purchase with a gap event after signup and no
      // click → the skip cannot bridge a non-immediate hop
      (4L, 8L, ts(10), "signup"), (4L, 9L, ts(20), "view"),
      (4L, 10L, ts(30), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val relaxed = Seq(PatternStage("signup"),
      PatternStage("error", optional = true), PatternStage("purchase"))
    val s = 1000000L
    assert(runPattern(ev, relaxed).take(2) === Array(
      (1L, 3, Seq(Some(10 * s), None, Some(30 * s))),
      (2L, 3, Seq(Some(10 * s), Some(20 * s), Some(30 * s)))))
    val strictLast = Seq(PatternStage("signup"),
      PatternStage("click", optional = true),
      PatternStage("purchase", strict = true))
    assert(runPattern(ev, strictLast).drop(2) === Array(
      (3L, 3, Seq(Some(10 * s), None, Some(11 * s))),
      // user 4: prefix 2 is satisfiable THROUGH the skip (optional
      // trailing click), but the strict purchase hop cannot bridge
      // the gap event → 2, not 3
      (4L, 2, Seq(Some(10 * s), None, None))))
  }

  /** Brute-force reach sets for [[Funnel.funnelPattern]]: per stage j,
    * every event position where an ACTUAL match of stage j ends, by
    * explicit predecessor enumeration (skips, strict hops and
    * notNext kills spelled out). */
  private def patternReference(seq: Seq[(Long, String)],
      stages: Seq[PatternStage]): (Int, Seq[Option[Long]]) = {
    val k = stages.length
    val n = seq.length
    // preds(j): (position, blocker of the stage matched there);
    // -1 = the virtual empty prefix (no blocker, ends everywhere)
    var preds: Seq[(Int, Option[String])] = Seq((-1, None))
    val endsTs = Array.fill(k)(Option.empty[Long])
    val ends = Array.fill(k)(Set.empty[Int])
    for (j <- 1 to k) {
      val st = stages(j - 1)
      ends(j - 1) = (0 until n).filter { i =>
        seq(i)._2 == st.tp && preds.exists { case (p, blk) =>
          val ord = if (st.strict) p == -1 || i == p + 1 else i > p
          val clean = blk.forall(x =>
            !(p + 1 < i && p + 1 < n && seq(p + 1)._2 == x))
          ord && clean
        }
      }.toSet
      endsTs(j - 1) = ends(j - 1).map(i => seq(i)._1).minOption
      val own = ends(j - 1).map(i => (i, st.notNextAfter)).toSeq
      preds = if (st.optional) preds ++ own else own
    }
    def sat(j: Int): Boolean =
      j == 0 || ends(j - 1).nonEmpty || (stages(j - 1).optional && sat(j - 1))
    ((1 to k).count(sat), endsTs.toSeq)
  }

  test("property: funnelPattern equals the brute-force reference; bucketed == single (1-second segments)") {
    val rnd = new scala.util.Random(20260815L)
    val types = Array("view", "click", "purchase", "error", "signup")
    val events = (0 until 600).map { i =>
      (rnd.nextInt(15).toLong, i.toLong, ts(rnd.nextInt(40)),
        types(rnd.nextInt(types.length)))
    }
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    val configs = Seq(
      Seq(PatternStage("view"), PatternStage("click", strict = true),
        PatternStage("purchase", strict = true)),
      Seq(PatternStage("view", notNextAfter = Some("error")),
        PatternStage("click", optional = true),
        PatternStage("purchase", strict = true)),
      Seq(PatternStage("signup"), PatternStage("error", optional = true),
        PatternStage("purchase")),
      // all-optional head: a strict hop riding the virtual empty prefix
      Seq(PatternStage("view", optional = true),
        PatternStage("click", strict = true),
        PatternStage("purchase")))
    for (stages <- configs) {
      val expected = events.groupBy(_._1).view.mapValues { es =>
        val seq = es.sortBy(e => (e._3.getTime, e._2))
          .map(e => (e._3.getTime * 1000L, e._4))
        patternReference(seq, stages)
      }.toMap
      val got = runPattern(df, stages).map(x =>
        x._1 -> ((x._2, x._3.map(_.map(_ + us0))))).toMap
      assert(got === expected, s"single fold, config $stages")
      val gotB = Funnel.run(splitByTime(df), "user_id", "event_type", "ts", "event_id",
          Pattern.pattern(stages))
        .orderBy("user_id").collect()
        .map(x => (x.getLong(0), x.getInt(1),
          (2 until 2 + stages.length).map(i =>
            Option(x.get(i)).map(_.asInstanceOf[Long] - us0))))
      assert(gotB === runPattern(df, stages), s"split, config $stages")
      // the generator must produce non-degenerate variety (reach level
      // or witness pattern — the all-optional-head config saturates
      // stage_reached but varies in ts nullability)
      assert(expected.values.toSet.size >= 2, s"degenerate $stages")
    }
  }

  // -------------------------------------------------------------------
  // funnelMulti — match enumeration, AFTER MATCH SKIP PAST LAST EVENT
  // -------------------------------------------------------------------

  private def runMulti(ev: org.apache.spark.sql.DataFrame,
      stages: Seq[String], maxMatches: Int, split: Boolean = false) =
    Funnel.run(splitByTime(ev, split), "user_id", "event_type", "ts", "event_id",
        Pattern.matches(stages, maxMatches))
      .orderBy("user_id", "match_idx").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        (3 until 3 + stages.length).map(i =>
          x.get(i).asInstanceOf[Long] - us0)))

  test("funnelMulti: greedy restart enumerates non-overlapping matches; the cap truncates rows, not the count") {
    val ev = Seq(
      // user 1: two full matches back to back, a dangling view after
      (1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "click"),
      (1L, 3L, ts(3), "purchase"),
      (1L, 4L, ts(4), "view"), (1L, 5L, ts(5), "click"),
      (1L, 6L, ts(6), "purchase"), (1L, 7L, ts(7), "view"),
      // user 2: the second view does NOT restart a match mid-flight
      // (skip-past-last consumes through the purchase)
      (2L, 8L, ts(1), "view"), (2L, 9L, ts(2), "view"),
      (2L, 10L, ts(3), "click"), (2L, 11L, ts(4), "purchase"),
      // user 3: no completed match → no rows
      (3L, 12L, ts(1), "view"), (3L, 13L, ts(2), "click")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val stages = Seq("view", "click", "purchase")
    val s = 1000000L
    assert(runMulti(ev, stages, maxMatches = 5) === Array(
      (1L, 1L, 2L, Seq(1 * s, 2 * s, 3 * s)),
      (1L, 2L, 2L, Seq(4 * s, 5 * s, 6 * s)),
      (2L, 1L, 1L, Seq(1 * s, 3 * s, 4 * s))))
    // cap 1: first match only, n_matches still reports the TRUE total
    assert(runMulti(ev, stages, maxMatches = 1) === Array(
      (1L, 1L, 2L, Seq(1 * s, 2 * s, 3 * s)),
      (2L, 1L, 1L, Seq(1 * s, 3 * s, 4 * s))))
  }

  test("property: funnelMulti equals the in-memory greedy-restart reference; bucketed == single") {
    val rnd = new scala.util.Random(777214L)
    val types = Array("view", "click", "purchase", "error")
    val stages = Seq("view", "click", "purchase")
    val events = (0 until 800).map { i =>
      (rnd.nextInt(10).toLong, i.toLong, ts(rnd.nextInt(60)),
        types(rnd.nextInt(types.length)))
    }
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    val expected = events.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val wit = scala.collection.mutable.ArrayBuffer.empty[Long]
      es.sortBy(e => (e._3.getTime, e._2)).foreach { e =>
        if (e._4 == stages(wit.length % 3)) wit += e._3.getTime * 1000L - us0
      }
      val nm = wit.length / 3
      (1 to math.min(nm, 4)).map(m =>
        (u, m.toLong, nm.toLong, wit.slice((m - 1) * 3, m * 3).toSeq))
    }.sortBy(x => (x._1, x._2))
    val got = runMulti(df, stages, maxMatches = 4)
    assert(got.toSeq === expected)
    assert(expected.exists(_._3 > 4L), "generator must exercise the cap")
    val gotB = runMulti(df, stages, maxMatches = 4, split = true)
    assert(gotB.toSeq === got.toSeq)
  }

  private def runSkip(ev: org.apache.spark.sql.DataFrame,
      stages: Seq[(String, Int)], skip: Funnel.SkipStrategy,
      maxMatches: Int) =
    Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.skip(stages, skip, maxMatches))
      .orderBy("user_id", "match_idx").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        (3 until 3 + stages.map(_._2).sum).map(i =>
          x.get(i).asInstanceOf[Long] - us0)))

  /** In-memory reference for [[Funnel.funnelSkip]]: per-start greedy
    * chains by direct scan, completion-order sort, pruning scan. */
  private def skipReference(events: Seq[(Long, Long, java.sql.Timestamp, String)],
      types: Seq[String], anchorIdx: Option[Int], inclusive: Boolean,
      cap: Int): Seq[(Long, Long, Long, Seq[Long])] = {
    events.groupBy(_._1).toSeq.flatMap { case (u, raw) =>
      val es = raw.map(e => (e._3.getTime * 1000L, e._2, e._4))
        .sortBy(e => (e._1, e._2))
      val chains = es.indices.filter(i => es(i)._3 == types.head).flatMap { i0 =>
        var cur = i0
        val w = scala.collection.mutable.ArrayBuffer((es(i0)._1, es(i0)._2))
        var ok = true
        types.tail.foreach { t =>
          if (ok) es.indexWhere(_._3 == t, cur + 1) match {
            case -1 => ok = false
            case j => w += ((es(j)._1, es(j)._2)); cur = j
          }
        }
        if (ok) Some(w.toSeq) else None
      }.sortBy(c => (c.last, c.head))
      var (mu, mo) = (Long.MinValue, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
      var n = 0L
      chains.foreach { c =>
        val (su, so) = c.head
        val surv = if (inclusive) su > mu || (su == mu && so >= mo)
          else su > mu || (su == mu && so > mo)
        if (surv) {
          n += 1
          if (out.size < cap) out += c
          anchorIdx.foreach { a =>
            val (au, ao) = c(a - 1)
            if (au > mu || (au == mu && ao > mo)) { mu = au; mo = ao }
          }
        }
      }
      out.zipWithIndex.map { case (c, m) =>
        (u, (m + 1).toLong, n, c.map(_._1 - us0)) }
    }.sortBy(x => (x._1, x._2))
  }

  test("funnelSkip: the four strategies partition the chain set differently on one log") {
    // user 1: chains A=(1,2,4,6), B=(3,4,5,6) overlap sharing click(4)
    // and purchase(6); C=(7,8,9,10) is disjoint. B starts BETWEEN A's
    // first click (2) and last click (4) — the case where FIRST and
    // LAST anchors genuinely differ.
    val ev = Seq(
      (1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "click"),
      (1L, 3L, ts(3), "view"), (1L, 4L, ts(4), "click"),
      (1L, 5L, ts(5), "click"), (1L, 6L, ts(6), "purchase"),
      (1L, 7L, ts(7), "view"), (1L, 8L, ts(8), "click"),
      (1L, 9L, ts(9), "click"), (1L, 10L, ts(10), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val stages = Seq("view" -> 1, "click" -> 2, "purchase" -> 1)
    val s = 1000000L
    val A = Seq(1 * s, 2 * s, 4 * s, 6 * s)
    val B = Seq(3 * s, 4 * s, 5 * s, 6 * s)
    val C = Seq(7 * s, 8 * s, 9 * s, 10 * s)
    assert(runSkip(ev, stages, Funnel.SkipToNext, 5).toSeq === Seq(
      (1L, 1L, 3L, A), (1L, 2L, 3L, B), (1L, 3L, 3L, C)))
    // FIRST anchors at A's first click (2): B's start (3) survives
    assert(runSkip(ev, stages, Funnel.SkipToFirst(2), 5).toSeq === Seq(
      (1L, 1L, 3L, A), (1L, 2L, 3L, B), (1L, 3L, 3L, C)))
    // LAST anchors at A's last click (4): B's start (3) is killed
    assert(runSkip(ev, stages, Funnel.SkipToLast(2), 5).toSeq === Seq(
      (1L, 1L, 2L, A), (1L, 2L, 2L, C)))
    assert(runSkip(ev, stages, Funnel.SkipPastLast, 5).toSeq === Seq(
      (1L, 1L, 2L, A), (1L, 2L, 2L, C)))
    // cap truncates rows, never the true count
    assert(runSkip(ev, stages, Funnel.SkipToNext, 1).toSeq === Seq(
      (1L, 1L, 3L, A)))
  }

  test("property: funnelSkip(SkipPastLast) == funnelMulti on random logs; all strategies match the reference") {
    val rnd = new scala.util.Random(1533L)
    val typesPool = Array("view", "click", "purchase", "error")
    val events = (0 until 900).map { i =>
      (rnd.nextInt(10).toLong, i.toLong, ts(rnd.nextInt(60)),
        typesPool(rnd.nextInt(typesPool.length)))
    }
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    // cross-machine: the pruning-scan SkipPastLast equals the
    // greedy-restart pointer machine, simple and quantified patterns
    val simple = Seq("view" -> 1, "click" -> 1, "purchase" -> 1)
    assert(runSkip(df, simple, Funnel.SkipPastLast, 4).toSeq ===
      runMulti(df, Seq("view", "click", "purchase"), 4).toSeq)
    val quant = Seq("view" -> 1, "click" -> 2, "purchase" -> 1)
    assert(runSkip(df, quant, Funnel.SkipPastLast, 4).toSeq ===
      runMulti(df, Seq("view", "click", "click", "purchase"), 4).toSeq)
    // reference: every strategy on the quantified pattern
    val qTypes = Seq("view", "click", "click", "purchase")
    for ((skip, anchor, incl) <- Seq(
        (Funnel.SkipToNext, None, true),
        (Funnel.SkipToFirst(2), Some(2), true),
        (Funnel.SkipToLast(2), Some(3), true),
        (Funnel.SkipPastLast, Some(4), false))) {
      val got = runSkip(df, quant, skip, 4).toSeq
      val exp = skipReference(events, qTypes, anchor, incl, 4)
      assert(got === exp, s"strategy $skip")
    }
  }

  /** In-memory reference for [[Funnel.funnelLoopConsecutive]] —
    * independent run/island formulation (NOT a machine transcription):
    * per stage, the earliest maximal same-type run of length >= minReps
    * starting after the previous stage's completion index; trailing
    * partial = the run containing the final event. */
  private def consecReference(seq: Seq[(Long, String)],
      stages: Seq[(String, Int)]): (Int, Seq[(Long, Option[Long])]) = {
    // islands: (type, startIdx, endIdx, lastUs)
    val islands = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Long)]
    seq.zipWithIndex.foreach { case ((us, tp), i) =>
      if (islands.nonEmpty && islands.last._1 == tp && islands.last._3 == i - 1) {
        val l = islands.last; islands(islands.size - 1) = (l._1, l._2, i, us)
      } else islands += ((tp, i, i, us))
    }
    var prevComp = -1 // completion index of the previous stage
    var reached = 0
    var live = true
    val out = stages.map { case (t, m) =>
      if (!live) (0L, Option.empty[Long])
      else islands.find(isl => isl._1 == t && isl._2 > prevComp &&
          isl._3 - isl._2 + 1 >= m) match {
        case Some(isl) =>
          reached += 1
          val comp = isl._2 + m - 1
          prevComp = comp
          (isl._3 - isl._2 + 1L, Some(isl._4))
        case None =>
          // trailing partial: the island containing the last event
          val r = islands.lastOption match {
            case Some(isl) if isl._1 == t && isl._2 > prevComp &&
                isl._3 == seq.length - 1 =>
              (isl._3 - isl._2 + 1L, Some(isl._4))
            case _ => (0L, Option.empty[Long])
          }
          live = false
          r
      }
    }
    (reached, out)
  }

  test("funnelLoopConsecutive: resets on a break, permanent loop close, breaker feeds the next stage") {
    val ev = Seq(
      // u1: v v(complete) v(absorb) c(close loop 1 + start stage 2)
      //     c(complete 2) v(close loop 2 -> done; stage-2 reps stay 2)
      (1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "view"),
      (1L, 3L, ts(3), "view"), (1L, 4L, ts(4), "click"),
      (1L, 5L, ts(5), "click"), (1L, 6L, ts(6), "view"),
      (1L, 7L, ts(7), "click"),
      // u2: v e v v — the error RESETS the partial block; the later
      // adjacent pair completes; trailing click run of 1 is observable
      (2L, 10L, ts(1), "view"), (2L, 11L, ts(2), "error"),
      (2L, 12L, ts(3), "view"), (2L, 13L, ts(4), "view"),
      (2L, 14L, ts(5), "click"),
      // u3: views never adjacent -> stage 0, trailing partial run 1
      (3L, 20L, ts(1), "view"), (3L, 21L, ts(2), "error"),
      (3L, 22L, ts(3), "view")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.loopConsecutive(Seq("view" -> 2, "click" -> 2)))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long] - us0),
        r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Long] - us0)))
    val s = 1000000L
    assert(got === Array(
      (1L, 2, 3L, Some(3 * s), 2L, Some(5 * s)),
      (2L, 1, 2L, Some(4 * s), 1L, Some(5 * s)),
      (3L, 0, 1L, Some(3 * s), 0L, None)))
  }

  test("property: funnelLoopConsecutive equals the island reference on random logs") {
    val rnd = new scala.util.Random(90211L)
    val typesPool = Array("view", "click", "error")
    val stages = Seq("view" -> 2, "click" -> 2)
    val events = (0 until 900).map { i =>
      (rnd.nextInt(12).toLong, i.toLong, ts(i / 15), // dense: runs form
        typesPool(rnd.nextInt(typesPool.length)))
    } ++ Seq( // a user whose views are never adjacent: stage 0 by design
      (99L, 1000L, ts(1), "view"), (99L, 1001L, ts(2), "error"),
      (99L, 1002L, ts(3), "view"), (99L, 1003L, ts(4), "error"))
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    val got = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.loopConsecutive(stages))
      .orderBy("user_id").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1),
        Seq((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])),
          (r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Long]))))))
      .toMap
    events.groupBy(_._1).foreach { case (u, es) =>
      val seq = es.sortBy(e => (e._3.getTime, e._2))
        .map(e => (e._3.getTime * 1000L, e._4))
      val (reached, slots) = consecReference(seq, stages)
      assert(got(u) === ((reached, slots)), s"user $u")
    }
    assert(got.values.exists(_._1 == 2), "generator must complete some")
    assert(got.values.exists(_._1 == 0), "generator must fail some")
    // the log split by event time gives the same rows
    val byTime = Funnel.run(splitByTime(df), "user_id", "event_type", "ts", "event_id",
        Pattern.loopConsecutive(stages))
      .orderBy("user_id").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1),
        Seq((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])),
          (r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Long]))))))
      .toMap
    assert(byTime === got)
  }

  test("consecutive consume modes: reluctant stops at the mandatory block, greedy absorbs the run; spine identical; bucketed == single") {
    // v v v c c: view{2+ consecutive} -> click{1+ consecutive}
    // greedy: view run absorbs all 3 (reps 3, ts @3); click completes
    // at @4 then absorbs @5 (reps 2, ts @5)
    // reluctant: view stops at the block (reps 2, ts @2); click stops
    // at 1 (reps 1, ts @4)
    val ev = Seq(
      (1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "view"),
      (1L, 3L, ts(3), "view"), (1L, 4L, ts(4), "click"),
      (1L, 5L, ts(5), "click"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val stages = Seq(("view", 2), ("click", 1))
    def one(mode: Funnel.ConsumeMode, split: Boolean = false) = {
      val r = Funnel.run(splitByTime(ev, split),
          "user_id", "event_type", "ts", "event_id",
          Pattern.loopConsecutive(stages, mode)).collect()
      assert(r.length === 1)
      (r(0).getInt(1), (0 until 2).map(j =>
        (r(0).getLong(2 + 2 * j), r(0).getLong(3 + 2 * j))))
    }
    val (gR, gL) = one(Funnel.Greedy)
    val (rR, rL) = one(Funnel.Reluctant)
    assert(gR === 2 && rR === 2) // spine is mode-free
    assert(gL === Seq((3L, tsUs(3)), (2L, tsUs(5))))
    assert(rL === Seq((2L, tsUs(2)), (1L, tsUs(4))))
    // the log split by event time gives the same rows
    assert(one(Funnel.Greedy, split = true) === ((gR, gL)))
    assert(one(Funnel.Reluctant, split = true) === ((rR, rL)))
    // a mid-run break resets identically under both modes
    val broken = Seq(
      (2L, 10L, ts(1), "view"), (2L, 11L, ts(2), "error"),
      (2L, 12L, ts(3), "view"), (2L, 13L, ts(4), "view"),
      (2L, 14L, ts(5), "click"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val gB = Funnel.run(broken, "user_id", "event_type", "ts", "event_id",
        Pattern.loopConsecutive(stages, Funnel.Greedy)).collect()(0)
    val rB = Funnel.run(broken, "user_id", "event_type", "ts", "event_id",
        Pattern.loopConsecutive(stages, Funnel.Reluctant)).collect()(0)
    assert(gB.getInt(1) === 2 && rB.getInt(1) === 2)
    assert(gB.getLong(3) === tsUs(4) && rB.getLong(3) === tsUs(4))
  }

  test("until consume modes: reluctant caps reps at the block, stall and spine identical under both; bucketed == single") {
    // v v s c c c p with view{1+, until signup} click{2+} purchase{1+}:
    // greedy: view absorbs v@2 (reps 2, ts@2) until s@3 closes; click
    // picks @4,@5 then absorbs @6 (reps 3, ts@6); purchase @7
    // reluctant: view reps 1 ts@1; click reps 2 ts@5; purchase 1 ts@7
    val ev = Seq(
      (1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "view"),
      (1L, 3L, ts(3), "signup"), (1L, 4L, ts(4), "click"),
      (1L, 5L, ts(5), "click"), (1L, 6L, ts(6), "click"),
      (1L, 7L, ts(7), "purchase"),
      // user 2: signup BEFORE the first view stalls BOTH modes
      (2L, 10L, ts(1), "signup"), (2L, 11L, ts(2), "view"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val stages = Seq(("view", 1, Some("signup")), ("click", 2, None),
      ("purchase", 1, Some("error")))
    def run(mode: Funnel.ConsumeMode, split: Boolean = false) =
      Funnel.run(splitByTime(ev, split), "user_id", "event_type", "ts", "event_id",
          Pattern.loopUntil(stages, mode)).orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), (0 until 3).map(j =>
          (r.getLong(2 + 2 * j),
            Option(r.get(3 + 2 * j)).map(_.asInstanceOf[Long]))))).toSeq
    val g = run(Funnel.Greedy)
    val r = run(Funnel.Reluctant)
    assert(g.map(x => (x._1, x._2)) === r.map(x => (x._1, x._2))) // spine
    assert(g(0) === ((1L, 3, Seq((2L, Some(tsUs(2))), (3L, Some(tsUs(6))),
      (1L, Some(tsUs(7)))))))
    assert(r(0) === ((1L, 3, Seq((1L, Some(tsUs(1))), (2L, Some(tsUs(5))),
      (1L, Some(tsUs(7)))))))
    assert(g(1)._2 === 0 && r(1)._2 === 0) // the stall is mode-free
    assert(run(Funnel.Greedy, split = true) === g)
    assert(run(Funnel.Reluctant, split = true) === r)
  }

  test("funnelWhere: value-gated and subtype-style predicates; low-value events are skipped, not consumed; bucketed == single") {
    // the value gate: view(v=3) must NOT advance stage 1 (threshold 5)
    // and must NOT block the later view(v=9) from doing so
    val ev = Seq(
      (1L, 1L, ts(1), "view", 3L), (1L, 2L, ts(2), "view", 9L),
      (1L, 3L, ts(3), "click", 1L),
      (2L, 10L, ts(1), "view.promo", 7L), (2L, 11L, ts(2), "click", 1L),
      (3L, 20L, ts(1), "view", 9L))
      .toDF("user_id", "event_id", "ts", "event_type", "v")
    // subtype-style: stage 1 matches ANY view* type (Flink subtype()),
    // with the value gate; stage 2 any click
    val stages: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      Seq(
        e => e.getField("event_type").startsWith("view") &&
          e.getField("v") >= 5L,
        e => e.getField("event_type") === "click")
    val got = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.where(Seq("event_type", "v"), stages))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(got.toSeq === Seq(
      (1L, 2, Some(tsUs(2)), Some(tsUs(3))), // v=3 view skipped, v=9 picked
      (2L, 2, Some(tsUs(1)), Some(tsUs(2))), // subtype view.promo matches
      (3L, 1, Some(tsUs(1)), None)))
    // a random corpus, and the same corpus split by event time
    val rnd = new scala.util.Random(5316L)
    val types = Array("view", "view.promo", "click", "purchase")
    val big = (0 until 500).map { i =>
      (rnd.nextInt(10).toLong, i.toLong, ts(rnd.nextInt(60)),
        types(rnd.nextInt(types.length)), rnd.nextInt(12).toLong)
    }.toDF("user_id", "event_id", "ts", "event_type", "v")
    val single = Funnel.run(big, "user_id", "event_type", "ts", "event_id",
        Pattern.where(Seq("event_type", "v"), stages))
      .orderBy("user_id").collect().map(_.toString).toSeq
    val byTime = Funnel.run(splitByTime(big), "user_id", "event_type", "ts", "event_id",
        Pattern.where(Seq("event_type", "v"), stages))
      .orderBy("user_id").collect().map(_.toString).toSeq
    assert(byTime === single)
  }

  test("funnelIterative: the greedy-earliest anchor trap; AnchorPrev increasing chains; first-stage condition rejected") {
    // AnchorFirst trap: the earliest view carries a HOPELESS anchor
    // (100) — greedy-earliest would fail the click; the min-first
    // dominance lets the later view(5) restart carry the chain
    val trap = Seq(
      (1L, 1L, ts(1), "view", 100L), (1L, 2L, ts(2), "view", 5L),
      (1L, 3L, ts(3), "click", 50L))
      .toDF("user_id", "event_id", "ts", "event_type", "v")
    val stages2 = Seq(Funnel.IterStage("view"),
      Funnel.IterStage("click", Some(Funnel.RelGt(1, 1))))
    val r1 = Funnel.run(trap, "user_id", "event_type", "ts", "event_id",
        Pattern.iterative("v", stages2, Funnel.AnchorFirst)).collect()
    assert(r1.length === 1 && r1(0).getInt(1) === 2)
    assert(r1(0).getLong(2) === tsUs(1)) // first view MATCH is still @1
    assert(r1(0).getLong(3) === tsUs(3)) // the click that greedy loses
    // AnchorPrev: strictly-increasing 3-chain over ONE type (LIS-like;
    // same-type stages are legal here — no loop-absorb ambiguity)
    val inc = Seq(
      (1L, 1L, ts(1), "x", 5L), (1L, 2L, ts(2), "x", 3L),
      (1L, 3L, ts(3), "x", 4L), (1L, 4L, ts(4), "x", 6L))
      .toDF("user_id", "event_id", "ts", "event_type", "v")
    val stages3 = Seq(Funnel.IterStage("x"),
      Funnel.IterStage("x", Some(Funnel.RelGt(1, 1))),
      Funnel.IterStage("x", Some(Funnel.RelGt(1, 1))))
    val r2 = Funnel.run(inc, "user_id", "event_type", "ts", "event_id",
        Pattern.iterative("v", stages3, Funnel.AnchorPrev)).collect()
    assert(r2.length === 1 && r2(0).getInt(1) === 3)
    assert((2 to 4).map(r2(0).getLong) === Seq(tsUs(1), tsUs(3), tsUs(4)))
    // the first stage cannot carry a condition
    val e = intercept[IllegalArgumentException](
      Funnel.run(inc, "user_id", "event_type", "ts", "event_id",
          Pattern.iterative("v", Seq(Funnel.IterStage("x", Some(Funnel.RelGt(1, 1)))))))
    assert(e.getMessage.contains("first stage"))
  }

  test("funnelIterative contracts: NULL value fails LOUDLY on all surfaces; string order columns tie-break identically (round-16 review)") {
    // NULL value: a silent per-surface default (0 on the sorted path)
    // would fabricate a minimal anchor — the contract is a loud error
    val withNull = Seq(
      (1L, 1L, ts(1), "view", Some(100L)), (1L, 2L, ts(2), "view", None),
      (1L, 3L, ts(3), "click", Some(50L)))
      .toDF("user_id", "event_id", "ts", "event_type", "v")
    val stages = Seq(Funnel.IterStage("view"),
      Funnel.IterStage("click", Some(Funnel.RelGt(1, 1))))
    def chainHas(e: Throwable, s: String): Boolean = {
      var cur = e; var seen = List.empty[Throwable]
      while (cur != null && !seen.exists(_ eq cur)) {
        if (Option(cur.getMessage).exists(_.contains(s))) return true
        seen ::= cur; cur = cur.getCause
      }
      false
    }
    val e1 = intercept[Throwable](Funnel.run(withNull,
        "user_id", "event_type", "ts", "event_id",
        Pattern.iterative("v", stages)).collect())
    assert(chainHas(e1, "NULL in value column"))
    val e2 = intercept[Throwable](Funnel.run(splitByTime(withNull),
        "user_id", "event_type", "ts", "event_id",
        Pattern.iterative("v", stages)).collect())
    assert(chainHas(e2, "NULL in value column"))
    // string order column: same-us ties must break in the STRING order
    // on both plans ("10" < "9" lexicographically)
    val tied = Seq(
      (1L, "9", ts(1), "view", 5L), (1L, "10", ts(1), "click", 50L))
      .toDF("user_id", "event_id", "ts", "event_type", "v")
    val fold = Funnel.run(tied, "user_id", "event_type", "ts", "event_id",
        Pattern.iterative("v", stages)).collect().map(_.toString).toSeq
    val sorted = Funnel.run(splitByTime(tied), "user_id", "event_type", "ts", "event_id",
        Pattern.iterative("v", stages)).collect().map(_.toString).toSeq
    assert(sorted === fold)
    // and the string order genuinely matters: click "10" precedes view
    // "9", so the funnel must NOT complete
    assert(fold.length === 1 && fold(0).contains(",1,"))
  }

  test("lazy build: every Pattern constructor builds with no Spark job on Funnel.run over a frame whose scan throws") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", StringType),
      StructField("event_type", StringType), StructField("v", LongType)))
    val failing = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(1), 1)
        .mapPartitions[Row](_ => throw new RuntimeException("scan ran")),
      schema)
    val typed = Seq("view", "click", "purchase")
    val pattern = Seq(Funnel.PatternStage("view"),
      Funnel.PatternStage("click", strict = true))
    val guarded = Seq(Funnel.PatternStage("view"),
      Funnel.PatternStage("click", notNextAfter = Some("error")))
    val loop = Seq("view" -> 2, "click" -> 1)
    val W = 60000000L
    // one row per constructor and routed variant: every shape's plan
    // must be built without running the scan, the user-keyed exchange
    // or any probe
    val shapes: Seq[(String, Pattern)] = Seq(
      "times" -> Pattern.times(typed.map(_ -> 1)),
      "times quantified" -> Pattern.times(loop),
      "loop" -> Pattern.loop(loop),
      "timesRange" -> Pattern.timesRange(Seq(("view", 1, 2), ("click", 1, 1))),
      "timesRange floor" -> loopMode(loop, Funnel.Reluctant),
      "loopConsecutive" -> Pattern.loopConsecutive(loop),
      "loopUntil" -> Pattern.loopUntil(
        Seq(("view", 1, Some("error")), ("click", 1, None))),
      "within" -> Pattern.within(typed, W),
      "within guarded" -> Pattern.within(typed, W, Seq(Some("error"), None)),
      "guarded" -> Pattern.guarded(typed, Seq(Some("error"), None)),
      "pattern" -> Pattern.pattern(pattern),
      "patternWithin" -> Pattern.patternWithin(pattern, W),
      "groupTimes" -> Pattern.groupTimes(pattern, 2),
      "groupTimesWithin" -> Pattern.groupTimesWithin(pattern, 2, W),
      "groupLoop" -> Pattern.groupLoop(guarded),
      "groupTimesRange" -> Pattern.groupTimesRange(pattern, 1, 2),
      "groupTimesRange guarded" -> Pattern.groupTimesRange(guarded, 1, 2),
      "groupTimesOrMore" -> Pattern.groupTimesOrMore(pattern, 2),
      "groupMatches" -> Pattern.groupMatches(Seq("view", "click"), 2, 3),
      "groupMatchesWithin" -> Pattern.groupMatchesWithin(
        Seq("view", "click"), 2, 3, W),
      "groupMatches absence" -> Pattern.groupMatches(Seq("view", "click"), 2,
        3, Some((W, "error"))),
      "groupMatchesRange" -> Pattern.groupMatchesRange(Seq("view", "click"),
        1, 2, 3),
      "groupMatchesRange absence" -> Pattern.groupMatchesRange(
        Seq("view", "click"), 1, 2, 3, Some((W, "error"))),
      "matches" -> Pattern.matches(typed, 3),
      "matches absence" -> Pattern.matches(typed, 3, Some((W, "error"))),
      "skip" -> Pattern.skip(loop, Funnel.SkipToLast(1), 3),
      "anyCount" -> Pattern.anyCount(typed),
      "combinations" -> Pattern.combinations(
        Seq("view" -> false, "click" -> true)),
      "iterative" -> Pattern.iterative("v", Seq(Funnel.IterStage("view"),
        Funnel.IterStage("click", Some(Funnel.RelGt(1, 1))))),
      "anyEnumerate" -> Pattern.anyEnumerate(typed),
      "where" -> Pattern.where(Seq("event_type", "v"),
        Seq(e => e.getField("v") > 5L,
          e => e.getField("event_type") === "click")))
    // the table covers every public Pattern constructor
    val constructors = Pattern.getClass.getMethods
      .filter(m => m.getReturnType == classOf[Pattern] &&
        !m.getName.contains("$"))
      .map(_.getName).toSet
    assert(shapes.map(_._1.takeWhile(_ != ' ')).toSet === constructors)
    for ((name, p) <- shapes) {
      val df = Funnel.run(failing, "user_id", "event_type", "ts", "event_id", p)
      assert(df.columns.head === "user_id", name)
      assert(!groupsByAttr(df), s"$name plans a time-bucketed split")
      // the frame really does throw once an action runs it
      val e = intercept[Throwable](df.collect())
      var cur = e; var seen = List.empty[Throwable]; var found = false
      while (cur != null && !seen.exists(_ eq cur)) {
        found ||= Option(cur.getMessage).exists(_.contains("scan ran"))
        seen ::= cur; cur = cur.getCause
      }
      assert(found, s"$name: $e")
    }
  }

  test("consume modes: greedy and reluctant genuinely differ on reps/ts, agree on stage_reached; arms delegate to the gated machines") {
    // v@1 v@2 v@3 c@4 c@5 p@6 with view{2+} click{1+} purchase{1+}:
    // both modes complete; greedy's view loop absorbs v@3 and click
    // loop absorbs c@5, reluctant stops at the mandatory picks
    val ev = Seq(
      (1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "view"),
      (1L, 3L, ts(3), "view"), (1L, 4L, ts(4), "click"),
      (1L, 5L, ts(5), "click"), (1L, 6L, ts(6), "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val stages = Seq(("view", 2), ("click", 1), ("purchase", 1))
    def one(mode: Funnel.ConsumeMode, split: Boolean = false) = {
      val r = Funnel.run(splitByTime(ev, split),
          "user_id", "event_type", "ts", "event_id",
          loopMode(stages, mode)).collect()
      assert(r.length === 1)
      (r(0).getInt(1), (0 until 3).map(j =>
        (r(0).getLong(2 + 2 * j), r(0).getLong(3 + 2 * j))))
    }
    val (gReached, gLoops) = one(Funnel.Greedy)
    val (rReached, rLoops) = one(Funnel.Reluctant)
    assert(gReached === 3 && rReached === 3) // existence is mode-free
    assert(gLoops === Seq((3L, tsUs(3)), (2L, tsUs(5)), (1L, tsUs(6))))
    assert(rLoops === Seq((2L, tsUs(2)), (1L, tsUs(4)), (1L, tsUs(6))))
    assert(gLoops !== rLoops) // the modes are genuinely different
    // the log split by event time gives the same rows
    assert(one(Funnel.Greedy, split = true) === ((gReached, gLoops)))
    assert(one(Funnel.Reluctant, split = true) === ((rReached, rLoops)))
  }

  test("group pattern: strict INSIDE copies, relaxed BETWEEN — the seam never inherits the group's internal strictness") {
    val group = Seq(Funnel.PatternStage("view"),
      Funnel.PatternStage("click", strict = true))
    val ev = Seq(
      // u1: SEAM TRAP — an error sits between the first copy's click
      // and the second copy's view: relaxed seams complete both reps,
      // consecutive seams stop at 1. A wrong expansion that leaks the
      // group's internal strict flag onto the seam would also stop at 1.
      (1L, 1L, ts(10), "view"), (1L, 2L, ts(11), "click"),
      (1L, 3L, ts(12), "error"),
      (1L, 4L, ts(13), "view"), (1L, 5L, ts(14), "click"),
      // u2: internal strictness PRESERVED in the second copy — its
      // view is the click's immediate successor (seam fine either
      // mode) but an error breaks the copy's own view→click hop.
      (2L, 6L, ts(10), "view"), (2L, 7L, ts(11), "click"),
      (2L, 8L, ts(12), "view"), (2L, 9L, ts(13), "error"),
      (2L, 10L, ts(14), "click"),
      // u3: adjacent double match — both modes complete
      (3L, 11L, ts(10), "view"), (3L, 12L, ts(11), "click"),
      (3L, 13L, ts(12), "view"), (3L, 14L, ts(13), "click"))
      .toDF("user_id", "event_id", "ts", "event_type")
    def byUser(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getInt(1),
        (2 to 5).map(i => Option(r.get(i))
          .map(_.asInstanceOf[Long])).toSeq))).toMap
    val relaxed = byUser(Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.groupTimes(group, 2)))
    assert(relaxed(1L) === ((2, Seq(Some(tsUs(10)), Some(tsUs(11)),
      Some(tsUs(13)), Some(tsUs(14))))))
    assert(relaxed(2L)._1 === 1)
    // u2's second copy matched its view (first-reach stamped) but the
    // strict click hop is dead
    assert(relaxed(2L)._2 === Seq(Some(tsUs(10)), Some(tsUs(11)),
      Some(tsUs(12)), None))
    assert(relaxed(3L)._1 === 2)
    val consec = byUser(Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.groupTimes(group, 2, true)))
    assert(consec(1L)._1 === 1, "consecutive seams must reject the gap")
    assert(consec(2L)._1 === 1)
    assert(consec(3L)._1 === 2)
    // the log split by event time gives the same rows, both seam modes
    assert(byUser(Funnel.run(splitByTime(ev), "user_id", "event_type", "ts", "event_id",
        Pattern.groupTimes(group, 2))) === relaxed)
    assert(byUser(Funnel.run(splitByTime(ev), "user_id", "event_type", "ts", "event_id",
        Pattern.groupTimes(group, 2, true))) === consec)
    // contract: the group is a `begin` (non-strict head), no trailing
    // gap guard, times >= 1
    intercept[IllegalArgumentException] {
      Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupTimes(Seq(Funnel.PatternStage("view", strict = true)), 2))
    }
    intercept[IllegalArgumentException] {
      Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupTimes(Seq(Funnel.PatternStage("view",
          notNextAfter = Some("error"))), 2))
    }
    intercept[IllegalArgumentException] {
      Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupTimes(group, 0))
    }
  }

  test("group pattern within: the window spans ALL repetitions; a late restart realizes a fresh window") {
    val group = Seq(Funnel.PatternStage("view"),
      Funnel.PatternStage("click", strict = true))
    val ev = Seq(
      // u1: first full double-match starts at t=0 but its second rep
      // completes at t=25 — outside the 20 s window; the RESTART at
      // t=10 fits (10..14 within 20), so reps=2 with win start 10
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(1), "click"),
      (1L, 3L, ts(10), "view"), (1L, 4L, ts(11), "click"),
      (1L, 5L, ts(13), "view"), (1L, 6L, ts(14), "click"),
      // u2: both reps exist but never inside one window (0-1, 30-31)
      (2L, 7L, ts(0), "view"), (2L, 8L, ts(1), "click"),
      (2L, 9L, ts(30), "view"), (2L, 10L, ts(31), "click"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.groupTimesWithin(group, 2, 20L * 1000000L))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(out(1L) === ((2, Some(tsUs(10)))))
    assert(out(2L)._1 === 1)
  }

  test("group oneOrMore: sequential reps, the consecutive-seam greedy trap, strict/optional/notNext inside the group") {
    def reps(ev: org.apache.spark.sql.DataFrame,
        group: Seq[Funnel.PatternStage], consec: Boolean = false) =
      Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupLoop(group, consec))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vc = Seq(Funnel.PatternStage("view"), Funnel.PatternStage("click"))
    val ev1 = Seq(
      // u1: V C V C V — two sequential traversals, trailing V mid-rep
      (1L, 1L, ts(10), "view"), (1L, 2L, ts(11), "click"),
      (1L, 3L, ts(12), "view"), (1L, 4L, ts(13), "click"),
      (1L, 5L, ts(14), "view"),
      // u2: C V V C C — one traversal only (reps are SEQUENTIAL:
      // the second rep's view must fall after the first rep's click)
      (2L, 6L, ts(10), "click"), (2L, 7L, ts(11), "view"),
      (2L, 8L, ts(12), "view"), (2L, 9L, ts(13), "click"),
      (2L, 10L, ts(14), "click"),
      // u3: no click at all → 0
      (3L, 11L, ts(10), "view"), (3L, 12L, ts(11), "view"))
      .toDF("user_id", "event_id", "ts", "event_type")
    assert(reps(ev1, vc) === Map(1L -> 2L, 2L -> 1L, 3L -> 0L))

    // THE CONSECUTIVE-SEAM TRAP: greedy-earliest replay completes
    // rep 1 at (V1,C2), finds X at the seam and reports 1 — but the
    // chain starting at V4 completes (V4,C5)(V6,C7) adjacently for 2.
    // This is why the machine is a dominance fold, not a pick chain.
    val trap = Seq(
      (1L, 1L, ts(10), "view"), (1L, 2L, ts(11), "click"),
      (1L, 3L, ts(12), "error"),
      (1L, 4L, ts(13), "view"), (1L, 5L, ts(14), "click"),
      (1L, 6L, ts(15), "view"), (1L, 7L, ts(16), "click"))
      .toDF("user_id", "event_id", "ts", "event_type")
    assert(reps(trap, vc, consec = true) === Map(1L -> 2L))
    assert(reps(trap, vc) === Map(1L -> 3L)) // relaxed: all three pair up

    // strict INTERNAL hop: click must be the view's immediate successor
    val strictG = Seq(Funnel.PatternStage("view"),
      Funnel.PatternStage("click", strict = true))
    val ev2 = Seq(
      (1L, 1L, ts(10), "view"), (1L, 2L, ts(11), "error"),
      (1L, 3L, ts(12), "click"),
      (1L, 4L, ts(13), "view"), (1L, 5L, ts(14), "click"))
      .toDF("user_id", "event_id", "ts", "event_type")
    assert(reps(ev2, strictG) === Map(1L -> 1L))

    // optional MID-stage: V (C?) P — the skip and the full copy both count
    val optG = Seq(Funnel.PatternStage("view"),
      Funnel.PatternStage("click", optional = true),
      Funnel.PatternStage("purchase"))
    val ev3 = Seq(
      (1L, 1L, ts(10), "view"), (1L, 2L, ts(11), "purchase"),
      (1L, 3L, ts(12), "view"), (1L, 4L, ts(13), "click"),
      (1L, 5L, ts(14), "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type")
    assert(reps(ev3, optG) === Map(1L -> 2L))

    // notNext guard inside the group: a view whose immediate successor
    // is an error dies with its chain
    val guardG = Seq(Funnel.PatternStage("view",
      notNextAfter = Some("error")), Funnel.PatternStage("click"))
    val ev4 = Seq(
      (1L, 1L, ts(10), "view"), (1L, 2L, ts(11), "error"),
      (1L, 3L, ts(12), "click"),
      (1L, 4L, ts(13), "view"), (1L, 5L, ts(14), "click"))
      .toDF("user_id", "event_id", "ts", "event_type")
    assert(reps(ev4, guardG) === Map(1L -> 1L))

    // the threshold wrappers: timesOrMore(2) flags u1 only; the
    // bounded range times(2, 3) reports matched on the same relation
    val tom = Funnel.run(ev1, "user_id", "event_type", "ts", "event_id",
        Pattern.groupTimesOrMore(vc, 2))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        r.getBoolean(2)))).toMap
    assert(tom === Map(1L -> ((2L, true)), 2L -> ((1L, false)),
      3L -> ((0L, false))))
    val rng = Funnel.run(ev1, "user_id", "event_type", "ts", "event_id",
        Pattern.groupTimesRange(vc, 2, 3))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        r.getBoolean(2)))).toMap
    assert(rng(1L) === ((2, true)) && rng(2L) === ((1, false)))
    intercept[IllegalArgumentException] {
      Funnel.run(ev1, "user_id", "event_type", "ts", "event_id",
          Pattern.groupTimesRange(vc, 3, 2))
    }

    // contract: head and tail must be mandatory; the flat pattern
    // contract (non-strict head, no trailing gap guard) is lifted
    intercept[IllegalArgumentException] {
      Funnel.run(ev1, "user_id", "event_type", "ts", "event_id",
          Pattern.groupLoop(Seq(Funnel.PatternStage("view", optional = true),
          Funnel.PatternStage("click"))))
    }
    intercept[IllegalArgumentException] {
      Funnel.run(ev1, "user_id", "event_type", "ts", "event_id",
          Pattern.groupLoop(Seq(Funnel.PatternStage("view"),
          Funnel.PatternStage("click", optional = true))))
    }
    intercept[IllegalArgumentException] {
      Funnel.run(ev1, "user_id", "event_type", "ts", "event_id",
          Pattern.groupLoop(Seq(Funnel.PatternStage("view", strict = true))))
    }
  }

  test("property: group-loop dominance fold equals an independent exponential enumerator on random corpora") {
    // Brute force: enumerate EVERY chain of sequential traversals,
    // exact NFA semantics — strict hops are immediate-successor,
    // optional mid-stages skip without moving the strictness anchor,
    // a notNext kill blocks extension only past the blocker (an
    // advance AT the blocker event reads the pre-state, the l/o
    // rule), seams relaxed or adjacent. Exponential, tiny inputs.
    def bruteReps(tps: Vector[String], group: Seq[Funnel.PatternStage],
        consec: Boolean): Long = {
      val k = group.length
      val n = tps.length
      // completions(e1bound, adjacent): all end indices of one full
      // traversal whose first event is > e1bound (or == e1bound + 1).
      // `lastStage` tracks the last MATCHED stage (optional skips do
      // not move it) — strictness anchors and gap guards are ITS.
      def ends(j: Int, lastIdx: Int, lastStage: Int, bound: Int,
          adjacent: Boolean): Set[Int] =
        if (j > k) Set(lastIdx)
        else {
          val st = group(j - 1)
          val viaSkip =
            if (st.optional && j > 1)
              ends(j + 1, lastIdx, lastStage, bound, adjacent)
            else Set.empty[Int]
          val cands = (0 until n).filter { e =>
            tps(e) == st.tp && {
              if (j == 1) { if (adjacent) e == bound + 1 else e > bound }
              else if (st.strict) e == lastIdx + 1
              else e > lastIdx
            } && {
              // the last MATCHED stage's gap guard: extension past the
              // blocker is dead, landing ON the blocker is not
              if (j == 1) true
              else group(lastStage - 1).notNextAfter match {
                case Some(x) if lastIdx + 1 < n &&
                    tps(lastIdx + 1) == x => e == lastIdx + 1
                case _ => true
              }
            }
          }
          viaSkip ++ cands.flatMap(e =>
            ends(j + 1, e, j, bound, adjacent))
        }
      def best(bound: Int, adjacent: Boolean): Long = {
        // the TRAILING seam guard: a completion immediately followed
        // by the last stage's blocker is invalid (end-of-log passes)
        val es = ends(1, -1, 0, bound, adjacent).filter(t =>
          group.last.notNextAfter.forall(x =>
            t + 1 >= n || tps(t + 1) != x))
        if (es.isEmpty) 0L
        else es.map(t => 1L + best(t, consec)).max
      }
      best(-1, adjacent = false)
    }
    val rnd = new scala.util.Random(20260817L)
    val groups = Seq(
      Seq(Funnel.PatternStage("A"), Funnel.PatternStage("B")),
      Seq(Funnel.PatternStage("A"),
        Funnel.PatternStage("B", strict = true)),
      Seq(Funnel.PatternStage("A", notNextAfter = Some("X")),
        Funnel.PatternStage("B")),
      Seq(Funnel.PatternStage("A"),
        Funnel.PatternStage("X", optional = true),
        Funnel.PatternStage("B")),
      // kill × optional-skip: a chain that skips X still carries A's
      // gap guard (the last MATCHED stage's, not the list-previous)
      Seq(Funnel.PatternStage("A", notNextAfter = Some("X")),
        Funnel.PatternStage("X", optional = true),
        Funnel.PatternStage("B")),
      // TRAILING seam guard (round 18): a completion immediately
      // followed by X is invalid — the bl kill transition
      Seq(Funnel.PatternStage("A"),
        Funnel.PatternStage("B", notNextAfter = Some("X"))),
      // trailing guard composed with a strict hop
      Seq(Funnel.PatternStage("A"),
        Funnel.PatternStage("B", strict = true,
          notNextAfter = Some("X"))))
    val types = Array("A", "B", "X")
    for ((g, gi) <- groups.zipWithIndex; consec <- Seq(false, true)) {
      val corpora = (1 to 25).map { u =>
        u.toLong -> Vector.fill(6 + rnd.nextInt(9))(
          types(rnd.nextInt(3)))
      }
      val ev = corpora.flatMap { case (u, tps) =>
        tps.zipWithIndex.map { case (tp, i) =>
          (u, u * 1000 + i, ts(i), tp) }
      }.toDF("user_id", "event_id", "ts", "event_type")
      val got = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupLoop(g, consec))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      corpora.foreach { case (u, tps) =>
        assert(got(u) === bruteReps(tps, g, consec),
          s"group#$gi consec=$consec user=$u tps=${tps.mkString}")
      }
    }
  }

  test("property: group-loop consume modes — reluctant == floor-capped greedy (truncation law) across single/bucketed/auto, both seam modes") {
    val rnd = new scala.util.Random(20260818L)
    val types = Array("view", "click", "error")
    val ev = (1 to 30).flatMap { u =>
      (1 to 40).map { i =>
        (u.toLong, (u * 1000 + i).toLong, ts(rnd.nextInt(50)),
          types(rnd.nextInt(types.length)))
      }
    }.toDF("user_id", "event_id", "ts", "event_type")
    val groups = Seq(
      Seq(Funnel.PatternStage("view"), Funnel.PatternStage("click")),
      Seq(Funnel.PatternStage("view"),
        Funnel.PatternStage("click", strict = true)),
      Seq(Funnel.PatternStage("view",
        notNextAfter = Some("error")),
        Funnel.PatternStage("error", optional = true),
        Funnel.PatternStage("click")))
    def collectReps(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (g <- groups; consec <- Seq(false, true); m <- Seq(1, 2, 3)) {
      val greedy = collectReps(Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupLoop(g, consec)))
      // the in-fold completion cap (a DIFFERENT machine from the
      // greedy fold) must equal min(greedy, m) — the truncation law
      val rel = collectReps(Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupLoop(g, consec, Funnel.Reluctant, m)))
      assert(rel === greedy.map { case (u, r) => u -> math.min(r, m.toLong) },
        s"group=$g consec=$consec m=$m")
      // the log split by event time gives the same rows
      val relB = collectReps(Funnel.run(splitByTime(ev),
          "user_id", "event_type", "ts", "event_id",
          Pattern.groupLoop(g, consec, Funnel.Reluctant, m)))
      assert(relB === rel, s"split group=$g consec=$consec m=$m")
      // mode never moves EXISTENCE: timesOrMore matched agrees
      val gm = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupTimesOrMore(g, m, consec))
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      val rm = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupTimesOrMore(g, m, consec, Funnel.Reluctant))
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(gm === rm, s"matched group=$g consec=$consec m=$m")
    }
  }

  test("group-loop greedy genuinely differs from reluctant: three traversals report 3 vs the floor") {
    // one user, three clean view→click traversals
    val ev = Seq("view", "click", "view", "click", "view", "click")
      .zipWithIndex.map { case (tp, i) => (1L, i.toLong, ts(i), tp) }
      .toDF("user_id", "event_id", "ts", "event_type")
    val g = Seq(Funnel.PatternStage("view"), Funnel.PatternStage("click"))
    def reps(mode: Funnel.ConsumeMode, m: Int) =
      Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupLoop(g, mode = mode, minTimes = m)).head().getLong(1)
    assert(reps(Funnel.Greedy, 1) === 3L)   // maximal consumption
    assert(reps(Funnel.Reluctant, 1) === 1L) // oneOrMore stops at 1
    assert(reps(Funnel.Reluctant, 2) === 2L) // timesOrMore(2) floor
  }

  test("trailing seam guard: a completion immediately followed by the blocker dies; end-of-log completions pass") {
    // view click ERROR view click: the first traversal's completion is
    // immediately followed by the blocker (dead), the second completes
    // at end-of-log (passes) - guarded reps 1, unguarded 2. The dead
    // completion also cannot seed a chain, so no depth-2 chain exists.
    val ev = Seq("view", "click", "error", "view", "click")
      .zipWithIndex.map { case (tp, i) => (1L, i.toLong, ts(i), tp) }
      .toDF("user_id", "event_id", "ts", "event_type")
    val guarded = Seq(Funnel.PatternStage("view"),
      Funnel.PatternStage("click", notNextAfter = Some("error")))
    val plain = Seq(Funnel.PatternStage("view"),
      Funnel.PatternStage("click"))
    def reps(g: Seq[Funnel.PatternStage]) =
      Funnel.run(ev, "user_id", "event_type", "ts", "event_id", Pattern.groupLoop(g)).head().getLong(1)
    assert(reps(plain) === 2L)
    assert(reps(guarded) === 1L)
    // the log split by event time gives the same kill (batch ==
    // stream is pinned in StreamingSpec for the machine)
    val byTime = Funnel.run(splitByTime(ev), "user_id", "event_type", "ts", "event_id",
        Pattern.groupLoop(guarded))
      .head().getLong(1)
    assert(byTime === 1L)
    // the BOUNDED group quantifiers reject the trailing guard with a
    // group-specific message (expansion sticky-reps would diverge
    // from the loop machines' kill semantics)
    val e = intercept[IllegalArgumentException] {
      Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.groupTimes(guarded, 2))
    }
    assert(e.getMessage.contains("kill semantics"))
  }

  test("absence alarm (trailing notFollowedBy + within): tail blocker kills, span cuts, same-timestamp blocker spares, match_idx gaps survive the recount, bucketed == single") {
    val stages = Seq("view", "click", "purchase")
    val winUs = 10L * 1000000L // 10 s from the match's first event
    def user(u: Long, evs: (Int, String)*): Seq[(Long, Long, java.sql.Timestamp, String)] =
      evs.zipWithIndex.map { case ((s, tp), i) => (u, i.toLong, ts(s), tp) }
    val ev = (
      // u1: blocker at EXACTLY the completion's timestamp → spared
      //     (time-based tie contract, documented)
      user(1L, 0 -> "view", 1 -> "click", 2 -> "purchase", 2 -> "error") ++
      // u2: blocker inside the tail (2, 10] → killed
      user(2L, 0 -> "view", 1 -> "click", 2 -> "purchase", 5 -> "error") ++
      // u3: span 12 s exceeds the 10 s window → cut
      user(3L, 0 -> "view", 6 -> "click", 12 -> "purchase") ++
      // u4: two matches; the error at 4 s sits in match 1's tail
      //     (2, 10] but BEFORE match 2's completion (5 s) → only
      //     match 2 survives, keeping its enumeration idx 2 and a
      //     visible gap, n_matches recounting survivors (1)
      user(4L, 0 -> "view", 1 -> "click", 2 -> "purchase", 4 -> "error",
        3 -> "view", 4 -> "click", 5 -> "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type")
    def rows(split: Boolean) =
      Funnel.run(splitByTime(ev, split), "user_id", "event_type", "ts", "event_id",
          Pattern.matches(stages, 4, Some((winUs, "error"))))
        .orderBy("user_id", "match_idx").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val single = rows(split = false).toSeq
    assert(single === Seq((1L, 1L, 1L), (4L, 2L, 1L)))
    assert(rows(split = true).toSeq === single)
    // k = 1 — the canonical "A not followed by B within T" alarm
    // (Flink's begin(A).notFollowedBy(B).within(T)): every A event is
    // its own skip-past-last match; the error at 5 s kills only the
    // first view's tail (0, 10], the later two survive
    val ev1 = user(5L, 0 -> "view", 5 -> "error", 20 -> "view",
      25 -> "view").toDF("user_id", "event_id", "ts", "event_type")
    val got1 = Funnel.run(ev1, "user_id", "event_type", "ts", "event_id",
        Pattern.matches(Seq("view"), 4, Some((winUs, "error"))))
      .orderBy("match_idx").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got1.toSeq === Seq((2L, 2L), (3L, 2L)))
  }

  test("absence pen equals the answer-sized anti-join it replaced, byte for byte: blocker at the completion's timestamp, blocker at exactly start + window, blocker type that is also a stage type") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit, unix_micros}
    val winUs = 10L * 1000000L
    def user(u: Long, evs: (Int, String)*): Seq[(Long, Long, java.sql.Timestamp, String)] =
      evs.zipWithIndex.map { case ((s, tp), i) => (u, i.toLong, ts(s), tp) }
    // the replaced batch form: enumerate without absence, cut the span,
    // LEFT ANTI join the blockers in (end, start + window], recount
    def antiJoin(ev: DataFrame, fits: DataFrame, absent: String,
        endCol: String, startCol: String): DataFrame = {
      val blockers = ev.filter(col("event_type") === lit(absent))
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("b_us"))
      fits.filter(col(endCol) - col(startCol) <= winUs)
        .join(blockers, fits("user_id") === blockers("user_id") &&
          col("b_us") > fits(endCol) &&
          col("b_us") <= fits(startCol) + lit(winUs), "left_anti")
        .withColumn("n_matches",
          count(lit(1)).over(Window.partitionBy("user_id")))
    }
    def run(ev: DataFrame, p: Pattern): Seq[String] =
      Funnel.run(ev, "user_id", "event_type", "ts", "event_id", p)
        .collect().map(_.toString).toSeq.sorted
    val cases: Seq[(String, String, Seq[(Long, Long, java.sql.Timestamp, String)])] = Seq(
      // spared: the blocker shares the completion's timestamp
      ("completion tie", "error",
        user(1L, 0 -> "view", 1 -> "click", 2 -> "purchase", 2 -> "error") ++
        user(2L, 0 -> "view", 1 -> "click", 2 -> "purchase", 2 -> "error",
          3 -> "view", 4 -> "click", 5 -> "purchase")),
      // killed: the blocker sits at exactly start + window
      ("window edge", "error",
        user(3L, 0 -> "view", 1 -> "click", 2 -> "purchase", 10 -> "error") ++
        user(4L, 0 -> "view", 1 -> "click", 2 -> "purchase", 11 -> "error")),
      // the blocker type opens the next match: a view inside match 1's
      // tail kills it and starts match 2; a view at a completion's own
      // timestamp spares it
      ("blocker is a stage type", "view",
        user(5L, 0 -> "view", 1 -> "click", 2 -> "purchase", 3 -> "view",
          4 -> "click", 5 -> "purchase") ++
        user(6L, 0 -> "view", 1 -> "click", 2 -> "purchase", 2 -> "view",
          13 -> "click", 14 -> "purchase", 30 -> "view")))
    for ((name, absent, evs) <- cases) {
      val ev = evs.toDF("user_id", "event_id", "ts", "event_type")
      val stages = Seq("view", "click", "purchase")
      val flatOld = antiJoin(ev, Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
          Pattern.matches(stages, 4)), absent, "ts3_us",
        "ts1_us").collect().map(_.toString).toSeq.sorted
      assert(run(ev, Pattern.matches(stages, 4, Some((winUs, absent)))) ===
        flatOld, name)
      val grp = Seq("view", "click")
      val groupOld = antiJoin(ev, Funnel.run(ev,
          "user_id", "event_type", "ts", "event_id",
          Pattern.groupMatches(grp, 1, 4)), absent,
        "ts_r1_s2_us", "ts_r1_s1_us").collect().map(_.toString).toSeq.sorted
      assert(run(ev, Pattern.groupMatches(grp, 1, 4, Some((winUs, absent)))) ===
        groupOld, s"$name (group)")
    }
    // the fixtures bite: the window edge kills, a stage-type blocker
    // kills one match and opens the next
    def flat(c: Int) = run(cases(c)._3.toDF("user_id", "event_id", "ts",
      "event_type"), Pattern.matches(Seq("view", "click", "purchase"), 4,
      Some((winUs, cases(c)._2))))
    val edge = flat(1)
    assert(edge === Seq("[4,1,1,%d,%d,%d]".format(tsUs(0), tsUs(1), tsUs(2))))
    assert(flat(2) === Seq(
      "[5,2,1,%d,%d,%d]".format(tsUs(3), tsUs(4), tsUs(5)),
      "[6,1,1,%d,%d,%d]".format(tsUs(0), tsUs(1), tsUs(2))))
  }

  test("property: absence alarm equals a driver replay of the greedy skip-past-last machine with span + tail filters on random corpora; bucketed == single") {
    val stages = IndexedSeq("view", "click", "purchase")
    val winUs = 8L * 1000000L
    val rnd = new scala.util.Random(9191L)
    val typesPool = Array("view", "click", "purchase", "error", "other")
    for (round <- 1 to 4) {
      val events = (0 until 300).map { i =>
        (rnd.nextInt(8).toLong, i.toLong, ts(rnd.nextInt(50)),
          typesPool(rnd.nextInt(typesPool.length)))
      }
      val df = events.toDF("user_id", "event_id", "ts", "event_type")
      // driver replay: per user, events in (us, oid) order through the
      // pointer machine; keep matches fitting the window with no
      // error in (completion, start + T] (time-strict after, at-or-
      // before the deadline)
      val us0 = ts(0).getTime * 1000L
      def usOf(t: java.sql.Timestamp) = t.getTime * 1000L
      val expected = events.groupBy(_._1).flatMap { case (u, evs) =>
        val ordered = evs.sortBy(e => (usOf(e._3), e._2))
        var n = 0L
        var partial = List.empty[Long]
        val matches = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Seq[Long])]
        ordered.foreach { case (_, _, t, tp) =>
          if (tp == stages((n % 3).toInt)) {
            n += 1
            partial = partial :+ usOf(t)
            if (partial.length == 3) {
              if (n / 3 <= 4) matches += ((n / 3, partial))
              partial = Nil
            }
          }
        }
        val errors = ordered.collect { case (_, _, t, "error") => usOf(t) }
        val surv = matches.filter { case (_, w) =>
          w.last - w.head <= winUs &&
            !errors.exists(e => e > w.last && e <= w.head + winUs)
        }
        surv.map { case (idx, w) =>
          (u, idx, surv.length.toLong, w(0), w(1), w(2)) }
      }.toSet
      def got(split: Boolean) =
        Funnel.run(splitByTime(df, split), "user_id", "event_type", "ts", "event_id",
            Pattern.matches(stages, 4, Some((winUs, "error"))))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(got(split = false) === expected, s"round $round single")
      assert(got(split = true) === expected, s"round $round split")
      require(us0 >= 0L)
    }
  }

  test("range-quantified group enumeration: every non-final match is full, the trailing short match carries its own reps with NULL witnesses beyond, minTimes gates the tail, m=n degenerates to the fixed form") {
    val grp = Seq("view", "click")
    def user(u: Long, tps: Seq[String]) =
      tps.zipWithIndex.map { case (tp, i) => (u, i.toLong, ts(i), tp) }
    val vc = Seq("view", "click")
    val ev = (
      // u1: 3 full reps + a dangling view → ONE full match, the
      //     remainder (0 complete reps) is no match
      user(1L, Seq.fill(3)(vc).flatten :+ "view") ++
      // u2: exactly 2 reps → the trailing SHORT match (reps = 2)
      user(2L, Seq.fill(2)(vc).flatten) ++
      // u3: 1 rep → under the minTimes = 2 floor, nothing
      user(3L, vc) ++
      // u4: 4 reps → match 1 full (3 reps), match 2 short (1 rep,
      //     under the floor) → only the full match
      user(4L, Seq.fill(4)(vc).flatten) ++
      // u5: 5 reps + a dangling view (partial rep 3 of match 2) →
      //     match 1 full, match 2 short (2 reps); the partial pick
      //     is not part of any match
      user(5L, Seq.fill(5)(vc).flatten :+ "view"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.groupMatchesRange(grp, 2, 3, 12))
      .orderBy("user_id", "match_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        (4 until 10).map(j => Option(r.get(j)).map(_.asInstanceOf[Long]))))
    def w(ss: Int*) = ss.map(s => Some(tsUs(s)))
    assert(got.toSeq === Seq(
      (1L, 1L, 1L, 3, w(0, 1, 2, 3, 4, 5)),
      (2L, 1L, 1L, 2, w(0, 1, 2, 3) ++ Seq(None, None)),
      (4L, 1L, 1L, 3, w(0, 1, 2, 3, 4, 5)),
      (5L, 1L, 2L, 3, w(0, 1, 2, 3, 4, 5)),
      (5L, 2L, 2L, 2, w(6, 7, 8, 9) ++ Seq(None, None))))
    // m = n degenerates to the fixed enumeration plus the reps column
    val fixed = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.groupMatches(grp, 3, 12))
      .orderBy("user_id", "match_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        (3 until 9).map(j => r.getLong(j))))
    val degen = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.groupMatchesRange(grp, 3, 3, 12))
      .orderBy("user_id", "match_idx").collect()
    assert(degen.forall(_.getInt(3) === 3))
    assert(degen.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      (4 until 10).map(j => r.getLong(j)))).toSeq === fixed.toSeq)
  }

  test("range-quantified group absence (times(m,n).notFollowedBy.within): the short match's OWN completion anchors span and tail, blocker ties spare, gaps survive the recount") {
    val grp = Seq("view", "click")
    val winUs = 10L * 1000000L
    def user(u: Long, evs: (Int, String)*) =
      evs.zipWithIndex.map { case ((s, tp), i) => (u, i.toLong, ts(s), tp) }
    val ev = (
      // u1: short match (2 reps) completing at 3 s; error at 5 s sits
      //     in ITS tail (3, 10] → killed (a fixed-times(3) reading
      //     would see no match at all — the rep count is the match's)
      user(1L, 0 -> "view", 1 -> "click", 2 -> "view", 3 -> "click",
        5 -> "error") ++
      // u2: short match completing at 3 s; error at EXACTLY 3 s →
      //     spared (time-tie contract)
      user(2L, 0 -> "view", 1 -> "click", 2 -> "view", 3 -> "click",
        3 -> "error") ++
      // u3: full match, span 0..12 s exceeds the window → cut
      user(3L, 0 -> "view", 1 -> "click", 2 -> "view", 3 -> "click",
        12 -> "view", 13 -> "click") ++
      // u4: full match 1 (0..5 s) killed by the error at 6 s in its
      //     tail; short match 2 (reps 2, 6..9 s) has the error at or
      //     before its completion → survives with idx 2, recount 1
      user(4L, 0 -> "view", 1 -> "click", 2 -> "view", 3 -> "click",
        4 -> "view", 5 -> "click", 6 -> "error", 7 -> "view",
        8 -> "click", 9 -> "view", 9 -> "click"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.groupMatchesRange(grp, 2, 3, 12, Some((winUs, "error"))))
      .orderBy("user_id", "match_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq === Seq((2L, 1L, 1L, 2), (4L, 2L, 1L, 2)))
  }

  test("property: range-quantified group enumeration (and its absence form) equals a driver replay of the witness stream read as full matches + trailing remainder on random corpora") {
    val grp = IndexedSeq("view", "click")
    val (m, n) = (2, 3)
    val bigK = n * grp.length
    val winUs = 8L * 1000000L
    val rnd = new scala.util.Random(75757L)
    val typesPool = Array("view", "click", "error", "other")
    for (round <- 1 to 4) {
      val events = (0 until 300).map { i =>
        (rnd.nextInt(8).toLong, i.toLong, ts(rnd.nextInt(50)),
          typesPool(rnd.nextInt(typesPool.length)))
      }
      val df = events.toDF("user_id", "event_id", "ts", "event_type")
      def usOf(t: java.sql.Timestamp) = t.getTime * 1000L
      // replay: the K-expansion pointer machine, then full matches =
      // adv div K, the remainder's complete reps a match iff >= m
      val replayed = events.groupBy(_._1).view.mapValues { evs =>
        val ordered = evs.sortBy(e => (usOf(e._3), e._2))
        var adv = 0L
        val w = scala.collection.mutable.ArrayBuffer.empty[Long]
        ordered.foreach { case (_, _, t, tp) =>
          if (tp == grp((adv % grp.length).toInt)) { adv += 1; w += usOf(t) }
        }
        val fullM = (adv / bigK).toInt
        val tailReps = ((adv % bigK) / grp.length).toInt
        val full = (0 until fullM).map(j =>
          (j + 1, n, w.slice(j * bigK, j * bigK + bigK).toSeq))
        val short = if (tailReps >= m)
          Seq((fullM + 1, tailReps,
            w.slice(fullM * bigK, fullM * bigK + tailReps * grp.length)
              .toSeq))
        else Nil
        (full ++ short, ordered.collect { case (_, _, t, "error") =>
          usOf(t) })
      }.toMap
      val expectedRange = replayed.flatMap { case (u, (ms, _)) =>
        ms.map { case (idx, reps, wit) =>
          (u, idx.toLong, ms.length.toLong, reps,
            wit.map(Option(_)).padTo(bigK, None: Option[Long])) }
      }.toSet
      def readRange(split: Boolean) =
        Funnel.run(splitByTime(df, split), "user_id", "event_type", "ts", "event_id",
            Pattern.groupMatchesRange(grp, m, n, 12))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getInt(3), (4 until 4 + bigK).map(j =>
              Option(r.get(j)).map(_.asInstanceOf[Long])))).toSet
      val gotRange = readRange(split = false)
      assert(gotRange === expectedRange, s"round $round range")
      assert(readRange(split = true) === expectedRange,
        s"round $round range split")
      val expectedAbs = replayed.flatMap { case (u, (ms, errs)) =>
        val surv = ms.filter { case (_, _, wit) =>
          wit.last - wit.head <= winUs &&
            !errs.exists(e => e > wit.last && e <= wit.head + winUs) }
        surv.map { case (idx, reps, wit) =>
          (u, idx.toLong, surv.length.toLong, reps,
            wit.map(Option(_)).padTo(bigK, None: Option[Long])) }
      }.toSet
      def readAbs(split: Boolean) =
        Funnel.run(splitByTime(df, split), "user_id", "event_type", "ts", "event_id",
            Pattern.groupMatchesRange(grp, m, n, 12, Some((winUs, "error"))))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getInt(3), (4 until 4 + bigK).map(j =>
              Option(r.get(j)).map(_.asInstanceOf[Long])))).toSet
      val gotAbs = readAbs(split = false)
      assert(gotAbs === expectedAbs, s"round $round absence")
      assert(readAbs(split = true) === expectedAbs,
        s"round $round absence split")
      // the generator must exercise both short and full matches
      assert(replayed.values.flatMap(_._1).map(_._2).toSet.size >= 2,
        s"degenerate round $round")
    }
  }

  test("times(m,n) + trailing guard routes through the capped dominance machine: guarded report shape, every bound bites, single == bucketed == auto, cap placement law under the guard") {
    val guarded = Seq(Funnel.PatternStage("view"),
      Funnel.PatternStage("click", notNextAfter = Some("error")))
    // u1: first completion killed by the blocker, two clean traversals
    //     follow → guarded 2 (unguarded would see 3); matched at m=2
    // u2: the only completion is killed → 0, unmatched
    // u3: four clean traversals → the cap bites at n=3; matched
    // u4: one clean traversal → under the m=2 floor; unmatched
    val ev = (Seq("view", "click", "error", "view", "click", "view",
        "click").zipWithIndex.map { case (tp, i) => (1L, i.toLong, ts(i), tp) } ++
      Seq("view", "click", "error").zipWithIndex.map { case (tp, i) =>
        (2L, i.toLong, ts(i), tp) } ++
      Seq.fill(4)(Seq("view", "click")).flatten.zipWithIndex.map {
        case (tp, i) => (3L, i.toLong, ts(i), tp) } ++
      Seq("view", "click").zipWithIndex.map { case (tp, i) =>
        (4L, i.toLong, ts(i), tp) })
      .toDF("user_id", "event_id", "ts", "event_type")
    // the PUBLIC bounded-range surface accepts the guard, and the
    // guarded report shape is exactly (user_id, reps_completed, matched)
    val routed = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.groupTimesRange(guarded, 2, 3))
    assert(routed.columns.toSeq ===
      Seq("user_id", "reps_completed", "matched"))
    val got = routed.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    assert(got === Seq((1L, 2, true), (2L, 0, false), (3L, 3, true),
      (4L, 1, false)))
    // the log split by event time gives the same rows
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("user_id").collect().map(_.toString).toSeq
    assert(rows(Funnel.run(splitByTime(ev), "user_id", "event_type", "ts", "event_id",
        Pattern.groupTimesRange(guarded, 2, 3))) === rows(routed))
    // cap placement law UNDER the guard, random corpora: the capped
    // machine (in-fold saturation) == output-capped guarded greedy loop
    // — the truncation lemma's guard extension (a
    // repetition's kill is an index property of the event stream, so
    // truncating a chain never changes the kept prefix's validity)
    val rnd = new scala.util.Random(4242L)
    val typesPool = Array("view", "click", "error")
    val corpus = (0 until 400).map { i =>
      (rnd.nextInt(6).toLong, i.toLong, ts(rnd.nextInt(40)),
        typesPool(rnd.nextInt(typesPool.length)))
    }.toDF("user_id", "event_id", "ts", "event_type")
    import org.apache.spark.sql.functions.{col, least, lit}
    for ((m, n) <- Seq((1, 2), (2, 3), (3, 3))) {
      val ref = rows(Funnel.run(corpus, "user_id", "event_type", "ts", "event_id",
          Pattern.groupLoop(guarded))
        .select(col("user_id"),
          least(col("reps"), lit(n.toLong)).cast("int")
            .as("reps_completed"),
          (col("reps") >= lit(m.toLong)).as("matched")))
      assert(rows(Funnel.run(corpus, "user_id", "event_type", "ts", "event_id",
          Pattern.groupTimesRange(guarded, m, n))) === ref,
        s"single, times($m,$n)")
      assert(rows(Funnel.run(splitByTime(corpus),
          "user_id", "event_type", "ts", "event_id",
          Pattern.groupTimesRange(guarded, m, n))) === ref, s"split, times($m,$n)")
    }
  }

  test("funnelCombinations: loop stage counts every non-empty subset; property vs closed form; bucketed == single") {
    val stages = Seq("view" -> false, "click" -> true, "purchase" -> false)
    // hand case: v c c p — subsets {c1},{c2},{c1,c2} → 3;
    // interleaved: v c p c p → (v,p1): 1; (v,p2): 3 → 4
    val ev1 = Seq(
      (1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "click"),
      (1L, 3L, ts(3), "click"), (1L, 4L, ts(4), "purchase"),
      (2L, 10L, ts(1), "view"), (2L, 11L, ts(2), "click"),
      (2L, 12L, ts(3), "purchase"), (2L, 13L, ts(4), "click"),
      (2L, 14L, ts(5), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got1 = Funnel.run(ev1, "user_id", "event_type", "ts", "event_id",
        Pattern.combinations(stages))
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got1 === Array((1L, 3L), (2L, 4L)))
    // property: random logs vs the closed form sum over (view,
    // purchase) pairs of 2^{clicks between} - 1
    val rnd = new scala.util.Random(33417L)
    val typesPool = Array("view", "click", "purchase", "error")
    val events = (0 until 700).map { i =>
      (rnd.nextInt(10).toLong, i.toLong, ts(rnd.nextInt(60)),
        typesPool(rnd.nextInt(typesPool.length)))
    }
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    val got = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.combinations(stages))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    events.groupBy(_._1).foreach { case (u, es) =>
      val seq = es.sortBy(e => (e._3.getTime, e._2))
      val expected = (for {
        (v, vi) <- seq.zipWithIndex if v._4 == "view"
        (p, pi) <- seq.zipWithIndex if p._4 == "purchase" && pi > vi
      } yield {
        val nb = (vi + 1 until pi).count(seq(_)._4 == "click")
        (1L << nb) - 1
      }).sum
      assert(got(u) === expected, s"user $u")
    }
    assert(got.values.exists(_ > 100L), "generator must hit real blow-up")
    val gotB = Funnel.run(splitByTime(df), "user_id", "event_type", "ts", "event_id",
        Pattern.combinations(stages))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotB === got)
  }

  /** Set-based NFA reference for [[Funnel.funnelPatternWithin]]: keeps
    * EVERY chain (stage, start, ended-at-prev) with explicit deadline
    * checks — no max-start dominance, so it independently tests the
    * dominance claim the machine relies on. */
  private def patternWithinReference(seq: Seq[(Long, String)],
      stages: Seq[Funnel.PatternStage], T: Long): (Int, Option[Long]) = {
    val k = stages.length
    var states = Set.empty[(Int, Long, Boolean)]
    val matched = Array.fill(k)(
      scala.collection.mutable.Set.empty[Long])
    for ((us, tp) <- seq) {
      def effPred(j: Int, lastOnly: Boolean): Set[Long] =
        if (j == 0) Set(-1L) // fresh-start sentinel (empty prefix)
        else {
          val own = states.collect {
            case (s, st, il) if s == j && (il || !lastOnly) => st }
          if (stages(j - 1).optional) own ++ effPred(j - 1, lastOnly)
          else own
        }
      val advanced = (1 to k).flatMap { j =>
        if (tp != stages(j - 1).tp) Nil
        else {
          val preds = if (j == 1) Set(-1L)
            else effPred(j - 1, stages(j - 1).strict)
          preds.flatMap { s =>
            if (s == -1L) {
              if (j == 1 || stages.take(j - 1).forall(_.optional))
                Some((j, us))
              else None
            } else if (us - s <= T) Some((j, s)) else None
          }
        }
      }
      val kept = states.flatMap { case (j, s, il) =>
        if (il && stages(j - 1).notNextAfter.contains(tp)) None
        else Some((j, s, false))
      }
      states = kept ++ advanced.map { case (j, s) => (j, s, true) }
      advanced.foreach { case (j, s) => matched(j - 1) += s }
    }
    def sat(j: Int): Boolean = j == 0 || matched(j - 1).nonEmpty ||
      (stages(j - 1).optional && sat(j - 1))
    val reached = (1 to k).count(sat)
    val tOpt = (1 to k).map(j => stages.drop(j).takeWhile(_.optional).length)
    val win = (1 to k).flatMap(j =>
      if (matched(j - 1).nonEmpty && reached <= j + tOpt(j - 1))
        Some(matched(j - 1).max) else None)
    (reached, win.maxOption)
  }

  test("funnelPatternWithin: the expiry trap — an expired early chain loses to a later restart; skip realizer reported") {
    val stages = Seq(Funnel.PatternStage("view"),
      Funnel.PatternStage("click", optional = true),
      Funnel.PatternStage("purchase", strict = true))
    val T = 3000000L // 3 s
    val ev = Seq(
      // u1: v(1) c(2) ... p(10): the early chain EXPIRES (10-1 > 3s);
      // v(9) p(10) completes via the optional skip + strict hop —
      // greedy-on-first-view would report the dead chain
      (1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "click"),
      (1L, 3L, ts(9), "view"), (1L, 4L, ts(10), "purchase"),
      // u2: within makes it UNREACHABLE: only one view, purchase too
      // late (strict hop holds, deadline does not)
      (2L, 10L, ts(1), "view"), (2L, 11L, ts(10), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.patternWithin(stages, T))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Long] - us0)))
    val s = 1000000L
    assert(got === Array(
      (1L, 3, Some(9 * s)),
      (2L, 2, Some(1 * s)))) // prefix 2 via the optional skip, start=view
  }

  test("property: funnelPatternWithin equals the set-NFA reference; bucketed == single (1-second segments)") {
    val stages = Seq(Funnel.PatternStage("view", notNextAfter = Some("error")),
      Funnel.PatternStage("click", optional = true),
      Funnel.PatternStage("purchase", strict = true))
    val T = 5000000L // 5 s — tight enough to expire chains
    val rnd = new scala.util.Random(55108L)
    val typesPool = Array("view", "click", "purchase", "error")
    val events = (0 until 900).map { i =>
      (rnd.nextInt(10).toLong, i.toLong, ts(rnd.nextInt(60)),
        typesPool(rnd.nextInt(typesPool.length)))
    } ++ Seq( // a user whose only chain EXPIRES: view ... purchase > T
      (99L, 1000L, ts(1), "view"), (99L, 1001L, ts(30), "purchase"))
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    def collectOut(d: org.apache.spark.sql.DataFrame) = d
      .orderBy("user_id").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    val got = collectOut(Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.patternWithin(stages, T)))
    events.groupBy(_._1).foreach { case (u, es) =>
      val seq = es.sortBy(e => (e._3.getTime, e._2))
        .map(e => (e._3.getTime * 1000L, e._4))
      assert(got(u) === patternWithinReference(seq, stages, T), s"user $u")
    }
    assert(got.values.exists(_._1 == 3) && got.values.exists(_._1 < 3),
      "generator must produce both full and expired chains")
    val gotB = collectOut(Funnel.run(splitByTime(df),
        "user_id", "event_type", "ts", "event_id",
        Pattern.patternWithin(stages, T)))
    assert(gotB === got)
  }

  /** Literal machine replay of [[Funnel.funnelLoopUntil]] (pointer,
    * counters, closed-bit), mirroring the Catalyst step decision for
    * decision. */
  private def untilReference(seq: Seq[(Long, String)],
      stages: Seq[(String, Int, Option[String])])
      : (Int, Seq[(Long, Option[Long])]) = {
    val mst = stages.map { case (t, m, _) => (t, m) }
    val expanded = mst.flatMap { case (t, n) => Seq.fill(n)(t) }
    val bounds = mst.map(_._2).scanLeft(0)(_ + _).tail
    val subOf = mst.zipWithIndex.flatMap { case ((_, n), j) =>
      Seq.fill(n)(j + 1) }
    val loopOf = (0 to expanded.length).map(s => bounds.indexOf(s) + 1)
    val curOf = (0 to expanded.length).map(s =>
      if (loopOf(s) > 0) loopOf(s) else subOf(s))
    var s = 0; var x = false
    val c = Array.fill(stages.length)(0L)
    val l = Array.fill(stages.length)(Option.empty[Long])
    for ((us, tp) <- seq) {
      val curJ = curOf(s)
      val advT = s < expanded.length && tp == expanded(s)
      val jAdv = if (s < expanded.length) subOf(s) else 0
      val adv = advT && (jAdv != curJ || !x)
      val jLoop = loopOf(s)
      val absorb = !adv && jLoop > 0 && !x && tp == mst(jLoop - 1)._1
      if (adv) { c(jAdv - 1) += 1; l(jAdv - 1) = Some(us); s += 1 }
      else if (absorb) { c(jLoop - 1) += 1; l(jLoop - 1) = Some(us) }
      val newCurJ = curOf(s)
      if (newCurJ != curJ) x = false
      if (stages(newCurJ - 1)._3.contains(tp)) x = true
    }
    (bounds.count(b => s >= b), stages.indices.map(j => (c(j), l(j))))
  }

  test("funnelLoopUntil: stalls on a mid-block close, truncates absorption on a loop-open close") {
    val ev = Seq(
      // u1: signup BEFORE the first view → stage 1 closed unstarted,
      // pattern stalls at 0 with zero reps
      (1L, 1L, ts(5), "signup"), (1L, 2L, ts(10), "view"),
      (1L, 3L, ts(20), "click"), (1L, 4L, ts(25), "click"),
      (1L, 5L, ts(30), "purchase"),
      // u2: the full trace — absorption truncation on stages 1 and 3,
      // post-close views ignored, spine unaffected
      (2L, 10L, ts(1), "view"), (2L, 11L, ts(2), "view"),
      (2L, 12L, ts(3), "signup"), (2L, 13L, ts(4), "view"),
      (2L, 14L, ts(5), "click"), (2L, 15L, ts(6), "click"),
      (2L, 16L, ts(7), "purchase"), (2L, 17L, ts(8), "purchase"),
      (2L, 18L, ts(9), "error"), (2L, 19L, ts(10), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val stages = Seq(("view", 1, Some("signup")), ("click", 2, None),
      ("purchase", 1, Some("error")))
    val r = Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
        Pattern.loopUntil(stages))
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getInt(1),
        (0 until 3).map(j => (x.getLong(2 + 2 * j),
          Option(x.get(3 + 2 * j)).map(_.asInstanceOf[Long] - us0)))))
    val s = 1000000L
    assert(r(0) === ((1L, 0, Seq((0L, None), (0L, None), (0L, None)))))
    assert(r(1) === ((2L, 3, Seq((2L, Some(2 * s)), (2L, Some(6 * s)),
      (2L, Some(8 * s))))))
  }

  test("property: funnelLoopUntil equals the machine replay; bucketed (pointer, closed-bit) monoid == single") {
    val rnd = new scala.util.Random(31114L)
    val types = Array("view", "click", "purchase", "error", "signup")
    val events = (0 until 700).map { i =>
      (rnd.nextInt(15).toLong, i.toLong, ts(rnd.nextInt(45)),
        types(rnd.nextInt(types.length)))
    }
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    val configs = Seq(
      Seq(("view", 1, Some("signup")), ("click", 2, None),
        ("purchase", 1, Some("error"))),
      // until types that are OTHER stages' types, and a mid-block
      // close on the 2-slot stage
      Seq(("view", 1, None), ("click", 2, Some("error")),
        ("purchase", 1, Some("view"))),
      Seq(("signup", 2, Some("purchase")), ("error", 1, None)))
    for (stages <- configs) {
      val expected = events.groupBy(_._1).view.mapValues { es =>
        val seq = es.sortBy(e => (e._3.getTime, e._2))
          .map(e => (e._3.getTime * 1000L, e._4))
        untilReference(seq, stages)
      }.toMap
      def read(df: org.apache.spark.sql.DataFrame) =
        df.collect().map { x =>
          x.getLong(0) -> ((x.getInt(1), (0 until stages.length).map(j =>
            (x.getLong(2 + 2 * j),
              Option(x.get(3 + 2 * j)).map(_.asInstanceOf[Long])))))
        }.toMap
      val got = read(Funnel.run(df, "user_id", "event_type", "ts", "event_id",
          Pattern.loopUntil(stages)))
      assert(got === expected, s"single fold, config $stages")
      val gotB = read(Funnel.run(splitByTime(df),
          "user_id", "event_type", "ts", "event_id",
          Pattern.loopUntil(stages)))
      assert(gotB === got, s"split, config $stages")
      // the generator must exercise stalls AND completions
      assert(expected.values.map(_._1).toSet.size >= 2, s"degenerate $stages")
    }
  }

  test("property: funnelAnyCount equals brute-force combination counting; bucketed matrix monoid == single") {
    val rnd = new scala.util.Random(91412L)
    val types = Array("view", "click", "purchase", "error")
    val stages = Seq("view", "click", "purchase")
    val events = (0 until 700).map { i =>
      (rnd.nextInt(12).toLong, i.toLong, ts(rnd.nextInt(50)),
        types(rnd.nextInt(types.length)))
    }
    val df = events.toDF("user_id", "event_id", "ts", "event_type")
    val expected = events.groupBy(_._1).view.mapValues { es =>
      val seq = es.sortBy(e => (e._3.getTime, e._2)).map(_._4)
      // brute force: DP replay with explicit pre-state
      val c = Array.fill(stages.length)(0L)
      seq.foreach { tp =>
        val pre = c.clone()
        stages.indices.foreach { j =>
          if (tp == stages(j)) c(j) += (if (j == 0) 1L else pre(j - 1))
        }
      }
      c.last
    }.toMap
    val got = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.anyCount(stages))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(expected.values.exists(_ > 100L), "combinatorial counts exercised")
    val gotB = Funnel.run(splitByTime(df), "user_id", "event_type", "ts", "event_id",
        Pattern.anyCount(stages))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotB === got)
    // sanity against literal enumeration on the same data
    val enumerated = Funnel.run(df, "user_id", "event_type", "ts", "event_id",
        Pattern.anyEnumerate(stages))
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    expected.filter(_._2 > 0).foreach { case (u, n) =>
      assert(enumerated(u) === n, s"user $u")
    }
  }

  test("plan gate: funnelPattern and funnelMulti keep the one-shuffle no-join shape") {
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    for (df <- Seq(
        Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
            Pattern.pattern(Seq(PatternStage("view"), PatternStage("click", strict = true),
            PatternStage("purchase", strict = true)))),
        Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
            Pattern.matches(Seq("view", "click", "purchase"), 12)),
        Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
            Pattern.anyCount(Seq("view", "click", "purchase"))),
        Funnel.run(ev, "user_id", "event_type", "ts", "event_id",
            Pattern.loopUntil(Seq(("view", 1, Some("signup")), ("click", 2, None),
            ("purchase", 1, Some("error"))))))) {
      val plan = df.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"expected exactly one shuffle:\n$plan")
      assert(!plan.contains("Window") && !plan.contains("Join"),
        s"must not plan per-stage joins or windows:\n$plan")
    }
  }

}
