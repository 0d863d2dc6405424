package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

class LayoutSpec extends SparkSpec {

  import spark.implicits._

  private def jvmZ(a: Long, b: Long, bits: Int): Long =
    (0 until bits).map(i =>
      (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
      .reduce(_ | _)

  test("zValue matches a JVM bit-interleave replay; quadrant nesting orders the curve") {
    val rnd = new scala.util.Random(94L)
    val rows = (0 until 500).map(_ =>
      (rnd.nextInt(1 << 21).toLong, rnd.nextInt(1 << 21).toLong))
    val got = rows.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValueN(Seq(col("a"), col("b")), 21).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (a, b) =>
      assert(got((a, b)) === jvmZ(a, b, 21), s"($a, $b)")
    }
    // quadrant nesting: the high bit of EITHER key dominates the sort —
    // every point of the low quadrant precedes every point of the
    // quadrant above it in both dimensions
    val hi = 1L << 20
    assert(jvmZ(hi - 1, hi - 1, 21) < jvmZ(hi, hi, 21))
    assert(jvmZ(hi - 1, 0, 21) < jvmZ(hi, 0, 21))
    assert(jvmZ(0, hi - 1, 21) < jvmZ(0, hi, 21))
  }

  test("zValueN: round-robin interleave of three keys, JVM replay") {
    def jvm3(ks: Seq[Long], bits: Int): Long =
      (for (i <- 0 until bits; j <- ks.indices) yield
        ((ks(j) >> i) & 1L) << (i * ks.length + j)).reduce(_ | _)
    val rnd = new scala.util.Random(943L)
    val rows = (0 until 200).map(_ => (rnd.nextInt(1 << 20).toLong,
      rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong))
    val got = rows.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        Layout.zValueN(Seq(col("a"), col("b"), col("c")), 20).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    rows.foreach { case (a, b, c) =>
      assert(got((a, b, c)) === jvm3(Seq(a, b, c), 20))
    }
  }

  test("requireBounded passes in-domain keys, names the offending column out-of-domain; zValue folds silently without it") {
    val ok = Seq((0L, 0L), ((1L << 10) - 1, 5L)).toDF("a", "b")
    Layout.requireBounded(ok, Seq("a", "b"), bits = 10) // no throw
    val over = Seq((5L, (1L << 10).toLong)).toDF("a", "b")
    val e1 = intercept[IllegalArgumentException](
      Layout.requireBounded(over, Seq("a", "b"), bits = 10))
    assert(e1.getMessage.contains("'b'") && e1.getMessage.contains("1024"))
    val neg = Seq((-3L, 1L)).toDF("a", "b")
    val e2 = intercept[IllegalArgumentException](
      Layout.requireBounded(neg, Seq("a", "b"), bits = 10))
    assert(e2.getMessage.contains("'a'"))
    // the behavior the guard exists to catch: without it, zValueN reads
    // only the low bits — an out-of-domain key ALIASES onto an
    // in-domain one (pruning stays correct, clustering quality dies)
    val aliased = Seq((5L, 7L), (5L + (1L << 10), 7L)).toDF("a", "b")
      .select(Layout.zValueN(Seq(col("a"), col("b")), 10).as("z"))
      .collect().map(_.getLong(0))
    assert(aliased(0) === aliased(1))
  }

  test("requireBounded catches NULL-producing keys: unparseable string casts and NULL key values (round-15 advisor)") {
    // a string key whose EVERY value fails the cast used to slip
    // through: min = max = NULL skipped the range check entirely
    val unparseable = Seq(("k-1", 1L), ("k-2", 2L)).toDF("a", "b")
    val e1 = intercept[IllegalArgumentException](
      Layout.requireBounded(unparseable, Seq("a", "b"), bits = 10))
    assert(e1.getMessage.contains("'a'") &&
      e1.getMessage.contains("cast to long is NULL"))
    // a PARTIALLY unparseable key is also named (min/max exist here)
    val partial = Seq(("7", 1L), ("oops", 2L)).toDF("a", "b")
    val e2 = intercept[IllegalArgumentException](
      Layout.requireBounded(partial, Seq("a", "b"), bits = 10))
    assert(e2.getMessage.contains("'a'") &&
      e2.getMessage.contains("cast to long is NULL"))
    // a NULL key value would z-order to a NULL key silently
    val withNull = Seq((Some(3L), 1L), (None, 2L)).toDF("a", "b")
    val e3 = intercept[IllegalArgumentException](
      Layout.requireBounded(withNull, Seq("a", "b"), bits = 10))
    assert(e3.getMessage.contains("'a'") && e3.getMessage.contains("NULL on 1"))
    // parseable strings in-domain still pass (cast is the documented
    // normalization path)
    Layout.requireBounded(Seq(("7", 1L), ("1023", 2L)).toDF("a", "b"),
      Seq("a", "b"), bits = 10)
  }

  test("3-key z-order layout prunes a 3-dim box where the linear layout cannot; contents identical") {
    // comparable per-key domains (the documented contract: right-size
    // `bits` to the real range, div/pmod-bucket skewed domains first —
    // TPC-H's 13-vs-4-bit key spread starves a raw interleave)
    val rnd = new scala.util.Random(157L)
    val li = (0 until 40000).map(_ => (rnd.nextInt(128).toLong,
        rnd.nextInt(128).toLong, rnd.nextInt(128).toLong, rnd.nextInt(100)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val dir = tmp("zorder3")
    Layout.zOrderWriteN(li, Seq("l_orderkey", "l_partkey", "l_suppkey"),
      bits = 7, s"$dir/z3", numFiles = 16, audit = true)
    Layout.linearWrite(li, "l_orderkey", s"$dir/lin", numFiles = 16)
    // any orderkey, narrow partkey AND suppkey stripes — the second
    // and third dimensions are where the interleave earns its keep
    val box = Seq(("l_orderkey", 0L, 127L),
      ("l_partkey", 40L, 70L), ("l_suppkey", 2L, 30L))
    val (zTotal, zRead) = Layout.boxScanFilesN(spark, s"$dir/z3", box)
    val (lTotal, lRead) = Layout.boxScanFilesN(spark, s"$dir/lin", box)
    assert(zTotal === 16L && lTotal === 16L)
    assert(zRead < lRead,
      s"3-key z-order must read fewer files ($zRead) than linear ($lRead)")
    def boxRows(p: String) = spark.read.parquet(p)
      .filter(box.map { case (c, lo, hi) =>
        col(c).between(lo, hi) }.reduce(_ && _))
      .collect().map(_.toString).sorted.toSeq
    assert(boxRows(s"$dir/z3") === boxRows(s"$dir/lin"))
    assert(boxRows(s"$dir/z3").nonEmpty)
  }

  test("z-ordered layout prunes a 2-dim box from file stats where the linear layout cannot") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val dir = tmp("zorder")
    Layout.zOrderWriteN(li, Seq("l_orderkey", "l_partkey"), bits = 21,
      s"$dir/z", numFiles = 16)
    Layout.linearWrite(li, "l_orderkey", s"$dir/lin", numFiles = 16)
    // the second-dimension stress: any orderkey, a NARROW partkey
    // stripe — the linear layout's every file spans all partkeys (it
    // must read everything), the z layout's quadrant envelopes carve
    // the stripe out
    val (loA, hiA) = (0L, 1500L)
    val (loB, hiB) = (40L, 60L)
    val box = Seq(("l_orderkey", loA, hiA), ("l_partkey", loB, hiB))
    val (zTotal, zRead) = Layout.boxScanFilesN(spark, s"$dir/z", box)
    val (lTotal, lRead) = Layout.boxScanFilesN(spark, s"$dir/lin", box)
    assert(zTotal === 16L && lTotal === 16L)
    assert(zRead < lRead,
      s"z-order must read fewer files ($zRead) than linear ($lRead)")
    // layouts are content-identical: the box returns the same rows
    def boxRows(p: String) = spark.read.parquet(p)
      .filter(col("l_orderkey").between(loA, hiA) &&
        col("l_partkey").between(loB, hiB))
      .select("l_orderkey", "l_partkey", "l_quantity")
      .collect().map(_.toString).sorted.toSeq
    assert(boxRows(s"$dir/z") === boxRows(s"$dir/lin"))
    assert(boxRows(s"$dir/z").nonEmpty)
  }

  /** The classical xy2d walk — the JVM replay [[Layout.hilbertValue]]
    * must match bit-for-bit. */
  private def jvmHilbert(x0: Long, y0: Long, bits: Int): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        val (nx, ny) =
          if (rx == 1) (s - 1 - y, s - 1 - x) else (y, x)
        x = nx; y = ny
      }
      s /= 2
    }
    d
  }

  /** The inverse walk (d2xy), for the adjacency property. */
  private def jvmD2xy(d0: Long, bits: Int): (Long, Long) = {
    var (x, y) = (0L, 0L)
    var t = d0
    var s = 1L
    while (s < (1L << bits)) {
      val rx = (t / 2) & 1L
      val ry = (t ^ rx) & 1L
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx; y += s * ry
      t /= 4
      s *= 2
    }
    (x, y)
  }

  test("hilbertValue matches the JVM xy2d replay; consecutive indexes are grid-ADJACENT (the locality Morton lacks)") {
    val rnd = new scala.util.Random(1661L)
    val rows = (0 until 400).map(_ =>
      (rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val got = rows.toDF("a", "b")
      .select(Layout.hilbertValue(col("a"), col("b"), 16).as("h"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === rows.map { case (a, b) => jvmHilbert(a, b, 16) })
    // the staged codegen walk is bit-identical to the Column form
    val staged = Layout.hilbertKeyed(rows.toDF("a", "b"),
        col("a"), col("b"), 16, "h")
      .select("h").collect().map(_.getLong(0))
    assert(staged.toSeq === got.toSeq)
    // structure: on the full 8x8 grid the curve is a bijection whose
    // every step moves exactly ONE cell in ONE dimension — Morton's Z
    // breaks this at every quadrant seam (|Δ| > 1 jumps exist)
    val cells = (0L until 64L).map(jvmD2xy(_, 3))
    assert(cells.toSet.size === 64)
    cells.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"($x1,$y1)->($x2,$y2) not adjacent")
    }
    // inverse really inverts the forward walk
    (0L until 64L).foreach { d =>
      val (x, y) = jvmD2xy(d, 3)
      assert(jvmHilbert(x, y, 3) === d)
    }
    val zSteps = (0L until 64L).map { d => // Morton inverse (deinterleave)
      def ext(v: Long, off: Int) =
        (0 until 3).map(i => ((v >> (2 * i + off)) & 1L) << i).reduce(_ | _)
      (ext(d, 0), ext(d, 1))
    }
    assert(zSteps.sliding(2).exists { case Seq((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1L
    }, "Morton must exhibit a seam jump for the comparison to mean anything")
  }

  test("hilbertValueN at n = 3: Skilling walk matches the JVM replay; full 8x8x8 grid is a bijection with unit steps; 3-dim pruning beats Morton's") {
    import graft.functions.HilbertIndexN
    val rnd = new scala.util.Random(1699L)
    val rows = (0 until 300).map(_ => (rnd.nextInt(1 << 16).toLong,
      rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val got = rows.toDF("a", "b", "c")
      .select(Layout.hilbertValueN(Seq(col("a"), col("b"), col("c")), 16)
        .as("h"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === rows.map { case (a, b, c) =>
      HilbertIndexN.index(Array(a, b, c), 16) })
    // structure on the full 8x8x8 grid: bijection + every step moves
    // exactly ONE cell in ONE dimension (Morton jumps at octant seams)
    val cells = (0L until 512L).map(HilbertIndexN.axes(_, 3, 3).toSeq)
    assert(cells.toSet.size === 512)
    cells.sliding(2).foreach { case Seq(p1, p2) =>
      assert(p1.zip(p2).map { case (u, v) => math.abs(u - v) }.sum === 1L,
        s"$p1 -> $p2 not adjacent")
    }
    // forward really inverts the inverse
    (0L until 512L).foreach { d =>
      assert(HilbertIndexN.index(HilbertIndexN.axes(d, 3, 3), 3) === d)
    }
    // 3-dim box pruning: the n = 3 layout reads no more files than the
    // 3-key Morton layout on the t96 box shape, fewer than linear
    val li = (0 until 40000).map(_ => (rnd.nextInt(128).toLong,
        rnd.nextInt(128).toLong, rnd.nextInt(128).toLong, rnd.nextInt(100)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val dir = tmp("hilbert3")
    Layout.hilbertOrderWriteN(li,
      Seq("l_orderkey", "l_partkey", "l_suppkey"), bits = 7,
      s"$dir/h3", numFiles = 16, audit = true)
    Layout.zOrderWriteN(li, Seq("l_orderkey", "l_partkey", "l_suppkey"),
      bits = 7, s"$dir/z3", numFiles = 16)
    Layout.linearWrite(li, "l_orderkey", s"$dir/lin", numFiles = 16)
    val box = Seq(("l_orderkey", 0L, 127L), ("l_partkey", 10L, 30L),
      ("l_suppkey", 100L, 120L))
    val (hT, hR) = Layout.boxScanFilesN(spark, s"$dir/h3", box)
    val (_, zR) = Layout.boxScanFilesN(spark, s"$dir/z3", box)
    val (_, lR) = Layout.boxScanFilesN(spark, s"$dir/lin", box)
    assert(hT === 16L)
    assert(hR <= zR, s"hilbert3 read $hR files vs morton3 $zR")
    assert(hR < lR, s"hilbert3 must beat linear ($hR vs $lR)")
    def boxRows(p: String) = spark.read.parquet(p)
      .filter(box.map { case (c, lo, hi) => col(c).between(lo, hi) }
        .reduce(_ && _))
      .collect().map(_.toString).sorted.toSeq
    assert(boxRows(s"$dir/h3") === boxRows(s"$dir/z3"))
    assert(boxRows(s"$dir/h3").nonEmpty)
  }

  test("hilbertValueN at n = 4: codegen equals the JVM walk; the 4-d grid is a bijection with unit steps; 4-d pruning beats Morton") {
    import graft.functions.HilbertIndexN
    val rnd = new scala.util.Random(1700L)
    // n = 4 codegen vs the shared JVM walk (the replay both the spec
    // and the t100 oracle derive from)
    val rows4 = (0 until 300).map(_ => (rnd.nextInt(1 << 15).toLong,
      rnd.nextInt(1 << 15).toLong, rnd.nextInt(1 << 15).toLong,
      rnd.nextInt(1 << 15).toLong))
    val got4 = rows4.toDF("a", "b", "c", "d")
      .select(Layout.hilbertValueN(
        Seq(col("a"), col("b"), col("c"), col("d")), 15).as("h"))
      .collect().map(_.getLong(0))
    assert(got4.toSeq === rows4.map { case (a, b, c, d) =>
      HilbertIndexN.index(Array(a, b, c, d), 15) })
    // NULL in any key → NULL out
    assert(Seq((Some(1L), None: Option[Long])).toDF("a", "b")
      .select(Layout.hilbertValueN(Seq(col("a"), col("b")), 3))
      .collect().head.isNullAt(0))
    // structure on the full 8^4 grid: bijection + every step moves
    // exactly ONE cell in ONE dimension
    val cells = (0L until 4096L).map(HilbertIndexN.axes(_, 3, 4).toSeq)
    assert(cells.toSet.size === 4096)
    cells.sliding(2).foreach { case Seq(p1, p2) =>
      assert(p1.zip(p2).map { case (u, v) => math.abs(u - v) }.sum === 1L,
        s"$p1 -> $p2 not adjacent")
    }
    (0L until 4096L).foreach { d =>
      assert(HilbertIndexN.index(HilbertIndexN.axes(d, 3, 4), 3) === d)
    }
    // 4-dim box pruning: no more files than 4-key Morton, fewer than
    // linear; contents identical
    val li = (0 until 40000).map(_ => (rnd.nextInt(64).toLong,
        rnd.nextInt(64).toLong, rnd.nextInt(64).toLong,
        rnd.nextInt(64).toLong))
      .toDF("k1", "k2", "k3", "k4")
    val dir = tmp("hilbert4")
    Layout.hilbertOrderWriteN(li, Seq("k1", "k2", "k3", "k4"), bits = 6,
      s"$dir/h4", numFiles = 16, audit = true)
    Layout.zOrderWriteN(li, Seq("k1", "k2", "k3", "k4"), bits = 6,
      s"$dir/z4", numFiles = 16)
    Layout.linearWrite(li, "k1", s"$dir/lin", numFiles = 16)
    // adjacency is a per-box ADVANTAGE, not a per-box theorem — assert
    // the aggregate over varied box shapes (at sf0.1 over 64 files the
    // 4-d Hilbert layout read 4 vs Morton's 8 on a square box and 38 vs
    // 64 on a plane, and tied at 15 on a stripe)
    val boxes = Seq(
      Seq(("k1", 0L, 63L), ("k2", 5L, 15L), ("k3", 50L, 60L),
        ("k4", 20L, 30L)),
      Seq(("k1", 10L, 20L), ("k2", 10L, 20L), ("k3", 10L, 20L),
        ("k4", 10L, 20L)),
      Seq(("k1", 0L, 7L), ("k2", 0L, 63L), ("k3", 0L, 63L),
        ("k4", 32L, 40L)),
      Seq(("k1", 40L, 50L), ("k2", 0L, 10L), ("k3", 20L, 63L),
        ("k4", 0L, 63L)))
    val reads = boxes.map { box =>
      val (hT, hR) = Layout.boxScanFilesN(spark, s"$dir/h4", box)
      val (_, zR) = Layout.boxScanFilesN(spark, s"$dir/z4", box)
      val (_, lR) = Layout.boxScanFilesN(spark, s"$dir/lin", box)
      assert(hT === 16L)
      (hR, zR, lR)
    }
    val (hSum, zSum, lSum) = (reads.map(_._1).sum, reads.map(_._2).sum,
      reads.map(_._3).sum)
    assert(hSum <= zSum,
      s"hilbert4 read $hSum files total vs morton4 $zSum over ${reads.size} boxes")
    assert(hSum < lSum, s"hilbert4 must beat linear ($hSum vs $lSum)")
    def boxRows(p: String) = spark.read.parquet(p)
      .filter(boxes.head.map { case (c, lo, hi) => col(c).between(lo, hi) }
        .reduce(_ && _))
      .collect().map(_.toString).sorted.toSeq
    assert(boxRows(s"$dir/h4") === boxRows(s"$dir/z4"))
    assert(boxRows(s"$dir/h4").nonEmpty)
  }

  test("staged clustered write evaluates the key expression ONCE per row — the sampling job reads materialized blocks") {
    val counter = spark.sparkContext.longAccumulator("hilbertKeyEvals")
    val tap = udf((x: Long) => { counter.add(1L); x })
    val n = 5000
    val df = (0 until n).map(i => (i.toLong % 128L, (i * 7).toLong % 128L))
      .toDF("a", "b")
    val dir = tmp("stagedw")
    val key = tap(Layout.hilbertValue(col("a"), col("b"), 7))
    Layout.stagedClusteredWrite(df, key, s"$dir/out", numFiles = 8)
    assert(counter.value === n.toLong,
      s"key evaluated ${counter.value} times for $n rows — the range " +
        "partitioner's sampling pass must read the staged blocks, not " +
        "re-run the expression")
    // the write itself is intact: same rows, 8 files, sorted layout
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === n.toLong)
    assert(back.select(org.apache.spark.sql.functions.input_file_name())
      .distinct().count() === 8L)
    // staging blocks released (deterministic cleanup, not GC-driven)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "staged checkpoint blocks must be released after the write")
  }

  test("hilbert layout prunes the 2-dim box at least as well as z-order; contents identical across all three layouts") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val dir = tmp("hilbert")
    Layout.hilbertOrderWrite(li, "l_orderkey", "l_partkey", bits = 21,
      s"$dir/h", numFiles = 16)
    Layout.zOrderWriteN(li, Seq("l_orderkey", "l_partkey"), bits = 21,
      s"$dir/z", numFiles = 16)
    Layout.linearWrite(li, "l_orderkey", s"$dir/lin", numFiles = 16)
    val (loA, hiA) = (0L, 1500L)
    val (loB, hiB) = (40L, 60L)
    def read(p: String) = Layout.boxScanFilesN(spark, p,
      Seq(("l_orderkey", loA, hiA), ("l_partkey", loB, hiB)))
    val (hTotal, hRead) = read(s"$dir/h")
    val (_, zRead) = read(s"$dir/z")
    val (_, lRead) = read(s"$dir/lin")
    assert(hTotal === 16L)
    assert(hRead < lRead,
      s"hilbert must beat linear on the 2-dim box ($hRead vs $lRead)")
    // adjacency makes hilbert envelopes no looser than Morton's here;
    // at sf0.1 over 64 files hilbert read 11 vs Morton's 14 on a square box
    assert(hRead <= zRead,
      s"hilbert read $hRead files vs z-order $zRead on the same box")
    def boxRows(p: String) = spark.read.parquet(p)
      .filter(col("l_orderkey").between(loA, hiA) &&
        col("l_partkey").between(loB, hiB))
      .select("l_orderkey", "l_partkey", "l_quantity")
      .collect().map(_.toString).sorted.toSeq
    assert(boxRows(s"$dir/h") === boxRows(s"$dir/lin"))
    assert(boxRows(s"$dir/h") === boxRows(s"$dir/z"))
    assert(boxRows(s"$dir/h").nonEmpty)
  }
}
