package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * Native codegen'd N-DIMENSIONAL Hilbert curve index via Skilling's
 * transpose algorithm ("Programming the Hilbert curve", AIP Conf.
 * Proc. 707, 2004), making the layout family symmetric with
 * [[graft.operators.Layout.zValueN]]: undo-excess-work rotations per
 * level (MSB down), one Gray encode, a parity smear from the last
 * axis, then an MSB-first round-robin interleave of the transposed
 * words — dimension-generic, over an n-element axis word array. The
 * walk is a per-level LOOP rewriting its state (inexpressible
 * compactly as an expression tree), hence the generated Java loop;
 * interpreted eval runs the identical recurrence ([[HilbertIndexN.index]]).
 * The 3-key t96 configuration is this expression at n = 3. Adjacency
 * (every consecutive index step moves exactly one cell in one
 * dimension — Morton's Z breaks this at every orthant seam) is
 * spec-verified on the full 8×8×8 and 8^4 grids via the inverse
 * transform.
 *
 * Caller contract mirrors [[graft.operators.Layout.zValueN]]: inputs
 * already in `[0, 2^bits)`; `n·bits ≤ 62` keeps the index positive;
 * NULL in any key → NULL out.
 */
case class HilbertIndexN(children: Seq[Expression], bits: Int)
    extends Expression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_hilbertn"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length < 2)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects at least two bigint arguments")
    else if (children.exists(_.dataType != LongType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects bigint arguments only")
    else if (bits < 1 || children.length * bits > 62)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs 1 <= bits and n*bits <= 62")
    else TypeCheckResult.TypeCheckSuccess

  override def eval(input: InternalRow): Any = {
    val n = children.length
    val x = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      x(i) = v.asInstanceOf[Long]
      i += 1
    }
    HilbertIndexN.index(x, bits)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val n = children.length
    val evals = children.map(_.genCode(ctx))
    val x = ctx.freshName("hX")
    val q = ctx.freshName("hQ")
    val p = ctx.freshName("hP")
    val t = ctx.freshName("hT")
    val i = ctx.freshName("hI")
    val d = ctx.freshName("hD")
    val qq = ctx.freshName("hQ2")
    val b = ctx.freshName("hB")
    val childCode = evals.map(_.code.toString).mkString("\n")
    val anyNull =
      if (nullable) evals.map(_.isNull.toString).mkString(" || ")
      else "false"
    ev.copy(code = code"""
      |$childCode
      |boolean ${ev.isNull} = $anyNull;
      |long ${ev.value} = -1L;
      |if (!${ev.isNull}) {
      |  long[] $x = new long[]{${evals.map(_.value).mkString(", ")}};
      |  for (long $q = 1L << ${bits - 1}; $q > 1L; $q >>= 1) {
      |    long $p = $q - 1L;
      |    for (int $i = 0; $i < $n; $i++) {
      |      if (($x[$i] & $q) != 0L) {
      |        $x[0] ^= $p;
      |      } else {
      |        long $t = ($x[0] ^ $x[$i]) & $p;
      |        $x[0] ^= $t; $x[$i] ^= $t;
      |      }
      |    }
      |  }
      |  for (int $i = 1; $i < $n; $i++) $x[$i] ^= $x[$i - 1];
      |  long $t = 0L;
      |  for (long $qq = 1L << ${bits - 1}; $qq > 1L; $qq >>= 1)
      |    if (($x[${n - 1}] & $qq) != 0L) $t ^= $qq - 1L;
      |  for (int $i = 0; $i < $n; $i++) $x[$i] ^= $t;
      |  long $d = 0L;
      |  for (int $b = ${bits - 1}; $b >= 0; $b--)
      |    for (int $i = 0; $i < $n; $i++)
      |      $d = ($d << 1) | (($x[$i] >> $b) & 1L);
      |  ${ev.value} = $d;
      |}
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HilbertIndexN =
    copy(children = newChildren)
}

object HilbertIndexN {
  /** Column-API entry: `graft_hilbertn(x1..xn, bits)`. */
  def apply(cols: Seq[Column], bits: Int): Column =
    bridge.column(HilbertIndexN(cols.map(bridge.expression), bits))

  /** The shared JVM recurrence (interpreted eval + spec replays):
    * Skilling AxestoTranspose followed by the MSB-first round-robin
    * interleave. MUTATES `x`. */
  private[graft] def index(x: Array[Long], bits: Int): Long = {
    val n = x.length
    var q = 1L << (bits - 1)
    while (q > 1L) {
      val p = q - 1L
      var i = 0
      while (i < n) {
        if ((x(i) & q) != 0L) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    var i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1L) { if ((x(n - 1) & q) != 0L) t ^= q - 1L; q >>= 1 }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    var d = 0L
    var b = bits - 1
    while (b >= 0) {
      i = 0
      while (i < n) { d = (d << 1) | ((x(i) >> b) & 1L); i += 1 }
      b -= 1
    }
    d
  }

  /** The inverse walk (index → axes) — spec-only, for the adjacency
    * and bijection properties (Skilling TransposetoAxes after
    * un-interleaving). */
  private[graft] def axes(d: Long, bits: Int, n: Int): Array[Long] = {
    val x = new Array[Long](n)
    var pos = n * bits - 1
    var b = bits - 1
    while (b >= 0) {
      var i = 0
      while (i < n) {
        x(i) |= ((d >> pos) & 1L) << b
        pos -= 1
        i += 1
      }
      b -= 1
    }
    var t = x(n - 1) >> 1
    var i = n - 1
    while (i > 0) { x(i) ^= x(i - 1); i -= 1 }
    x(0) ^= t
    var q = 2L
    val top = 2L << (bits - 1)
    while (q != top) {
      val p = q - 1L
      i = n - 1
      while (i >= 0) {
        if ((x(i) & q) != 0L) x(0) ^= p
        else { t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i -= 1
      }
      q <<= 1
    }
    x
  }
}
