package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.DotProduct

/**
 * Session extensions: registers the engine's native expressions AND its
 * text-operator macros for SQL use. Activate with
 * `spark.sql.extensions=graft.GraftExtensions` (or `withExtensions(new
 * GraftExtensions)` on a session builder); then
 * `SELECT graft_dot(a, b)`, `SELECT graft_redact(text)` etc. work in
 * plain SQL.
 *
 * The text functions are SQL MACROS: the builder expands each call into
 * the same Catalyst expression tree the Column API builds (via the
 * [[org.apache.spark.sql.graft.bridge]]), so SQL users get identical
 * semantics, codegen, and pushdown — there are no UDFs behind these
 * names.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.graft.bridge

  private val dotBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "graft_dot expects exactly 2 arguments")
    DotProduct(children.head, children(1))
  }

  /** Wrap a unary Column composition as a SQL function builder. */
  private def unary(name: String)(
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Seq[Expression] => Expression = { children =>
    require(children.length == 1, s"$name expects exactly 1 argument")
    bridge.expressionEager(f(bridge.column(children.head)))
  }

  /** Name → builder for every SQL-registered function. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> dotBuilder,
    "graft_tokens" -> unary("graft_tokens")(operators.TextDedup.tokens),
    "graft_redact" -> unary("graft_redact")(operators.TextAnalysis.redactPii),
    "graft_langid" -> unary("graft_langid")(operators.TextAnalysis.langId),
    "graft_quality" -> unary("graft_quality")(operators.TextAnalysis.qualityScore),
    // convenience form over raw text (the fused kernel evaluates its
    // child once per row, so the old inlined-normalization quadratic
    // hazard does not apply to the kernel path)
    "graft_fingerprint" -> unary("graft_fingerprint")(
      operators.TextAnalysis.fingerprint(_)),
    // Aho–Corasick dictionary scan (round 17; 2-arg form round 18).
    // graft_dict_tag(text, 'kw1,kw2,...') builds the automaton from
    // the CALLER's comma-separated keyword list, which must be a
    // foldable string literal (the automaton is built once at plan
    // time and broadcast — a per-row dictionary would defeat the
    // design). The legacy 1-arg form keeps the FIXTURE list the t111
    // gate and bench use — a demo default, NOT a production
    // blocklist; production SQL should pass its list explicitly or
    // load the versioned TokenizerStore dictionary
    // (TokenizerStore.loadDictionary → DictionaryMatch.tag, the t112
    // pattern). Input is expected
    // pre-lowercased, as in the operator.
    "graft_dict_tag" -> { children =>
      require(children.length == 1 || children.length == 2,
        "graft_dict_tag expects (text) or (text, 'kw1,kw2,...')")
      val keywords = children.lift(1) match {
        case None => Seq("scan", "can", "join", "batch batch", "merge",
          "zebra", "slow", "row") // the gated t111 fixture list
        case Some(kw) =>
          require(kw.foldable &&
            kw.dataType == org.apache.spark.sql.types.StringType,
            "graft_dict_tag's keyword list must be a foldable string " +
              "literal ('kw1,kw2,...') — the automaton is built once " +
              "at plan time")
          val s = kw.eval(null)
          require(s != null, "graft_dict_tag's keyword list is NULL")
          val parsed =
            s.toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          require(parsed.nonEmpty,
            "graft_dict_tag's keyword list parsed to zero keywords — " +
              s"expected 'kw1,kw2,...', got '$s'")
          parsed
      }
      operators.DictTag(children.head,
        operators.DictionaryMatch.build(keywords))
    },
    // fused-kernel families (round 7): minhash signature, winnowing
    // fingerprints — k / (gram, w) fixed to the gated defaults for the
    // SQL surface; the Column API exposes the parameters
    "graft_minhash" -> unary("graft_minhash")(
      operators.TextDedup.minhashSignature(_, 16)),
    "graft_winnow" -> unary("graft_winnow")(
      graft.functions.WinnowFingerprints(_, 5, 4)),
    // the fused shingle front end (round 8): distinct 3-gram shingle ids
    // and the full LSH struct(s, bands) over a token array
    "graft_shingle_ids" -> unary("graft_shingle_ids")(
      graft.functions.ShingleIds(_, 3)),
    "graft_shingle_lsh" -> unary("graft_shingle_lsh")(
      graft.functions.ShingleLshBands(_, 3, 16, 4, 4)),
    // sketch aggregates (parameters fixed to the gated defaults for the
    // SQL surface; the Column API exposes them): the analyzer wraps the
    // raw AggregateFunction in an AggregateExpression at use sites,
    // exactly as for built-in aggregates
    "graft_heavy_hitters" -> { children =>
      require(children.length == 1,
        "graft_heavy_hitters expects exactly 1 argument")
      graft.functions.MisraGriesAgg(children.head, 8)
    },
    "graft_quantiles" -> { children =>
      require(children.length == 1,
        "graft_quantiles expects exactly 1 argument")
      graft.functions.QuantileSketchAgg(children.head, 8192,
        Seq(0.1, 0.25, 0.5, 0.75, 0.9))
    },
    // HLL distinct-count sketch (p=11 — the QualitySpec accuracy-band
    // configuration, rsd ≈ 2.3%; p11's oracle replay pins the same
    // aggregate at p=5)
    "graft_hll_distinct" -> { children =>
      require(children.length == 1,
        "graft_hll_distinct expects exactly 1 argument")
      graft.functions.HllAgg(children.head, 11)
    },
    // KMV bottom-k distinct sketch (k=256 — the p12/p13 gated capacity;
    // ~6% relative error, and the output carries the mergeable sketch
    // itself for sketch-level set ops)
    "graft_kmv_distinct" -> { children =>
      require(children.length == 1,
        "graft_kmv_distinct expects exactly 1 argument")
      graft.functions.KmvAgg(children.head, 256)
    },
    // hashed linear classifier micro-logit over a TOKEN ARRAY (round
    // 11, the t68 kernel); compose as
    // graft_classifier_logit(graft_tokens(text)) from raw text
    "graft_classifier_logit" -> { children =>
      require(children.length == 1,
        "graft_classifier_logit expects exactly 1 argument")
      graft.functions.ClassifierLogit(children.head)
    },
    // round 14: the Z-ORDER clustering key (21 bits/key — the t94
    // gated configuration; the Column API exposes bits and the N-key
    // form) and the REAL container-header parsers. The SQL surface
    // bounds both keys into [0, 2^21) with pmod — the same fold the
    // zOrderWriteN caller path applies — so out-of-domain or negative
    // inputs wrap order-preservingly-when-in-domain instead of
    // aliasing on raw low bits / two's-complement garbage; callers
    // needing a loud contract use Layout.requireBounded.
    "graft_zvalue" -> { children =>
      require(children.length == 2, "graft_zvalue expects exactly 2 arguments")
      val bound = org.apache.spark.sql.functions.lit(1L << 21)
      bridge.expressionEager(operators.Layout.zValueN(children.map(c =>
        org.apache.spark.sql.functions.pmod(
          bridge.column(c).cast("long"), bound)), 21))
    },
    // round 16: the HILBERT clustering key at the same gated 21-bit
    // configuration and pmod bounding as graft_zvalue — the native
    // loop expression underneath (functions.HilbertIndex)
    "graft_hilbert" -> { children =>
      require(children.length == 2, "graft_hilbert expects exactly 2 arguments")
      val bound = org.apache.spark.sql.functions.lit(1L << 21)
      bridge.expressionEager(operators.Layout.hilbertValue(
        org.apache.spark.sql.functions.pmod(
          bridge.column(children.head).cast("long"), bound),
        org.apache.spark.sql.functions.pmod(
          bridge.column(children(1)).cast("long"), bound), 21))
    },
    // round 17: the N-key Hilbert key (functions.HilbertIndexN) —
    // variadic; bits = 62 div n keeps the index positive at any
    // arity, same pmod bounding discipline as the fixed-arity macros
    "graft_hilbertn" -> { children =>
      require(children.length >= 2,
        "graft_hilbertn expects at least 2 arguments")
      val bits = 62 / children.length
      val bound = org.apache.spark.sql.functions.lit(1L << bits)
      bridge.expressionEager(operators.Layout.hilbertValueN(
        children.map(c => org.apache.spark.sql.functions.pmod(
          bridge.column(c).cast("long"), bound)), bits))
    },
    "graft_png_dims" -> unary("graft_png_dims")(
      operators.Multimodal.pngDimensions),
    "graft_jpeg_dims" -> unary("graft_jpeg_dims")(
      operators.Multimodal.jpegDimensions(_)))

  /** Registry-path registration for an ALREADY-RUNNING session (the
    * builder path only applies at session construction). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
