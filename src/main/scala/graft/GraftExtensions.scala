package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Concat, Conv, Expression, ExpressionInfo, Literal, Md5, RegExpReplace, Remainder, StringTrim, Substring}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

import graft.functions.{DotProductExpr, HashStringsExpr, MinHashSigExpr, ShingleHashExpr, SimHashExpr}
import graft.operators.Dedup

/** SQL surface for graft's native expressions.
  *
  * Two registration paths:
  *  - config-based: `spark.sql.extensions=graft.GraftExtensions`
  *    (cluster-wide, survives session cloning), or
  *  - imperative: `GraftExtensions.register(spark)` on a live session.
  *
  * Exposed functions:
  *  - graft_dot(a, b)              -> double (f64 dot product)
  *  - graft_shingle_hashes(s, k)   -> array<long> distinct k-shingle hashes
  *  - graft_hash_strings(arr)      -> array<long> distinct md5-prefix hashes
  *  - graft_minhash_sig(hsl, n)    -> array<long> minhash signature
  *  - graft_simhash(tokens, bits)  -> long simhash fingerprint
  *  - graft_clean_text(s)          -> string with URL/email/phone spans removed
  *  - graft_mask_pii(s)            -> string with typed <URL>/<EMAIL>/<PHONE> placeholders
  *  - graft_hash_bucket(key, salt) -> long in [0, 10000) (split/sample bucket)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.KeyedScanStrategy)
  }
}

object GraftExtensions {

  private def litInt(e: Expression, what: String): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def litString(e: Expression, what: String): String = e.eval() match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case s: String => s
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      "graft_dot",
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (es: Seq[Expression]) => DotProductExpr(es(0), es(1)),
    ),
    (
      "graft_shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashExpr].getName, "graft_shingle_hashes"),
      (es: Seq[Expression]) => ShingleHashExpr(es(0), litInt(es(1), "k")),
    ),
    (
      "graft_hash_strings",
      new ExpressionInfo(classOf[HashStringsExpr].getName, "graft_hash_strings"),
      (es: Seq[Expression]) => HashStringsExpr(es(0)),
    ),
    (
      "graft_minhash_sig",
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "graft_minhash_sig"),
      (es: Seq[Expression]) => {
        val n = litInt(es(1), "nHashes")
        MinHashSigExpr(
          es(0),
          n,
          Dedup.MinhashP,
          (0 until n).map(Dedup.minhashA),
          (0 until n).map(Dedup.minhashB),
        )
      },
    ),
    (
      "graft_simhash",
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      (es: Seq[Expression]) => SimHashExpr(es(0), litInt(es(1), "bits")),
    ),
    // composed from built-in codegen'd Catalyst expressions
    // (regexp/md5/conv) — the SQL names are the graft contract, the
    // trees are Spark's, bit-identical to the Column-API operators
    (
      "graft_clean_text",
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_clean_text"),
      (es: Seq[Expression]) => {
        import graft.operators.TextCleaning
        collapseExpr(
          RegExpReplace(es(0), lits(TextCleaning.AnyRe), lits(" "))
        )
      },
    ),
    (
      "graft_mask_pii",
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_mask_pii"),
      (es: Seq[Expression]) => {
        import graft.operators.TextCleaning
        collapseExpr(
          RegExpReplace(
            RegExpReplace(
              RegExpReplace(es(0), lits(TextCleaning.EmailRe), lits("<EMAIL>")),
              lits(TextCleaning.UrlRe),
              lits("<URL>"),
            ),
            lits(TextCleaning.PhoneRe),
            lits("<PHONE>"),
          )
        )
      },
    ),
    (
      "graft_hash_bucket",
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_hash_bucket"),
      (es: Seq[Expression]) => {
        val salt = litString(es(1), "salt")
        val hex = Substring(
          Md5(Cast(Concat(Seq(Cast(es(0), StringType), lits(":" + salt))), BinaryType)),
          Literal(1),
          Literal(8),
        )
        Remainder(
          Cast(Conv(hex, Literal(16), Literal(10)), LongType),
          Literal(graft.operators.Sampling.Buckets.toLong),
        )
      },
    ),
  )

  private def lits(s: String): Expression =
    Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType)

  /** trim(regexp_replace(e, '\s+', ' ')) — TextCleaning.collapse. */
  private def collapseExpr(e: Expression): Expression =
    new StringTrim(RegExpReplace(e, lits("\\s+"), lits(" ")))

  /** Registers the functions on an already-running session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
}
