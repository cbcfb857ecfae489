package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ArrayMinAgg, BottomKDistinctLongs, CdcChunks, MinHashSigs, RollingFp, ShingleMd5s, TokenSimHash64, VectorDotQ}

/** SparkSessionExtensions installer for graft's native expressions —
  * the supported library integration point: set
  * `spark.sql.extensions=graft.spark.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) and the functions are
  * available in EVERY session of the application, including pure-SQL
  * ones, with no per-session register() call. The per-session
  * [[graft.functions.GraftFunctions.register]] remains for ad-hoc use.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Validated positional argument: a missing arg must read as a
    * clear resolution-time message, not NoSuchElement from
    * `exprs.head`. */
  private def arg(fn: String, exprs: Seq[Expression], i: Int, what: String): Expression = {
    require(exprs.length > i,
      s"$fn requires ${i + 1} arguments; $what (argument ${i + 1}) is missing")
    exprs(i)
  }

  /** Validated integer-literal argument for the parameterized
    * builders: missing, non-foldable, null, non-integral (a string or
    * fractional literal), out-of-range or non-positive args must all
    * read as clear resolution-time messages — never a raw
    * IndexOutOfBounds/NPE/ClassCastException, and never a silent
    * fractional truncation. */
  private def intLit(fn: String, exprs: Seq[Expression], i: Int,
      what: String, requirePositive: Boolean = true): Int = {
    val e = arg(fn, exprs, i, what)
    require(e.foldable, s"$fn: $what must be an integer literal, got ${e.sql}")
    val n = e.eval() match {
      case b: java.lang.Byte => b.toInt
      case s: java.lang.Short => s.toInt
      case v: java.lang.Integer => v.toInt
      case l: java.lang.Long =>
        require(l >= Int.MinValue && l <= Int.MaxValue, s"$fn: $what out of int range: $l")
        l.intValue()
      case null => throw new IllegalArgumentException(s"$fn: $what must not be null")
      case _ => throw new IllegalArgumentException(
        s"$fn: $what must be an INTEGER literal, got ${e.sql}")
    }
    require(!requirePositive || n > 0, s"$fn: $what must be positive, got $n")
    n
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_q"),
      new ExpressionInfo(classOf[VectorDotQ].getName, "dot_q"),
      (exprs: Seq[Expression]) => VectorDotQ(arg("dot_q", exprs, 0, "the left vector"),
        arg("dot_q", exprs, 1, "the right vector"))))
    ext.injectFunction((
      FunctionIdentifier("token_simhash64"),
      new ExpressionInfo(classOf[TokenSimHash64].getName, "token_simhash64"),
      (exprs: Seq[Expression]) => TokenSimHash64(arg("token_simhash64", exprs, 0, "the text column"))))
    ext.injectFunction((
      FunctionIdentifier("shingle_md5s"),
      new ExpressionInfo(classOf[ShingleMd5s].getName, "shingle_md5s"),
      (exprs: Seq[Expression]) =>
        ShingleMd5s(arg("shingle_md5s", exprs, 0, "the text column"),
          intLit("shingle_md5s", exprs, 1, "the n-gram size"))))
    ext.injectFunction((
      FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (exprs: Seq[Expression]) =>
        CdcChunks(arg("cdc_chunks", exprs, 0, "the text column"),
          intLit("cdc_chunks", exprs, 1, "the boundary divisor"))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (exprs: Seq[Expression]) => MinHashSigs(arg("minhash_sigs", exprs, 0, "the text column"),
        intLit("minhash_sigs", exprs, 1, "the shingle size"),
        intLit("minhash_sigs", exprs, 2, "the hash count"))))
    ext.injectFunction((
      FunctionIdentifier("rolling_fp"),
      new ExpressionInfo(classOf[RollingFp].getName, "rolling_fp"),
      (exprs: Seq[Expression]) => RollingFp(arg("rolling_fp", exprs, 0, "the text column"))))
    ext.injectFunction((
      FunctionIdentifier("array_min_agg"),
      new ExpressionInfo(classOf[ArrayMinAgg].getName, "array_min_agg"),
      (exprs: Seq[Expression]) => ArrayMinAgg(arg("array_min_agg", exprs, 0, "the array column"))))
    ext.injectFunction((
      FunctionIdentifier("bottom_k_distinct"),
      new ExpressionInfo(classOf[BottomKDistinctLongs].getName, "bottom_k_distinct"),
      (exprs: Seq[Expression]) => BottomKDistinctLongs(
        arg("bottom_k_distinct", exprs, 0, "the bigint column"),
        intLit("bottom_k_distinct", exprs, 1, "k"))))
  }
}
