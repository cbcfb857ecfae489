package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram shingles as md5-hex strings — semantics exactly
  * ≡ the Column formulation `transform(sequence(...), i =>
  * md5(array_join(slice(split(text," "), i+1, n), " ")))` and its
  * DuckDB twin: tokens = split on single space with empties kept, gram
  * joined by one space, lowercase hex md5, EMPTY array (not null) when
  * the doc has fewer than n tokens. One tight per-row pass instead of
  * an interpreted higher-order transform (HOFs are CodegenFallback —
  * see [[TokenSimHash64]]); grams are walked by [[GramWalker]]. The
  * SQL function `shingle_md5s`; the operators use [[ShingleKeys]]. */
final case class ShingleMd5s(child: Expression, shingleN: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_md5s needs a string child, got ${child.dataType}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val w = GramWalker.get()
    val nGrams = w.load(input.asInstanceOf[UTF8String]) - (shingleN - 1)
    if (nGrams <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nGrams)
    var i = 0
    while (i < nGrams) {
      w.hexGram(i, shingleN)
      out(i) = UTF8String.fromBytes(w.hex.clone())
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5s =
    copy(child = newChild)
  override def prettyName: String = "shingle_md5s"
}

/** The digests of [[ShingleMd5s]] as `binary(16)` values instead of
  * 32-char hex — a bijection, so every group, join and count over them
  * is unchanged — for the operators' internal group and join keys. With
  * `distinct`, each document's distinct digests in first-occurrence
  * order (≡ `array_distinct`, which has no hash path for binary elements
  * and compares them pairwise: quadratic in a document's gram count). */
final case class ShingleKeys(child: Expression, shingleN: Int, distinct: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_keys needs a string child, got ${child.dataType}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val w = GramWalker.get()
    val nGrams = w.load(input.asInstanceOf[UTF8String]) - (shingleN - 1)
    if (nGrams <= 0) return new GenericArrayData(Array.empty[Any])
    if (distinct) w.resetSet(nGrams)
    val out = new Array[Any](nGrams)
    var n = 0
    var i = 0
    while (i < nGrams) {
      w.digestGram(i, shingleN)
      if (!distinct || w.addDigest()) {
        out(n) = w.digest.clone()
        n += 1
      }
      i += 1
    }
    new GenericArrayData(if (n == nGrams) out else out.take(n))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleKeys =
    copy(child = newChild)
  override def prettyName: String = "shingle_keys"
}
