package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator,
  GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** A small table of quantized vectors searched by exact integer L2²,
  * |v-c|² = |v|² - 2·v·c + |c|² (the dot over the common prefix, as
  * [[VectorDotQ]]), ties to the smaller id. It is the one "nearest" rule
  * of the IVF and PQ operators: the driver-side fold ranks a query's
  * probe lists with it, the item scan assigns lists and codes with it,
  * and the Lloyd rounds assign members with it. */
final class L2Table(val ids: Array[Long], val vecs: Array[Array[Long]]) extends Serializable {
  private val norms = vecs.map(c => c.map(x => x * x).sum)
  def size: Int = ids.length

  /** `v[from, from + len)` · row `j`, over the common prefix. */
  def dot(v: ArrayData, from: Int, len: Int, j: Int): Long = {
    val c = vecs(j)
    val n = math.min(len, c.length)
    var s = 0L
    var i = 0
    while (i < n) { s += v.getLong(from + i) * c(i); i += 1 }
    s
  }

  private def normSq(v: ArrayData, from: Int, len: Int): Long = {
    var s = 0L
    var i = 0
    while (i < len) { val x = v.getLong(from + i); s += x * x; i += 1 }
    s
  }

  private def d2(v: ArrayData, from: Int, len: Int, vn: Long, j: Int): Long =
    vn - 2 * dot(v, from, len, j) + norms(j)

  /** The order of the rule: row `a` at L2² `da` comes before row `b` at `db`. */
  private def before(da: Long, a: Int, db: Long, b: Int): Boolean =
    da < db || (da == db && ids(a) < ids(b))

  /** Position of the row nearest to `v[from, from + len)`; -1 when empty. */
  def nearest(v: ArrayData, from: Int, len: Int): Int = {
    val vn = normSq(v, from, len)
    var best = -1
    var bd = 0L
    var j = 0
    while (j < size) {
      val d = d2(v, from, len, vn, j)
      if (best < 0 || before(d, j, bd, best)) { best = j; bd = d }
      j += 1
    }
    best
  }

  /** Positions of the `n` rows nearest to `v`, nearest first. */
  def nearestN(v: ArrayData, n: Int): Array[Int] = {
    val len = v.numElements()
    val vn = normSq(v, 0, len)
    val d = Array.tabulate(size)(d2(v, 0, len, vn, _))
    Array.range(0, size).sortWith((a, b) => before(d(a), a, d(b), b)).take(n)
  }
}

object L2Table {
  def apply(rows: Seq[(Long, Array[Long])]): L2Table =
    new L2Table(rows.map(_._1).toArray, rows.map(_._2).toArray)

  /** The width of each of `numSub` subvectors of a `width`-wide vector:
    * the PQ width rule, for the driver fold, the item pass and (as
    * [[PqSubDim]]) the codebook split. */
  def subDim(width: Int, numSub: Int): Int = {
    if (width % numSub != 0)
      throw new IllegalArgumentException(s"PQ: vector width not divisible by numSub=$numSub, got $width")
    width / numSub
  }
}

/** The id of the row of `tables(part)` nearest to `vec` (an
  * `array<bigint>`); null for a null vector or an empty table. */
final case class NearestL2(vec: Expression, part: Expression, tables: Seq[L2Table])
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = vec
  override def right: Expression = part
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def flatArguments: Iterator[Any] = Iterator(vec, part)

  override protected def nullSafeEval(v: Any, p: Any): Any = {
    val t = tables(p.asInstanceOf[Int])
    val a = v.asInstanceOf[ArrayData]
    val j = t.nearest(a, 0, a.numElements())
    if (j < 0) null else t.ids(j)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestL2 =
    copy(vec = l, part = r)
  override def prettyName: String = "nearest_l2"
}

/** [[L2Table.subDim]] of an `int` width; null for a null width. */
final case class PqSubDim(width: Expression, numSub: Int)
    extends UnaryExpression with CodegenFallback {
  override def child: Expression = width
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(w: Any): Any = L2Table.subDim(w.asInstanceOf[Int], numSub)
  override protected def withNewChildInternal(c: Expression): PqSubDim = copy(width = c)
  override def prettyName: String = "pq_sub_dim"
}

/** An IVF index's small side, folded on the driver: the coarse
  * centroids, for each centroid the queries that probe it (each query's
  * `nProbe` nearest), and with `codebooks` (one per PQ subspace) each
  * query's ADC table, query subvector · codeword. `exact` adds the exact
  * dot to each scored pair. */
final class IvfFold(queries: L2Table, cents: L2Table, nProbe: Int,
    codebooks: Seq[L2Table], val exact: Boolean) extends Serializable {
  private val numSub = codebooks.size
  def adc: Boolean = numSub > 0

  private val probers: Array[Array[Int]] = {
    // PQ without any codeword encodes no item
    val live = !adc || codebooks.exists(_.size > 0)
    val ps = queries.vecs.map(q => if (live) cents.nearestN(UnsafeArrayData.fromPrimitiveArray(q), nProbe)
      else Array.emptyIntArray)
    Array.tabulate(cents.size)(c => ps.indices.filter(ps(_).contains(c)).toArray)
  }

  // [query][subspace][code position]
  private val lut: Array[Array[Array[Long]]] = queries.vecs.map { q =>
    val a = UnsafeArrayData.fromPrimitiveArray(q)
    val d = if (adc) L2Table.subDim(q.length, numSub) else 0
    Array.tabulate(numSub)(m => Array.tabulate(codebooks(m).size)(codebooks(m).dot(a, m * d, d, _)))
  }

  /** One item's scored pairs: (query_id, item_id[, adot][, dot]) for
    * every query probing the item's list, the item itself excluded. */
  def scan(id: Long, v: ArrayData): Seq[InternalRow] = {
    val len = v.numElements()
    val p = cents.nearest(v, 0, len)
    if (p < 0) return Nil
    val d = if (adc) L2Table.subDim(len, numSub) else 0
    val qs = probers(p)
    if (qs.isEmpty) return Nil
    val codes = Array.tabulate(numSub)(m => codebooks(m).nearest(v, m * d, d))
    qs.toSeq.collect { case j if queries.ids(j) != id =>
      val row = new GenericInternalRow(2 + (if (adc) 1 else 0) + (if (exact) 1 else 0))
      row.setLong(0, queries.ids(j))
      row.setLong(1, id)
      if (adc) {
        var s = 0L
        var m = 0
        while (m < numSub) { if (codes(m) >= 0) s += lut(j)(m)(codes(m)); m += 1 }
        row.setLong(2, s)
      }
      if (exact) row.setLong(row.numFields - 1, queries.dot(v, 0, len, j))
      row
    }
  }
}

/** The IVF item scan: one map-side pass from `(item_id, qv)` rows to the
  * `(query_id, item_id, adot?, dot?)` rows of the queries that probe
  * each item's list — list assignment, PQ encoding and scoring in one
  * generator over the broadcast [[IvfFold]]. A null id or vector scores
  * nothing. */
final case class IvfScan(children: Seq[Expression], fold: Broadcast[IvfFold])
    extends Generator with CodegenFallback {
  @transient private lazy val f = fold.value
  override def elementSchema: StructType = StructType(
    Seq("query_id", "item_id").map(StructField(_, LongType, nullable = false)) ++
      (if (f.adc) Seq(StructField("adot", LongType, nullable = false)) else Nil) ++
      (if (f.exact) Seq(StructField("dot", LongType, nullable = false)) else Nil))
  override def flatArguments: Iterator[Any] = children.iterator

  override def eval(row: InternalRow): IterableOnce[InternalRow] = {
    val id = children(0).eval(row)
    val v = children(1).eval(row)
    if (id == null || v == null) Nil
    else f.scan(id.asInstanceOf[Long], v.asInstanceOf[ArrayData])
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): IvfScan =
    copy(children = c)
  override def prettyName: String = "ivf_scan"
}

object IvfScan {
  /** The scan of `items(item_id, qv)` against `fold`, broadcast once. */
  def of(items: DataFrame, fold: IvfFold): Column = {
    import GraftColumnBridge._
    toColumn(IvfScan(items.columns.toSeq.map(c => toExpression(items.col(c))),
      items.sparkSession.sparkContext.broadcast(fold)))
  }
}
