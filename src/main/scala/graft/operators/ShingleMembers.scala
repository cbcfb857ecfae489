package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.GramWalker

/** The shingle member lists of the Jaccard/containment family: one row
  * `(sh, df, ms)` per distinct `shingleN`-gram md5 digest `sh`
  * (`binary(16)`), its document frequency `df` and its sorted members
  * `ms` (bigint doc ids), built in three steps:
  *
  *  1. [[ShingleCombine]], a map-side combine: each document's distinct
  *     digests are looked up in an open-addressing table that appends
  *     the document's id to the digest's list, flushed as partial rows
  *     `(sh, n, ms)` once it holds `flushIds` ids;
  *  2. one exchange by `sh`, which after the combine carries only a few
  *     partial rows per digest;
  *  3. `sortWithinPartitions(sh)` and [[ShingleMerge]], which
  *     concatenates each run of one digest's partial lists and sorts it.
  *
  * With a finite `maxDf` a digest's list stops growing at `maxDf` ids in
  * any partial row, while its count stays exact: a digest over the cap
  * then costs O(maxDf) memory anywhere and merges to an empty list,
  * which the caller drops by `df`; a digest within the cap has every
  * partial list complete. A row with a null id or text adds nothing; a
  * row's repeated digests count once, but two rows with the same id
  * that share a digest put the id in its list twice (the partner pass
  * rejects that).
  *
  * Both steps are stateful generators: their state is a transient field,
  * so each task's own deserialized copy of the plan holds one, and
  * Spark's `Generate` calls `terminate` when the partition's rows end
  * (the interpreted path, which a `CodegenFallback` generator takes). */
private[operators] object ShingleMembers {

  /** Ids one combine table holds before it flushes: bounds a task's
    * table near 20 MB (plus one document's own digests) at any scale. */
  private val FlushIds = 1 << 18

  def apply(docs: DataFrame, shingleN: Int, maxDf: Int): DataFrame =
    merged(combined(docs, shingleN, maxDf, FlushIds), maxDf)

  /** Step 1 over `docs(doc_id, text)`: partial rows `(sh, n, ms)`. */
  def combined(docs: DataFrame, shingleN: Int, maxDf: Int, flushIds: Int): DataFrame = {
    import GraftColumnBridge._
    docs.select(toColumn(ShingleCombine(
      Seq(col("doc_id").cast(LongType), col("text")).map(toExpression),
      shingleN, maxDf, flushIds)))
  }

  /** Steps 2 and 3 over partial rows: `(sh, df, ms)`. */
  def merged(partials: DataFrame, maxDf: Int): DataFrame = {
    import GraftColumnBridge._
    val sorted = partials.repartition(col("sh")).sortWithinPartitions("sh")
    sorted.select(toColumn(ShingleMerge(
      Seq("sh", "n", "ms").map(c => toExpression(sorted.col(c))), maxDf)))
  }

  private def schema(count: String): StructType = StructType(Seq(
    StructField("sh", BinaryType, nullable = false),
    StructField(count, LongType, nullable = false),
    StructField("ms", ArrayType(LongType, containsNull = false), nullable = false)))

  /** Writes `(sh, count, ms)` rows into one reused buffer. */
  private final class RowOut {
    private val row = new UnsafeRowWriter(3, 64)
    private val ids = new UnsafeArrayWriter(row, 8)

    def apply(key: Array[Byte], count: Long, ms: Array[Long], from: Int, n: Int): UnsafeRow = {
      row.reset()
      row.zeroOutNullBytes()
      row.write(0, key)
      row.write(1, count)
      val at = row.cursor()
      ids.initialize(n)
      var i = 0
      while (i < n) { ids.write(i, ms(from + i)); i += 1 }
      row.setOffsetAndSizeFromPreviousCursor(2, at)
      row.getRow
    }
  }

  /** The table of [[ShingleCombine]]: entries keyed by a digest's two
    * longs in an open-addressing index, their ids appended to one log
    * in arrival order and grouped by entry when the table drains. */
  private final class CombineTable(keep: Int) {
    private var slots = new Array[Int](1024) // entry + 1; 0 is empty
    private var hi = new Array[Long](512)
    private var lo = new Array[Long](512)
    private var seen = new Array[Long](512)
    private var held = new Array[Int](512)
    private var lastRow = new Array[Long](512)
    private var entries = 0
    private var logEntry = new Array[Int](4096)
    private var logId = new Array[Long](4096)
    /** Ids the table holds. */
    var logged = 0
    private var rows = 0L
    private var byEntry = new Array[Long](0)
    private val key = new Array[Byte](16)
    private val out = new RowOut

    /** The ordinal of a new input row. */
    def nextRow(): Long = { rows += 1; rows }

    /** Add id `id` of input row `row` to digest (`h`, `l`). */
    def add(h: Long, l: Long, id: Long, row: Long): Unit = {
      if (2 * (entries + 1) > slots.length) rehash(2 * slots.length)
      val mask = slots.length - 1
      var s = l.toInt & mask
      var e = slots(s) - 1
      while (e >= 0 && (hi(e) != h || lo(e) != l)) {
        s = (s + 1) & mask
        e = slots(s) - 1
      }
      if (e < 0) {
        e = newEntry(h, l)
        slots(s) = e + 1
      } else if (lastRow(e) == row) return
      lastRow(e) = row
      seen(e) += 1
      if (held(e) < keep) {
        if (logged == logId.length) {
          logEntry = java.util.Arrays.copyOf(logEntry, 2 * logged)
          logId = java.util.Arrays.copyOf(logId, 2 * logged)
        }
        logEntry(logged) = e
        logId(logged) = id
        logged += 1
        held(e) += 1
      }
    }

    private def newEntry(h: Long, l: Long): Int = {
      if (entries == hi.length) {
        val n = 2 * entries
        hi = java.util.Arrays.copyOf(hi, n); lo = java.util.Arrays.copyOf(lo, n)
        seen = java.util.Arrays.copyOf(seen, n); held = java.util.Arrays.copyOf(held, n)
        lastRow = java.util.Arrays.copyOf(lastRow, n)
      }
      val e = entries
      hi(e) = h; lo(e) = l; seen(e) = 0; held(e) = 0
      entries += 1
      e
    }

    private def rehash(n: Int): Unit = {
      slots = new Array[Int](n)
      val mask = n - 1
      var e = 0
      while (e < entries) {
        var s = lo(e).toInt & mask
        while (slots(s) != 0) s = (s + 1) & mask
        slots(s) = e + 1
        e += 1
      }
    }

    /** Every entry as one partial row; the table is empty once the
      * iterator is exhausted, and must not be added to before that. */
    def drain(): Iterator[InternalRow] = {
      if (entries == 0) return Iterator.empty
      // counting sort of the log by entry: entry e's ids end at start(e)
      val start = new Array[Int](entries)
      var acc = 0
      var e = 0
      while (e < entries) { acc += held(e); start(e) = acc; e += 1 }
      if (byEntry.length < logged) byEntry = new Array[Long](logId.length)
      var k = logged - 1
      while (k >= 0) {
        val x = logEntry(k)
        start(x) -= 1
        byEntry(start(x)) = logId(k)
        k -= 1
      }
      new Iterator[InternalRow] {
        private var next0 = 0
        def hasNext: Boolean =
          if (next0 < entries) true
          else { clear(); false }
        def next(): InternalRow = {
          val x = next0
          next0 += 1
          var i = 0
          while (i < 8) {
            key(i) = (hi(x) >>> (56 - 8 * i)).toByte
            key(8 + i) = (lo(x) >>> (56 - 8 * i)).toByte
            i += 1
          }
          out(key, seen(x), byEntry, start(x), held(x))
        }
      }
    }

    private def clear(): Unit = {
      if (entries > 0) java.util.Arrays.fill(slots, 0)
      entries = 0
      logged = 0
    }
  }

  /** Step 1: from `(doc_id bigint, text)` rows to partial rows `(sh, n,
    * ms)`, n the digest's documents seen since the last flush and ms at
    * most `keep` of their ids, unordered. The table drains as rows once
    * it holds `flushIds` ids, checked between input rows, and when the
    * partition ends. */
  final case class ShingleCombine(children: Seq[Expression], shingleN: Int, keep: Int,
      flushIds: Int) extends Generator with CodegenFallback {
    @transient private lazy val table = new CombineTable(keep)

    override def elementSchema: StructType = schema("n")
    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val id = children(0).eval(input)
      val text = children(1).eval(input)
      if (id == null || text == null) return Nil
      val t = table
      val w = GramWalker.get()
      val grams = w.load(text.asInstanceOf[UTF8String]) - (shingleN - 1)
      val row = t.nextRow()
      var i = 0
      while (i < grams) {
        w.digestGram(i, shingleN)
        t.add(GramWalker.longAt(w.digest, 0), GramWalker.longAt(w.digest, 8),
          id.asInstanceOf[Long], row)
        i += 1
      }
      if (t.logged >= flushIds) t.drain() else Nil
    }
    override def terminate(): IterableOnce[InternalRow] = table.drain()

    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ShingleCombine =
      copy(children = c)
    override def prettyName: String = "shingle_combine"
  }

  /** Step 3: from partial rows sorted by `sh` to one `(sh, df, ms)` row
    * per digest — df the partial counts' sum, ms the partial lists
    * concatenated and sorted, or empty when df exceeds `maxDf`. */
  final case class ShingleMerge(children: Seq[Expression], maxDf: Int)
      extends Generator with CodegenFallback {
    @transient private lazy val run = new MergeRun(maxDf)

    override def elementSchema: StructType = schema("df")
    override def eval(input: InternalRow): IterableOnce[InternalRow] =
      run.add(children(0).eval(input).asInstanceOf[Array[Byte]],
        children(1).eval(input).asInstanceOf[Long], children(2).eval(input).asInstanceOf[ArrayData])
    override def terminate(): IterableOnce[InternalRow] = run.close()

    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ShingleMerge =
      copy(children = c)
    override def prettyName: String = "shingle_merge"
  }

  /** The open run of [[ShingleMerge]]: one digest's partial rows so far. */
  private final class MergeRun(maxDf: Int) {
    private val out = new RowOut
    private var key: Array[Byte] = null
    private var df = 0L
    private var ids = new Array[Long](256)
    private var len = 0

    /** Add a partial row; yields the previous digest's row when `sh`
      * starts a new run. */
    def add(sh: Array[Byte], n: Long, ms: ArrayData): IterableOnce[InternalRow] = {
      val done = if (key != null && !java.util.Arrays.equals(key, sh)) emit() else null
      key = sh
      df += n
      if (df <= maxDf) {
        val k = ms.numElements()
        if (len + k > ids.length) ids = java.util.Arrays.copyOf(ids, math.max(len + k, 2 * len))
        var i = 0
        while (i < k) { ids(len + i) = ms.getLong(i); i += 1 }
        len += k
      }
      if (done == null) Nil else Iterator.single(done)
    }

    /** The last run's row, at the end of the partition. */
    def close(): IterableOnce[InternalRow] = if (key == null) Nil else Iterator.single(emit())

    private def emit(): InternalRow = {
      val n = if (df <= maxDf) len else 0
      java.util.Arrays.sort(ids, 0, n)
      val r = out(key, df, ids, 0, n)
      key = null
      df = 0
      len = 0
      r
    }
  }
}
