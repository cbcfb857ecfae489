package graft.job

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.model._
import graft.engine.Extractor

/** The extraction row loop, shared by the batch job
  * ([[ExtractJob.run]]) and the stream ([[graft.streaming.ExtractStream.extract]]):
  * one Catalyst generator from an input row — `doc_id`, `spans`, the
  * option columns, the bucket — to 0 or 1 `(doc_id, spans)` rows, or
  * `(doc_id, spans, bucket)` rows under `withBucket`, so that the batch
  * job's `Generate` feeds its write with no `Project` copying each row
  * again. It plans in batch and streaming queries alike, as a map-only
  * `Generate` with no object (de)serialization around it.
  *
  * It reads the scan's catalyst row and writes catalyst rows: the
  * base64 PDF payload is decoded straight from the row's UTF-8 bytes, a
  * passthrough span's text and media_ref and the output `doc_id` are the
  * input's own UTF8Strings, and a page's text is one copy of the bytes
  * [[graft.pdf.ContentText.pageText]] wrote — no java.lang.String on the way.
  *
  * A row whose `doc_id`, `spans`, a span, a span's `kind`, or the
  * `text` (`media_ref` for kind media) its kind reads is null fails
  * soft: it counts as one failed document of its bucket and emits
  * nothing. Per-bucket [[BucketStats]] go to `stats` when given.
  * `base` supplies what no column carries: the start-page parity pin.
  * Where every option child is foldable (the input has no option column)
  * the options are resolved once per task, not per row.
  */
final case class ExtractRows(children: Seq[Expression], base: ExtractOptions,
    stats: Option[ExtractJob.BucketStatsAcc], withBucket: Boolean = false)
    extends Generator with CodegenFallback {
  import ExtractRows._

  // the bucket column is written nullable, as the projected column it
  // replaces was: the table's parquet schema stays the same
  override def elementSchema: StructType =
    if (withBucket) outSchema.add("bucket", IntegerType) else outSchema
  // plans print the inputs, not the accumulator's running value
  override def flatArguments: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ExtractRows =
    copy(children = c)
  @transient private lazy val args = children.toArray
  /** The options of every row, when no row can change them. */
  @transient private lazy val fixedOptions =
    if (args.slice(2, 7).forall(_.foldable)) options(null) else null

  override def eval(row: InternalRow): IterableOnce[InternalRow] = {
    val docId = args(0).eval(row).asInstanceOf[UTF8String]
    val spans = args(1).eval(row).asInstanceOf[ArrayData]
    val d = docs.get
    d.start(docId)
    var bytesIn = 0L
    var whole = docId != null && spans != null
    val n = if (spans == null) 0 else spans.numElements()
    var i = 0
    while (i < n) {
      if (spans.isNullAt(i)) whole = false
      else {
        val sp = spans.getStruct(i, 4)
        val kind = if (sp.isNullAt(0)) null else kindOf(sp.getUTF8String(0))
        val text = sp.getUTF8String(1)
        val ref = sp.getUTF8String(2)
        if (text != null) bytesIn += text.numBytes
        if (ref != null) bytesIn += ref.numBytes
        if (kind == null || (if (kind == "media") ref == null else text == null)) whole = false
        else d.add(kind, text, ref, sp.getInt(3))
      }
      i += 1
    }
    val ok = whole &&
      Extractor.extractInto(d, if (fixedOptions != null) fixedOptions else options(row)) == null
    val bucket = intOf(args(7).eval(row))
    if (stats.isDefined)
      stats.get.add(bucket -> BucketStats(docCount = 1, spanCount = if (ok) d.size else 0,
        bytesIn = bytesIn, failedDocs = if (ok) 0 else 1, unmappedCodes = if (whole) d.unmapped else 0))
    val out =
      if (!ok) None
      else if (withBucket) Some(new GenericInternalRow(Array[Any](d.id, spansOf(d), bucket)))
      else Some(new GenericInternalRow(Array[Any](d.id, spansOf(d))))
    d.release()
    out
  }

  private def options(row: InternalRow): ExtractOptions = {
    def str(k: Int) = Option(args(k).eval(row)).map(_.toString)
    ExtractOptions(intOf(args(2).eval(row)), intOf(args(3).eval(row)), str(4).orNull,
      str(5).filter(_.nonEmpty), base.parityStartOffByOne,
      // null survived the fallback to the job default, so there is no
      // password anywhere for this doc
      password = str(6))
  }
}

object ExtractRows {

  /** The output row: `ExtractedDoc`'s schema. */
  val outSchema: StructType = Encoders.product[ExtractedDoc].schema

  /** The extraction generator over `input`'s `doc_id`, `spans` and
    * whichever [[ExtractJob.OptionColumns]] it has, falling back to
    * `base`; `bucket` keys the stats, and is emitted as a third column
    * under `withBucket`. The one place both faces build it. */
  def of(input: DataFrame, base: ExtractOptions, bucket: Column,
      stats: Option[ExtractJob.BucketStatsAcc], withBucket: Boolean = false): Column = {
    def opt(name: String, default: Any): Column =
      if (input.columns.contains(name)) coalesce(col(name), lit(default)) else lit(default)
    val cols = Seq(col("doc_id"), col("spans"),
      opt("start_page", base.startPage).cast(IntegerType),
      opt("page_count", base.pageCount).cast(IntegerType),
      opt("engine", base.engine).cast(StringType),
      (if (input.columns.contains("model")) col("model") else lit(base.ocrModel.orNull)).cast(StringType),
      opt("password", base.password.orNull).cast(StringType),
      bucket.cast(IntegerType))
    GraftColumnBridge.toColumn(
      ExtractRows(cols.map(GraftColumnBridge.toExpression), base, stats, withBucket))
  }

  private val Kinds = Array("text", "media", "html", "pdf_bytes")
  private val KindsUtf8 = Kinds.map(UTF8String.fromString)
  /** The span kind as the shared String constant (no copy) when known. */
  private def kindOf(k: UTF8String): String = {
    val i = KindsUtf8.indexOf(k)
    if (i >= 0) Kinds(i) else k.toString
  }

  private def intOf(v: Any): Int = v match { case i: Integer => i.intValue; case _ => 0 }

  private def spansOf(d: Extractor.Doc): ArrayData =
    new GenericArrayData(Array.tabulate[Any](d.size)(i => new GenericInternalRow(Array[Any](
      KindsUtf8(if (d.kind(i) == "text") 0 else 1), d.text(i), d.ref(i), i, d.page(i)))))

  private val docs = ThreadLocal.withInitial(() => new Extractor.Doc)
}
