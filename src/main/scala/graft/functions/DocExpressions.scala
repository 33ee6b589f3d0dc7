package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document kernels: censuses whose groups never leave one document
  * run inside that document's row, with one small hash map per row,
  * instead of exploding the document to rows and shuffling them by
  * (id, value). Same doctrine as [[SpanKernels]]: each kernel is one
  * static JVM method, the generated code is a single static call.
  *
  * Splitting goes through `UTF8String.split` — the regex split behind
  * Spark's `split` — so lines, tokens and grams are the exact strings the
  * built-in expressions produce (`splitSQL` splits on the literal
  * delimiter and would disagree on `\\s+`).
  */
object DocKernels {

  private val NewLine = UTF8String.fromString("\n")
  private val Blanks = UTF8String.fromString("\\s+")
  private val Space = UTF8String.fromString(" ")

  /** Raw repetition sums of one document (see [[repetitionStats]]). */
  val repetitionType: StructType = StructType(Seq(
    StructField("n_lines", LongType), StructField("dup_l", LongType),
    StructField("chars_l", LongType), StructField("dup_lc", LongType),
    StructField("top_c", LongType), StructField("top_len", IntegerType),
    StructField("dup_gc", LongType)))

  private final class Count(var c: Long)

  /** Occurrence count of every distinct value. */
  private def census(values: Array[UTF8String])
      : java.util.HashMap[UTF8String, Count] = {
    val m = new java.util.HashMap[UTF8String, Count]()
    var i = 0
    while (i < values.length) {
      val c = m.get(values(i))
      if (c == null) m.put(values(i), new Count(1L)) else c.c += 1L
      i += 1
    }
    m
  }

  /** The `n`-token grams of `toks`, each joined by single spaces
    * (`concat_ws(" ", slice(toks, i, n))`). */
  private def grams(toks: Array[UTF8String], n: Int): Array[UTF8String] = {
    val out = new Array[UTF8String](toks.length - n + 1)
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.concatWs(Space, toks.slice(i, i + n): _*)
      i += 1
    }
    out
  }

  /** The struct of [[repetitionType]] for one document:
    *  - lines are `split(text, "\n")`: `n_lines` of them, `chars_l` their
    *    summed length; `dup_l`/`dup_lc` the count and summed length of the
    *    occurrences of lines seen ≥ 2 times;
    *  - tokens are `split(trim(text), "\\s+")` without empty strings;
    *    `top_c`/`top_len` are the count and length of the most frequent
    *    `topN`-gram, ties to the smallest gram under `binaryCompare`;
    *    `dup_gc` sums count × length over `dupN`-grams seen ≥ 2 times.
    *    A document with fewer tokens than the gram size leaves that
    *    gram's fields NULL.
    * Lengths are characters (`numChars`). */
  def repetitionStats(text: UTF8String, topN: Int, dupN: Int): InternalRow = {
    val out = new Array[Any](7)
    var nLines, dupL, charsL, dupLc = 0L
    census(text.split(NewLine, -1)).forEach { (l, c) =>
      val len = l.numChars().toLong
      nLines += c.c
      charsL += c.c * len
      if (c.c >= 2) { dupL += c.c; dupLc += c.c * len }
    }
    out(0) = nLines; out(1) = dupL; out(2) = charsL; out(3) = dupLc
    val toks = text.trim().split(Blanks, -1).filter(_.numBytes() > 0)
    if (toks.length >= topN) {
      var top: UTF8String = null
      var topC = 0L
      census(grams(toks, topN)).forEach { (g, c) =>
        if (c.c > topC || (c.c == topC && g.binaryCompare(top) < 0)) {
          top = g; topC = c.c
        }
      }
      out(4) = topC; out(5) = top.numChars()
    }
    if (toks.length >= dupN) {
      var dupGc = 0L
      census(grams(toks, dupN)).forEach { (g, c) =>
        if (c.c >= 2) dupGc += c.c * g.numChars()
      }
      out(6) = dupGc
    }
    new GenericInternalRow(out)
  }

  /** `text` without every line whose normalized form (`norms`, aligned
    * with `lines` = `text` split on `sep`) is non-empty and already seen
    * on an earlier line; the survivors rejoin with `sep`. A text that
    * loses nothing is returned as is. Linear: one hash-set pass. */
  def keepFirstLines(text: UTF8String, lines: ArrayData, norms: ArrayData,
                     sep: UTF8String): UTF8String = {
    val n = norms.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    var keep: Array[Boolean] = null
    var i = 0
    while (i < n) {
      val u = norms.getUTF8String(i)
      if (u.numBytes() > 0 && !seen.add(u)) {
        if (keep == null) keep = Array.fill(n)(true)
        keep(i) = false
      }
      i += 1
    }
    if (keep == null) text
    else UTF8String.concatWs(sep,
      (0 until n).filter(keep(_)).map(lines.getUTF8String): _*)
  }
}

/** `repetition_stats(text)`: the raw per-document repetition sums of
  * [[DocKernels.repetitionStats]] as one struct. */
final case class RepetitionStats(child: Expression, topN: Int, dupN: Int)
    extends UnaryExpression {
  require(topN >= 1 && dupN >= 1, s"ngram sizes must be >= 1: $topN, $dupN")

  override def dataType: DataType = DocKernels.repetitionType
  override def prettyName: String = "repetition_stats"

  override protected def nullSafeEval(input: Any): Any =
    DocKernels.repetitionStats(input.asInstanceOf[UTF8String], topN, dupN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.DocKernels.repetitionStats($t, $topN, $dupN);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

/** `keep_first_lines(text, lines, norms)`: see
  * [[DocKernels.keepFirstLines]]; `sep` is the literal line separator. */
final case class KeepFirstLines(first: Expression, second: Expression,
                                third: Expression, sep: String)
    extends TernaryExpression {

  @transient private lazy val sepUtf8 = UTF8String.fromString(sep)

  override def dataType: DataType = StringType
  override def prettyName: String = "keep_first_lines"

  override protected def nullSafeEval(text: Any, lines: Any, norms: Any): Any =
    DocKernels.keepFirstLines(text.asInstanceOf[UTF8String],
      lines.asInstanceOf[ArrayData], norms.asInstanceOf[ArrayData], sepUtf8)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep", sepUtf8)
    nullSafeCodeGen(ctx, ev, (t, l, n) =>
      s"${ev.value} = graft.functions.DocKernels.keepFirstLines($t, $l, $n, $sepRef);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): KeepFirstLines =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object DocExpressions {
  /** Raw repetition sums of `text` (struct of [[DocKernels.repetitionType]]). */
  def repetitionStats(text: Column, topN: Int, dupN: Int): Column =
    Bridge.column(RepetitionStats(Bridge.expression(text), topN, dupN))

  /** `text` without its repeated lines (see [[DocKernels.keepFirstLines]]). */
  def keepFirstLines(text: Column, lines: Column, norms: Column,
                     sep: String): Column =
    Bridge.column(KeepFirstLines(Bridge.expression(text),
      Bridge.expression(lines), Bridge.expression(norms), sep))
}
