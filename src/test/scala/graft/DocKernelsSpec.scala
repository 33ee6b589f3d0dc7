package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Dedup, Quality}

/** Byte-equality properties for the per-document kernels: the row-local
  * `Quality.repetitionReport` and `Dedup.removeRepeatedLines` must return
  * exactly what their keyed-shuffle formulations returned. Those
  * formulations are kept below verbatim as the oracle. Sampling is
  * deterministic (raw Gen + fixed seeds, as in [[LawsSpec]]). */
class DocKernelsSpec extends SparkSpec {

  private def forAll[T](g: Gen[T], n: Int = 4)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(1301L + i)).foreach(body)
    }

  // ------------------------------------------------------------ generators

  // case variants, non-Latin letters, supplementary-plane characters
  // (numChars ≠ UTF-16 length) and a BMP character above the surrogates
  // (U+FF71), whose UTF-8 order differs from its UTF-16 order against
  // supplementary ones — the gram tie-break must follow the bytes
  private val words = Seq("alpha", "Alpha", "ALPHA", "beta", "gamma",
    "δέλτα", "Δέλτα", "дом", "ДОМ", "日本語", "𝔘𝔫𝔦", "😀", "𠀀x",
    "ｱ", "a", "b", "#", "...", "42", "-")
  private val wordGen = Gen.oneOf(words)
  private val gapGen = Gen.frequency(6 -> " ", 1 -> "  ", 1 -> "\t",
    1 -> " \t ")
  private val lineGen: Gen[String] = Gen.frequency(
    8 -> (for {
      n <- Gen.chooseNum(1, 6)
      ws <- Gen.listOfN(n, wordGen)
      gaps <- Gen.listOfN(n, gapGen)
      lead <- Gen.oneOf("", "", " ", "\t")
      tail <- Gen.oneOf("", "", " ", "\t", "\r")
    } yield lead + ws.zip(gaps).map { case (w, g) => w + g }
      .mkString.dropRight(1) + tail),
    1 -> Gen.const(""),
    1 -> Gen.oneOf(" ", "\t", " \t", "### 7 ###"))
  // lines drawn from a small per-doc pool, so lines and grams repeat;
  // some repeats change case (normalize equal, compare unequal)
  private val textGen: Gen[String] = for {
    pool <- Gen.listOfN(3, lineGen)
    n <- Gen.chooseNum(1, 8)
    picks <- Gen.listOfN(n, for {
      l <- Gen.oneOf(pool)
      up <- Gen.frequency(4 -> false, 1 -> true)
    } yield if (up) l.toUpperCase else l)
    sep <- Gen.frequency(4 -> "\n", 1 -> "\r\n")
    end <- Gen.oneOf("", "", "\n", "\r\n", "\t")
  } yield picks.mkString(sep) + end
  private val specialTexts: Seq[String] =
    Seq(null, "", " ", "\t", "\n", "\r\n", " \n\t\n ", "a\n", "a\r\na\r\n")
  private val corpusGen: Gen[Seq[String]] =
    Gen.listOfN(40, textGen).map(specialTexts ++ _)

  private def corpus(texts: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 3),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    val g = got.collect().sortBy(_.getLong(0)).toSeq
    val w = want.collect().sortBy(_.getLong(0)).toSeq
    assert(g.length == w.length)
    g.zip(w).foreach { case (a, b) => assert(a == b, s"kernel $a, oracle $b") }
  }

  // ------------------------------------------------- oracle: repetitionReport

  private def repetitionReportOracle(docs: DataFrame, idCol: String,
                                     textCol: String, topN: Int = 2,
                                     dupN: Int = 3): DataFrame = {
    require(topN >= 1 && dupN >= 1, s"ngram sizes must be >= 1: $topN, $dupN")
    val id = col(idCol)
    val base = docs.select(id, col(textCol).as("__t"),
      array_remove(split(trim(col(textCol)), "\\s+"), "").as("__ts"),
      split(col(textCol), "\n").as("__ls"))

    // line census: (id, line) occurrences, then per-doc duplicate mass
    val lineStats = base
      .select(id, explode(col("__ls")).as("l"))
      .groupBy(id, col("l")).agg(count(lit(1)).as("c"))
      .groupBy(id).agg(
        sum(col("c")).as("n_lines"),
        sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as("dup_l"),
        sum(col("c") * length(col("l"))).as("chars_l"),
        sum(when(col("c") >= 2, col("c") * length(col("l")))
          .otherwise(lit(0L))).as("dup_lc"))

    def gramRows(n: Int) = base
      .where(size(col("__ts")) >= n)
      .select(id, explode(transform(
        sequence(lit(1), size(col("__ts")) - (n - 1)),
        i => concat_ws(" ", slice(col("__ts"), i, lit(n))))).as("g"))
      .groupBy(id, col("g")).agg(count(lit(1)).as("c"))

    // most frequent topN-gram: ties to the smallest gram — min_by over
    // the (-count, gram) ordering struct, one aggregation, no window
    val topStats = gramRows(topN)
      .groupBy(id).agg(
        min_by(struct(col("c"), length(col("g")).as("gl")),
          struct((-col("c")).as("nc"), col("g"))).as("tg"))
      .select(id, col("tg.c").as("top_c"), col("tg.gl").as("top_len"))
    val dupStats = gramRows(dupN)
      .groupBy(id).agg(
        sum(when(col("c") >= 2, col("c") * length(col("g")))
          .otherwise(lit(0L))).as("dup_gc"))

    base.select(id, length(col("__t")).cast("long").as("__n"))
      .join(lineStats, Seq(idCol), "left")
      .join(topStats, Seq(idCol), "left")
      .join(dupStats, Seq(idCol), "left")
      .select(id,
        col("n_lines"),
        round(col("dup_l") * lit(1.0) / col("n_lines"), 6)
          .as("dup_line_frac"),
        when(col("chars_l") > 0,
          round(col("dup_lc") * lit(1.0) / col("chars_l"), 6))
          .otherwise(lit(0.0)).as("dup_line_char_frac"),
        when(col("top_c").isNotNull && col("__n") > 0,
          round(col("top_c") * col("top_len") * lit(1.0) / col("__n"), 6))
          .as("top_ngram_char_frac"),
        when(col("__n") > 0,
          round(coalesce(col("dup_gc"), lit(0L)) * lit(1.0) / col("__n"), 6))
          .as("dup_ngram_char_frac"))
  }

  // ---------------------------------------------- oracle: removeRepeatedLines

  private def removeRepeatedLinesOracle(docs: DataFrame, idCol: String,
                                        textCol: String,
                                        sep: String = "\n"): DataFrame = {
    val occ = paragraphOccurrences(docs, idCol, textCol, sep)
    val drops = occ.groupBy(col(idCol), col("__h"))
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      .where(size(col("__ps")) > 1)
      .select(col(idCol),
        explode(slice(col("__ps"), lit(2), size(col("__ps")) - 1))
          .as("pos"))
    rebuildWithoutPositions(docs, drops, idCol, textCol, sep)
  }

  private def paragraphOccurrences(docs: DataFrame, idCol: String,
                                   textCol: String, sep: String): DataFrame = {
    require(sep.nonEmpty, "paragraph separator must be non-empty")
    val sepRe = java.util.regex.Pattern.quote(sep)
    // \p{L} keeps letters of EVERY script — an [a-z]-only class would
    // normalize all non-Latin text to "" and make paragraph dedup a
    // silent no-op on the multilingual corpora CCNet targets
    def norm(p: Column): Column =
      trim(regexp_replace(
        regexp_replace(lower(p), "[^\\p{L}\\s]", ""), "\\s+", " "))
    docs
      .select(col(idCol), posexplode(split(col(textCol), sepRe, -1)))
      .select(col(idCol), (col("pos") + 1).as("pos"),
        norm(col("col")).as("__n"))
      .where(col("__n") =!= "")
      .select(col(idCol), col("pos"), unhex(md5(col("__n"))).as("__h"))
  }

  private def rebuildWithoutPositions(docs: DataFrame, drops: DataFrame,
                                      idCol: String, textCol: String,
                                      sep: String): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val perDoc = drops
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("pos"))).as("__dp"))
    docs.join(perDoc, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__dp").isNull, col(textCol))
          .otherwise(concat_ws(sep,
            filter(split(col(textCol), sepRe, -1),
              (_, i) => !array_contains(col("__dp"), i + 1)))))
      .drop("__dp")
  }

  // ------------------------------------------------------------- properties

  test("repetitionReport kernel ≡ the keyed-census formulation, byte for byte") {
    forAll(corpusGen) { texts =>
      val docs = corpus(texts).cache()
      try Seq((2, 3), (1, 2), (3, 1)).foreach { case (topN, dupN) =>
        assertSame(Quality.repetitionReport(docs, "doc_id", "text", topN, dupN),
          repetitionReportOracle(docs, "doc_id", "text", topN, dupN))
      } finally docs.unpersist(): Unit
    }
  }

  test("removeRepeatedLines kernel ≡ the (id, hash)-census formulation, byte for byte") {
    forAll(corpusGen) { texts =>
      val docs = corpus(texts).cache()
      try Seq("\n", "\r\n").foreach { sep =>
        assertSame(Dedup.removeRepeatedLines(docs, "doc_id", "text", sep),
          removeRepeatedLinesOracle(docs, "doc_id", "text", sep))
      } finally docs.unpersist(): Unit
    }
  }

  test("the generators reach the cases the kernels must get right") {
    val texts = (0 until 4).flatMap(i =>
      corpusGen.apply(Gen.Parameters.default, Seed(1301L + i)).get)
    val nonNull = texts.filter(_ != null)
    assert(texts.contains(null) && nonNull.contains(""))
    assert(nonNull.exists(t => t.endsWith("\n") && t.length > 1))
    assert(nonNull.exists(_.contains("\r\n")) && nonNull.exists(_.contains("\t")))
    assert(nonNull.exists(_.codePoints().anyMatch(Character.isSupplementaryCodePoint)))
    assert(nonNull.exists(_.contains("ｱ")))
    // a doc repeating a line, and one whose repeat differs only in case
    def lines(t: String) = t.split("\r?\n", -1).toSeq
    assert(nonNull.exists(t => lines(t).diff(lines(t).distinct).exists(_.trim.nonEmpty)))
    assert(nonNull.exists { t =>
      val ls = lines(t).filter(_.exists(_.isLetter))
      ls.distinct.size > ls.map(_.toLowerCase).distinct.size
    })
  }
}
