package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Boilerplate removal — the jusText-shaped block classifier between
  * HTML extraction and preClean: navigation bars, footers, cookie
  * banners and link farms are text too, and they survive
  * [[HtmlExtract]] verbatim. This stage walks the SAME single-pass
  * parser ([[HtmlExtract.walkBlocks]]), classifies each text block by
  * three deterministic integer tests, and keeps only the content
  * blocks:
  *
  *   - '''length''': at least `minWords` space-separated words — menu
  *     items and button labels are short;
  *   - '''link density''': characters rendered inside `<a>` anchors
  *     are at most `ldNum/ldDen` of the block (cross-multiplied, so
  *     the boundary is integer-exact) — navigation is link-mass;
  *   - '''stopword density''': at least `swNum/swDen` of the words are
  *     function words ([[TextAnalysis.defaultStopwords]], the same
  *     list quality scoring uses) — prose carries function words,
  *     keyword stuffing and tag clouds don't. Like jusText itself the
  *     test is language-specific; the default list is English.
  *
  * All three thresholds are integer ratios, so the classification is
  * bit-reproducible in any engine — the oracle gate derives the
  * surviving text from fixture arithmetic. Map-only: runs per-row via
  * the codegen scalar [[graft.functions.TextExpressions.html_clean]],
  * no shuffle, no UDF — at 100 TB this stage streams at parse speed
  * like [[HtmlExtract]] (SCALE.md "Round-10 session-3 additions").
  */
object Boilerplate {

  /** Default thresholds: ≥ 5 words, ≤ 30 % link characters,
    * ≥ 20 % stopwords.
    */
  val MinWords = 5
  val LinkNum = 3
  val LinkDen = 10
  val StopNum = 1
  val StopDen = 5

  /** The default stopword set, shared with quality scoring. The
    * classifier is language-specific like jusText itself — pass the
    * target language's function words ([[LanguageProfiles]] ships 12
    * sets) through [[clean]]'s `stopwords` param for non-English
    * corpora; the set rides into codegen as a plan reference object.
    */
  private[graft] val DefaultStopwords: java.util.HashSet[String] =
    toSet(TextAnalysis.defaultStopwords)

  private[graft] def toSet(words: Seq[String]): java.util.HashSet[String] = {
    require(words.nonEmpty, "boilerplate stopword set must be non-empty")
    val s = new java.util.HashSet[String]()
    words.foreach(w => s.add(w.toLowerCase(java.util.Locale.ROOT)))
    s
  }

  /** Word + stopword counts of one block (single-space separated —
    * [[HtmlExtract.walkBlocks]] emits collapsed whitespace). Stopword
    * matching is exact on the lowercased token; punctuation-adjacent
    * tokens ("the,") don't match, which only lowers the density a
    * ratio test absorbs.
    */
  private def wordStats(text: String,
                        stopwords: java.util.HashSet[String]): (Int, Int) = {
    var words = 0
    var stops = 0
    var i = 0
    val n = text.length
    while (i < n) {
      var j = i
      while (j < n && text.charAt(j) != ' ' && text.charAt(j) != '\n') j += 1
      if (j > i) {
        words += 1
        if (stopwords.contains(text.substring(i, j).toLowerCase(java.util.Locale.ROOT))) stops += 1
      }
      i = j + 1
    }
    (words, stops)
  }

  /** The block classification (exposed for specs and [[blockTable]]). */
  private[graft] def isGoodBlock(text: String, linkChars: Int, minWords: Int,
                                 ldNum: Int, ldDen: Int, swNum: Int, swDen: Int,
                                 stopwords: java.util.HashSet[String] = DefaultStopwords): Boolean = {
    val (words, stops) = wordStats(text, stopwords)
    words >= minWords &&
      linkChars.toLong * ldDen <= text.length.toLong * ldNum &&
      stops.toLong * swDen >= words.toLong * swNum
  }

  /** HTML → content text: parse, classify, keep the good blocks joined
    * with single newlines (same block separator as
    * [[HtmlExtract.extractTextString]], so [[TextAnalysis.dedupParagraphs]]
    * composes). A page with NO content blocks yields the empty string —
    * downstream length/quality gates drop it. Null in → null out.
    * Static — the codegen scalar invokes it directly.
    */
  def cleanHtmlString(html: String, minWords: Int, ldNum: Int, ldDen: Int,
                      swNum: Int, swDen: Int): String =
    cleanHtmlString(html, minWords, ldNum, ldDen, swNum, swDen, DefaultStopwords)

  /** [[cleanHtmlString]] with an explicit stopword set (the
    * language-parameterized flavor the codegen scalar invokes).
    */
  def cleanHtmlString(html: String, minWords: Int, ldNum: Int, ldDen: Int,
                      swNum: Int, swDen: Int,
                      stopwords: java.util.HashSet[String]): String = {
    if (html == null) return null
    val out = new java.lang.StringBuilder(math.min(html.length, 1 << 16))
    HtmlExtract.walkBlocks(html, (text, linkChars) => {
      if (isGoodBlock(text, linkChars, minWords, ldNum, ldDen, swNum, swDen, stopwords)) {
        if (out.length > 0) out.append('\n')
        out.append(text)
      }
    })
    out.toString
  }

  /** Replace `htmlCol` with the boilerplate-stripped content text
    * (map-only codegen scalar, stays inside WholeStageCodegen).
    * `stopwords` selects the classification language (default English).
    */
  def clean(docs: DataFrame, htmlCol: String = "html", outCol: String = "text",
            minWords: Int = MinWords,
            ldNum: Int = LinkNum, ldDen: Int = LinkDen,
            swNum: Int = StopNum, swDen: Int = StopDen,
            stopwords: Seq[String] = TextAnalysis.defaultStopwords): DataFrame =
    docs.withColumn(outCol,
      graft.functions.TextExpressions.html_clean(
        col(htmlCol), minWords, ldNum, ldDen, swNum, swDen, stopwords))

  final case class BlockRow(id: Long, block_idx: Int, text: String,
                            n_chars: Int, link_chars: Int, n_words: Int,
                            n_stopwords: Int, good: Boolean)

  /** Diagnostic per-block table — every block of every page with its
    * features and verdict, for tuning thresholds on a sample. Not the
    * hot path (row encoder); the production filter is [[clean]].
    */
  def blockTable(docs: DataFrame, idCol: String = "doc_id",
                 htmlCol: String = "html",
                 minWords: Int = MinWords,
                 ldNum: Int = LinkNum, ldDen: Int = LinkDen,
                 swNum: Int = StopNum, swDen: Int = StopDen,
                 stopwords: Seq[String] = TextAnalysis.defaultStopwords): DataFrame = {
    import docs.sparkSession.implicits._
    val stopSet = toSet(stopwords)
    docs.select(col(idCol).cast("long"), col(htmlCol)).as[(Long, String)]
      .flatMap { case (id, html) =>
        val rows = scala.collection.mutable.ArrayBuffer.empty[BlockRow]
        if (html != null) HtmlExtract.walkBlocks(html, (text, linkChars) => {
          val (words, stops) = wordStats(text, stopSet)
          rows += BlockRow(id, rows.length, text, text.length, linkChars,
            words, stops,
            isGoodBlock(text, linkChars, minWords, ldNum, ldDen, swNum, swDen, stopSet))
        })
        rows
      }
      .toDF()
  }
}
