package graft

import java.util.stream.IntStream

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Corpus
import graft.statements.SplitmixRng
import graft.textnorm.{ArticleAssembly, CleanSent, ExprFns, Normalizer}
import org.apache.spark.unsafe.types.UTF8String

/** Differential test: the hand-written scanners in `graft.textnorm` against
  * the reference's regex chain ([[RegexTextNorm]]) on the goldens, on
  * generated corpus pages and on seeded fuzz strings built from the
  * characters and fragments each regex step treats specially. Zero
  * mismatches are allowed. */
class TextNormScannerSpec extends AnyFunSuite {

  private final val Agree = 0
  private final val Differ = 1
  private final val GaveUp = 2 // the oracle's URL regex ran out of budget

  /** Verdict per id in `0 until n`, run on all cores. */
  private def verdicts(n: Int)(verdict: Int => Int): Array[Int] =
    IntStream.range(0, n).parallel().map(i => verdict(i)).toArray

  private def ids(vs: Array[Int], v: Int): Seq[Int] = vs.indices.filter(vs(_) == v)

  private def show(s: String): String =
    s.flatMap(c => if (c >= ' ' && c < 0x7f) c.toString else f"\\u${c.toInt}%04x")

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** `ExprFns.textNorm` and its oracle, both through the UTF-8 round trip
    * (which turns a lone surrogate into '?'). */
  private def textNorm(s: String): String = ExprFns.textNorm(utf8(s)).toString
  private def oracleTextNorm(s: String): String =
    utf8(RegexTextNorm.textNorm(utf8(s).toString)).toString

  /** Every function of the scanner surface against the regex chain on `s`.
    * The scanners always run to the end; GaveUp means the regex did not,
    * after the parts without the URL step agreed. */
  private def verdict(s: String): Int = {
    val cleanOk = CleanSent.cleanSent(s) == RegexTextNorm.cleanSent(s)
    val norm = Normalizer.normalize(s)
    val text = textNorm(s)
    try {
      if (cleanOk && norm == RegexTextNorm.normalize(s) && text == oracleTextNorm(s)) Agree
      else Differ
    } catch { case _: RegexTextNorm.GaveUp => if (cleanOk) GaveUp else Differ }
  }

  private def agrees(s: String): Boolean = verdict(s) == Agree

  private def oracle(f: => String): String =
    try f catch { case _: RegexTextNorm.GaveUp => "<regex gave up>" }

  private def mismatchReport(inputs: Seq[String]): String =
    inputs.take(5).map { s =>
      s"input=${show(s)}\n  clean ${CleanSent.cleanSent(s).map(show)} vs ${RegexTextNorm.cleanSent(s).map(show)}" +
        s"\n  norm  ${show(Normalizer.normalize(s))} vs ${oracle(show(RegexTextNorm.normalize(s)))}" +
        s"\n  text  ${show(textNorm(s))} vs ${oracle(show(oracleTextNorm(s)))}"
    }.mkString("\n")

  test("scanners equal the regex chain on the 64 goldens") {
    val goldens = GoldenUtil.lines("text_norm.golden.jsonl")
    assert(goldens.size == 64)
    val inputs = goldens.flatMap(g => Seq("article", "clean", "norm").map(GoldenUtil.str(g, _)))
    val bad = inputs.filterNot(agrees)
    assert(bad.size == 0, mismatchReport(bad))
    goldens.foreach { g =>
      val article = GoldenUtil.str(g, "article")
      assert(CleanSent.processTextlines(Seq(article)) == RegexTextNorm.processTextlines(Seq(article)))
    }
  }

  test("scanners equal the regex chain on 100k generated corpus pages") {
    // half low ids, half ids above 2^30
    def id(i: Int): Long = if (i % 2 == 0) i.toLong else (1L << 30) + i
    def ok(i: Int): Boolean = {
      val raw = Corpus.rawText(id(i))
      val article = ArticleAssembly.assembleArticle(raw.split("\n", -1).toSeq)
      // the pipeline's path, plus the raw page through each step alone
      textNorm(article) == oracleTextNorm(article) &&
        CleanSent.cleanSent(raw) == RegexTextNorm.cleanSent(raw) &&
        Normalizer.normalize(raw) == RegexTextNorm.normalize(raw)
    }
    val bad = ids(verdicts(100000)(i => if (ok(i)) Agree else Differ), Differ)
    assert(bad.isEmpty, mismatchReport(bad.map(i => Corpus.rawText(id(i)))))
  }

  /** Fragments that steer each regex step: URL starts with and without a
    * `/`, tags and special tokens, ALL-CAPS runs, non-ASCII capitals and
    * case-mapping specials, Java line terminators and Python-only
    * whitespace, every punctuation-class char, `.?,!` runs, parentheses,
    * digits, and a surrogate pair and a lone surrogate. */
  private val Fragments: IndexedSeq[String] = (Seq(
    "/", "//", "www", "wwww.", "www.", "www1.", "www123.", "www1234.", "http://", "https://",
    "ex.com/", "a.bc/", ".com", "example", "co", "<", ">", "<>", "<FIL/>", "<S>", "<AB//>",
    "<A/", "<b>", "</b>", "<Ab>", "ABC", "NASA", "A", "B", "É", "ÀB", "Σ", "İ", "ß", "ǅ",
    "\r", "\r\n", "\u0085", "\u00a0", "\u2028", "\u2029", "\u001c", "\u001f", "\t", "\u000b",
    "\u3000", "\u1680", "\u180e", "\u200b", "\u202f", "\n", " ", "  ", ".", "?", ",", "!", "..", "!?", ".,!", "(", ")", "((", "))",
    "{", "}", "'", "«", "»", "@", "a", "b", "x", "z", "0", "7", "42", "٣",
    "😀", "\ud800") ++
    "*\"\\…+-=‘•€[]|♫:;—”“~`#".map(_.toString)).toIndexedSeq

  private def fuzz(seed: Long, i: Int): String = {
    val rng = new SplitmixRng(seed * 0x9e3779b97f4a7c15L + i)
    val len = (rng.nextLong() >>> 59).toInt // 0..31 fragments
    val sb = new StringBuilder
    var k = 0
    while (k < len) {
      sb.append(Fragments(((rng.nextLong() >>> 1) % Fragments.size).toInt))
      k += 1
    }
    sb.toString
  }

  test("scanners equal the regex chain on 100k seeded fuzz strings") {
    val vs = verdicts(100000)(i => verdict(fuzz(11L, i)))
    val bad = ids(vs, Differ)
    assert(bad.isEmpty, mismatchReport(bad.map(fuzz(11L, _))))
    val gaveUp = ids(vs, GaveUp).size
    info(s"${vs.length - gaveUp} compared in full, $gaveUp past the URL regex's budget")
    assert(gaveUp < vs.length / 100)
  }

  test("multi-line _process_textlines and reordered normalize methods agree on fuzz") {
    val methodLists = Seq(
      Seq("html", "urls"), Seq("urls", "html", "lowercase"), Seq("urls"), Seq.empty[String],
      Seq("lowercase", "lowercase", "html", "html"))
    def v(i: Int): Int = {
      val lines = (0 until 1 + i % 4).map(k => fuzz(23L + k, i))
      if (CleanSent.processTextlines(lines) != RegexTextNorm.processTextlines(lines)) Differ
      else methodLists.map { m =>
        val got = Normalizer.normalize(lines.head, m)
        try if (got == RegexTextNorm.normalize(lines.head, m)) Agree else Differ
        catch { case _: RegexTextNorm.GaveUp => GaveUp }
      }.max
    }
    val vs = verdicts(30000)(v)
    val bad = ids(vs, Differ)
    assert(bad.isEmpty, mismatchReport(bad.map(fuzz(23L, _))))
    assert(ids(vs, GaveUp).size < vs.length / 100)
  }

  test("the URL scanner stays linear where the regex backtracks exponentially") {
    val quotes = "'" * 5000
    val stuck = s"see www.$quotes now"
    assert(Normalizer.normalize(stuck) == stuck) // no end-class char: no URL
    assert(Normalizer.normalize(s"see www.$quotes" + "x now") == "see now")
    // an unclosed group ends the body: the URL stops before it
    assert(Normalizer.normalize(s"see http://a.bc/(${"a" * 5000} now") == "see (" + "a" * 5000 + " now")
    assert(Normalizer.normalize(s"a.bc/$quotes") == s"a.bc/$quotes")
    intercept[RegexTextNorm.GaveUp](RegexTextNorm.normalize(stuck))
  }

  test("hand-picked edge cases agree") {
    val cases = Seq(
      "", " ", "\n", "  ", "\n\n", " \n", "<", "<A", "<A>", "x<A>y", "A<B>C", "AB<C>D",
      "<<A>>", "<A<B>>", "a<b\rc>d", "a<b\u2028c>d<e>f", "<a\n<b>", "www", "wwww.x",
      "www.a", "www.a.", "see www.example.com now", "www.x(y)z", "WWW.X.COM", "www..",
      "a.b.com/x", "http://x", "x!!!?y", "..", "a , , b", "HELLO<FIL/>WORLD",
      "\u00a0a\u00a0", "\u001c", "a\u001cb", "ẞIG", "\ud800<A>")
    val bad = cases.filterNot(agrees)
    assert(bad.size == 0, mismatchReport(bad))
  }
}
