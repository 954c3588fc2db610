package graft

import java.util.regex.Pattern

import graft.textnorm.PyText

/** The regex formulation of the reference's text normalization
  * (`mtb_data_loader.py:391-415`, `helpers.py:42-74`), kept as the
  * differential oracle for the hand-written scanners in `graft.textnorm`.
  * Each step is the reference's own pattern, applied in the reference's
  * order with `replaceAll`, so this object is a literal transcription.
  *
  * The URL pattern backtracks exponentially on some inputs (a long run of
  * chars its body admits but its end class excludes, after a prefix), so
  * its matcher reads the text through a char budget and throws
  * [[RegexTextNorm.GaveUp]] once that is spent.
  */
object RegexTextNorm {

  private val specialRe = Pattern.compile("<[A-Z]+/*>")
  private val punctRe = Pattern.compile(
    "[\\*\"\n\\\\…\\+\\-\\/\\=\\(\\)‘•€\\[\\]\\|♫:;—”“~`#]")
  private val repeatRe = Pattern.compile("([\\.\\?,!]){2,}")
  private val capsRe = Pattern.compile("([A-Z]{2,})")

  private val htmlRe = Pattern.compile("<.*?>")
  private val urlRe = Pattern.compile(
    "(?U)((https?:\\/\\/|www\\d{0,3}[.]|[a-z0-9.\\-]+[.][a-z]{2,4}\\/)" +
      "(?:[^\\s()<>]+|\\(([^\\s()<>]+|(\\([^\\s()<>]+\\)))*\\))+" +
      "(?:\\(([^\\s()<>]+|(\\([^\\s()<>]+\\)))*\\)|" +
      "[^\\s`!()\\[\\]{};:'\".,<>?«»“”‘’]))")
  /** Char reads one URL `replaceAll` may make; typical pages need a few
    * thousand. */
  val UrlBudget = 250000L

  final class GaveUp extends RuntimeException("URL regex exceeded its char budget", null, false, false)

  private final class Budgeted(s: String) extends CharSequence {
    private var left = UrlBudget
    def length: Int = s.length
    def charAt(i: Int): Char = {
      left -= 1
      if (left < 0) throw new GaveUp
      s.charAt(i)
    }
    def subSequence(from: Int, to: Int): CharSequence = s.subSequence(from, to)
    override def toString: String = s
  }

  private val multiSpaceRe = Pattern.compile(" +")

  /** `_clean_sent`. */
  def cleanSent(sent: String): Option[String] = {
    if (sent == " " || sent == "\n" || sent == "") return None
    var s = PyText.pyStrip(sent, Set('\n'))
    s = specialRe.matcher(s).replaceAll("")
    s = punctRe.matcher(s).replaceAll(" ")
    s = PyText.pySplit(s).mkString(" ")
    s = PyText.pyStrip(s)
    s = repeatRe.matcher(s).replaceAll("$1")
    s = capitalizeAllCaps(s)
    Some(s)
  }

  /** Every run of >= 2 uppercase ASCII letters through str.capitalize(). */
  private def capitalizeAllCaps(s: String): String = {
    val m = capsRe.matcher(s)
    if (!m.find()) return s
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    do {
      sb.append(s, last, m.start())
      sb.append(PyText.pyCapitalize(m.group(1)))
      last = m.end()
    } while (m.find())
    sb.append(s, last, s.length)
    sb.toString
  }

  /** `_process_textlines`. */
  def processTextlines(lines: Seq[String]): String = {
    val cleaned = lines.iterator.map(cleanSent).collect { case Some(s) => s }
    cleaned.mkString(" ").replaceAll(" {2,}", " ")
  }

  /** `Normalizer.normalize`. */
  def normalize(text: String, methods: Seq[String] = Seq("lowercase", "html", "urls")): String = {
    var t = text
    methods.foreach {
      case "lowercase" => t = PyText.pyLower(t)
      case "html"      => t = htmlRe.matcher(t).replaceAll("")
      case "urls"      => t = urlRe.matcher(new Budgeted(t)).replaceAll("")
      case m           => throw new IllegalArgumentException(s"unknown method $m")
    }
    t = multiSpaceRe.matcher(t).replaceAll(" ")
    PyText.pyStrip(t)
  }

  /** Per-document text_norm: `_process_textlines([doc])` then normalize. */
  def textNorm(doc: String): String = normalize(processTextlines(Seq(doc)))
}
