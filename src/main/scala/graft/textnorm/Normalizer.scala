package graft.textnorm

/** Text normalizer — byte-identical Scala re-expression of the reference's
  * `helpers.py:12-74` (Normalizer): ordered method list
  * (lowercase → strip html tags → strip URLs), then collapse multiple spaces
  * and strip. This is THE `text → text_norm` per-url byte-identity invariant
  * from BASELINE.json.
  *
  * The steps are character scanners; why each one is exact:
  *   - html, `<.*?>` → "": Java's `.` matches any char except the line
  *     terminators '\n', '\r', '\u0085', '\u2028' and '\u2029', and the
  *     lazy quantifier stops at the first `>`. So a match starts at a `<`
  *     and ends at the first `>` after it, unless a terminator comes first.
  *     Then no `<` before that terminator can match either, and the scan
  *     resumes after it. (Python's `.` excludes only '\n', so on a tag
  *     that spans one of the other four the engine has always differed
  *     from the reference; the scanner keeps the engine's behaviour. In
  *     `text_norm` the four never get here: `_clean_sent` makes them
  *     spaces.)
  *   - urls, the pattern of `helpers.py:67-74` (_remove_urls) in Java
  *     syntax with (?U), so `\s` is Unicode White_Space and `\d` any
  *     Unicode digit:
  *     {{{
  *     (https?://|www\d{0,3}[.]|[a-z0-9.\-]+[.][a-z]{2,4}/)  prefix
  *     (?:N+|G)+                                       body
  *     (?:G|[^\s`!()\[\]{};:'".,<>?«»“”‘’])             end
  *     }}}
  *     with N = `[^\s()<>]` and G = `\((N+|\(N+\))*\)`. Each prefix
  *     alternative has at most one extent: `s?` and `\d{0,3}` cannot give
  *     a char back and still match, and the third alternative must end at
  *     the first char past its `[a-z0-9.\-]` run. A group's extent is
  *     unique too, since N excludes both parentheses. The body is a
  *     sequence of N chars and groups, so it may stop after any of them;
  *     the greedy loop tries the longest body first and gives back one
  *     element at a time, so the match ends after the LAST end-element
  *     (a group or an end-class char) that does not start the body. The
  *     scanner finds that element in one pass. The regex reaches the same
  *     answer by backtracking, and without it, which is exponential in the
  *     length of a run of N chars that the end class excludes (e.g. "www."
  *     followed by many `'`); the scanner is linear there. A match can
  *     start only where an alternative's first char is; without a `/` —
  *     always the case after `_clean_sent`, whose punctuation class holds
  *     `/` — only `www` can, so the scan jumps between "www" occurrences.
  *   - `" +"` → " " then strip: a space run never straddles the boundary
  *     between the stripped ends and the kept middle, so stripping first
  *     and collapsing inside the kept range gives the same text.
  *
  * The regex chain these scanners replace is kept in the tests as their
  * differential oracle.
  */
object Normalizer {

  final val DefaultMethods: Seq[String] = Seq("lowercase", "html", "urls")

  /** Reference `helpers.py:42-56` Normalizer.normalize. */
  def normalize(text: String, methods: Seq[String] = DefaultMethods): String = {
    var t = text
    methods.foreach {
      case "lowercase" => t = PyText.pyLower(t)
      case "html"      => t = removeHtml(t)
      case "urls"      => t = removeUrls(t)
      case m           => throw new IllegalArgumentException(s"unknown method $m")
    }
    collapseSpacesAndStrip(t)
  }

  private def isLineTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** `re.sub("<.*?>", "", t)` with Java's `.`. */
  private def removeHtml(t: String): String = {
    var lt = t.indexOf('<')
    if (lt < 0) return t
    val n = t.length
    val out = new java.lang.StringBuilder(n)
    var from = 0 // start of the text not yet copied
    while (lt >= 0) {
      var j = lt + 1
      while (j < n && t.charAt(j) != '>' && !isLineTerminator(t.charAt(j))) j += 1
      if (j < n && t.charAt(j) == '>') {
        out.append(t, from, lt)
        from = j + 1
        lt = t.indexOf('<', from)
      } else {
        lt = if (j < n) t.indexOf('<', j + 1) else -1
      }
    }
    out.append(t, from, n).toString
  }

  /** `re.sub(UrlPattern, "", t)`. */
  private def removeUrls(t: String): String = {
    val anyStart = t.indexOf('/') >= 0 // else only "www" can start a URL
    def nextStart(i: Int): Int = if (anyStart) i else t.indexOf("www", i)
    var s = nextStart(0)
    if (s < 0) return t
    val scan = new UrlScan(t)
    val out = new java.lang.StringBuilder(t.length)
    var from = 0 // start of the text not yet copied
    while (s >= 0 && s < t.length) {
      val end = scan.matchEnd(s)
      if (end >= 0) {
        out.append(t, from, s)
        from = end
        s = nextStart(end)
      } else {
        s = nextStart(s + 1)
      }
    }
    out.append(t, from, t.length).toString
  }

  /** `re.sub(" +", " ", t)` then CPython `str.strip()`. */
  private def collapseSpacesAndStrip(t: String): String = {
    var i = 0
    var j = t.length
    while (i < j && PyText.isPySpace(t.charAt(i))) i += 1
    while (j > i && PyText.isPySpace(t.charAt(j - 1))) j -= 1
    val dbl = t.indexOf("  ", i)
    if (dbl < 0 || dbl >= j) return t.substring(i, j)
    val out = new java.lang.StringBuilder(j - i)
    var k = i
    while (k < j) {
      val c = t.charAt(k)
      if (c != ' ' || t.charAt(k - 1) != ' ') out.append(c)
      k += 1
    }
    out.toString
  }
}

/** The URL pattern's matcher over one text (see [[Normalizer]]). Start
  * positions must be tried in increasing order: the `[a-z0-9.\-]` run
  * and the body after it are cached per run. */
private final class UrlScan(t: String) {
  private val n = t.length

  /** `(?U)\s`: Java's White_Space predicate. */
  private def isSpace(cp: Int): Boolean =
    ((((1 << Character.SPACE_SEPARATOR) | (1 << Character.LINE_SEPARATOR) |
      (1 << Character.PARAGRAPH_SEPARATOR)) >> Character.getType(cp)) & 1) != 0 ||
      (cp >= 0x9 && cp <= 0xd) || cp == 0x85

  /** N = `[^\s()<>]`. */
  private def isBody(cp: Int): Boolean =
    cp != '(' && cp != ')' && cp != '<' && cp != '>' && !isSpace(cp)

  /** The end class `[^\s`!()\[\]{};:'".,<>?«»“”‘’]`. */
  private def isEnd(cp: Int): Boolean =
    "`!()[]{};:'\".,<>?«»“”‘’".indexOf(cp) < 0 && !isSpace(cp)

  private def isDomain(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '.' || c == '-'

  /** End of the group G = `\((N+|\(N+\))*\)` at `i`, or -1. */
  private def groupEnd(i: Int): Int = {
    var j = i + 1
    while (j < n) {
      val cp = t.codePointAt(j)
      if (cp == ')') return j + 1
      if (cp == '(') {
        var k = j + 1
        while (k < n && isBody(t.codePointAt(k))) k += Character.charCount(t.codePointAt(k))
        if (k == j + 1 || k >= n || t.charAt(k) != ')') return -1
        j = k + 1
      } else if (isBody(cp)) j += Character.charCount(cp)
      else return -1
    }
    -1
  }

  /** End of body + end from `p`: the end of the last group or end-class
    * char after the body's first element, or -1 if there is none. */
  private def bodyEnd(p: Int): Int = {
    var end = -1
    var j = p
    while (j < n) {
      val cp = t.codePointAt(j)
      val next =
        if (cp == '(') groupEnd(j)
        else if (isBody(cp)) j + Character.charCount(cp)
        else -1
      if (next < 0) return end
      if (j > p && (cp == '(' || isEnd(cp))) end = next
      j = next
    }
    end
  }

  // the `[a-z0-9.\-]` run holding the last start tried: its end, the
  // last '.' that a valid `[.][a-z]{2,4}/` tail can start at, and the
  // body end after that '/' (-1 where absent)
  private var runEnd = -1
  private var lastDot = -1
  private var runBodyEnd = -1

  private def enterRun(s: Int): Unit = {
    var e = s
    while (e < n && isDomain(t.charAt(e))) e += 1
    runEnd = e
    lastDot = -1
    if (e < n && t.charAt(e) == '/') {
      var x = e - 3
      while (x >= e - 5 && lastDot < 0) {
        if (x >= s && t.charAt(x) == '.' &&
            (x + 1 until e).forall(i => t.charAt(i) >= 'a' && t.charAt(i) <= 'z'))
          lastDot = x
        x -= 1
      }
    }
    runBodyEnd = if (lastDot >= 0) bodyEnd(e + 1) else -1
  }

  /** End of the URL match starting at `s`, or -1: the three alternatives
    * in the pattern's order, each with its single prefix extent. */
  def matchEnd(s: Int): Int = {
    if (t.startsWith("http", s)) {
      val p =
        if (t.startsWith("s://", s + 4)) s + 8
        else if (t.startsWith("://", s + 4)) s + 7
        else -1
      val e = if (p >= 0) bodyEnd(p) else -1
      if (e >= 0) return e
    }
    if (t.startsWith("www", s)) {
      var p = s + 3
      var digits = 0
      while (digits < 3 && p < n && Character.isDigit(t.codePointAt(p))) {
        p += Character.charCount(t.codePointAt(p))
        digits += 1
      }
      val e = if (p < n && t.charAt(p) == '.') bodyEnd(p + 1) else -1
      if (e >= 0) return e
    }
    if (!isDomain(t.charAt(s))) return -1
    if (s >= runEnd) enterRun(s)
    if (lastDot > s) runBodyEnd else -1
  }
}
