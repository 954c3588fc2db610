package graft.statements

import graft.schema.{AnnotatedDoc, Span}

/** Entity-pair windowing — exact port of the reference's relation-statement
  * generation (`mtb_data_loader.py:446-453` product, `:563-602`
  * _resolve_entities, `:604-633` sentence-bound scans, window_size=40).
  *
  * This is a row-local theta self-join over the mention list (a band
  * predicate on token positions) executed as an array comprehension inside
  * flatMap — no shuffle; the cross product never leaves the document row.
  */
object Windowing {

  final case class StatementRow(
      url: String,
      docOrd: Long,
      pairOrd: Int,
      tokens: Seq[String],
      e1s: Int,
      e1e: Int,
      e2s: Int,
      e2e: Int,
      e1: String,
      e2: String)

  /** `re.search("[\d+]", text)` — any digit OR a literal '+'
    * (the reference's char class includes the plus sign). */
  private def hasDigitOrPlus(s: String): Boolean =
    s.exists(c => Character.isDigit(c) || c == '+')

  /** `_find_sent_start` (`mtb_data_loader.py:604-617`) — replicated branch
    * for branch including its start<=1 edge behavior. */
  def findSentStart(isPunct: Int => Boolean, e1start: Int): Int = {
    var start = e1start - 1
    if (start > 0) {
      var punct = false
      var break = false
      while (!punct && !break) {
        punct = isPunct(start)
        start -= 1
        if (start < 0) break = true
      }
      if (start > 0) start + 2 else 0
    } else 0
  }

  /** `_find_sent_end` (`mtb_data_loader.py:619-633`). Exclusive end. */
  def findSentEnd(isSentEnd: Int => Boolean, e2end: Int, len: Int): Int = {
    var start = e2end
    if (start < len) {
      var sentEnd = false
      var break = false
      while (!sentEnd && !break) {
        sentEnd = isSentEnd(start)
        start += 1
        if (start == len) break = true
      }
      if (start < len) start else len
    } else len
  }

  /** One pair window in document coordinates: the tokens `[from, until)`,
    * the two inclusive entity spans and the two entity surfaces. */
  final case class Window(from: Int, until: Int, e1: Span, e2: Span, t1: String, t2: String) {
    def tokens(doc: AnnotatedDoc): Seq[String] = doc.tokens.slice(from, until)
    def localE1: Span = Span(e1.start - from, e1.end - from)
    def localE2: Span = Span(e2.start - from, e2.end - from)
  }

  /** `_resolve_entities` for one ordered mention pair. Spans inclusive. */
  def resolve(doc: AnnotatedDoc, i1: Int, i2: Int, windowSize: Int): Option[Window] = {
    if (i1 == i2) return None
    val m1 = doc.mentions(i1)
    val m2 = doc.mentions(i2)
    if (hasDigitOrPlus(m1.text) || hasDigitOrPlus(m2.text)) return None
    val e1start = m1.start
    val e1end = m1.end // inclusive (merged mention => == start)
    val e2start = m2.start
    val e2end = m2.end
    val gap = e2start - e1end
    if (gap < 1 || gap > windowSize) return None
    val len = doc.tokens.length
    val rStart = findSentStart(doc.isPunct, e1start)
    val rEnd = findSentEnd(doc.isSentEnd, e2end, len)
    if (rEnd - rStart > windowSize) return None
    // reference raises ValueError on empty entities/spans; our engine drops
    // the row (counted upstream) — fixtures never trigger it
    if (m1.text.isEmpty || m2.text.isEmpty || (rStart until rEnd).forall(doc.tokens(_).isEmpty))
      return None
    Some(Window(rStart, rEnd, Span(e1start, e1end), Span(e2start, e2end), m1.text, m2.text))
  }

  /** Every pair window of one document, in pair order: the ordered product
    * of the deduped mentions (directed edges of the mention graph). A
    * window's index is its statement's `pairOrd`. */
  def windows(doc: AnnotatedDoc, windowSize: Int = 40): IndexedSeq[Window] = {
    val out = IndexedSeq.newBuilder[Window]
    val n = doc.mentions.length
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        resolve(doc, i, j, windowSize).foreach(out += _)
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** All relation statements of one document: [[windows]] sliced to their
    * tokens, with window-local spans. */
  def statements(doc: AnnotatedDoc, docOrd: Long, windowSize: Int = 40): Seq[StatementRow] = {
    val ws = windows(doc, windowSize)
    ws.indices.map { pairOrd =>
      val w = ws(pairOrd)
      val s1 = w.localE1
      val s2 = w.localE2
      StatementRow(doc.url, docOrd, pairOrd, w.tokens(doc), s1.start, s1.end, s2.start, s2.end, w.t1, w.t2)
    }
  }
}
