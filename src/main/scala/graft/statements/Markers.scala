package graft.statements

import scala.collection.mutable.ArrayBuffer

import graft.schema.Span
import graft.tokenize.{BertTokenizer, BertVocab}

/** Entity-marker insertion + WordPiece re-encoding + span fixup —
  * exact ports of `mtb_data_loader.py:319-335` (_add_special_tokens) and
  * `:222-242` (marker index recovery; spans point INSIDE the markers). */
object Markers {

  /** `_add_special_tokens`: rebuild the window token list with [CLS],
    * [E1]/[/E1], [E2]/[/E2], [SEP]. Insertion order per the reference:
    * openers before the token (E1 first), closers after it (E1 first). */
  def addSpecialTokens(
      tokens: scala.collection.Seq[String],
      e1: Span,
      e2: Span): scala.collection.Seq[String] = {
    val out = new ArrayBuffer[String](tokens.length + 6)
    out += BertVocab.Cls
    var i = 0
    val n = tokens.length
    while (i < n) {
      if (i == e1.start) out += BertVocab.E1
      if (i == e2.start) out += BertVocab.E2
      out += tokens(i)
      if (i == e1.end) out += BertVocab.E1End
      if (i == e2.end) out += BertVocab.E2End
      i += 1
    }
    out += BertVocab.Sep
    out
  }

  /** Inference-side marker insertion by STRING matching — port of the
    * reference's `annotate_sent` (`src/tasks/infer.py:172-210`), the
    * variant its ad-hoc inference entry point uses. Quirks preserved:
    * only the FIRST token textually equal to the entity (or to its
    * first/last token for multi-token entities) is marked, e1 is tried
    * before e2 for every token, and the assembled string is
    * whitespace-collapsed and stripped at the end. */
  def annotateSent(tokens: Seq[String], e1: Seq[String], e2: Seq[String]): String = {
    val sb = new java.lang.StringBuilder
    var e1start = 0; var e1end = 0
    var e2start = 0; var e2end = 0
    tokens.foreach { t =>
      var consumed = false
      if (e1.length == 1) {
        if (t == e1.head && e1start == 0 && e1end == 0) {
          sb.append(" [E1]").append(t).append("[/E1] ")
          e1start = 1; e1end = 1; consumed = true
        }
      } else {
        if (t == e1.head && e1start == 0) {
          sb.append(" [E1]").append(t).append(" ")
          e1start += 1; consumed = true
        } else if (t == e1.last && e1end == 0) {
          sb.append(t).append("[/E1] ")
          e1end += 1; consumed = true
        }
      }
      if (!consumed) {
        if (e2.length == 1) {
          if (t == e2.head && e2start == 0 && e2end == 0) {
            sb.append(" [E2]").append(t).append("[/E2] ")
            e2start = 1; e2end = 1; consumed = true
          }
        } else {
          if (t == e2.head && e2start == 0) {
            sb.append(" [E2]").append(t).append(" ")
            e2start += 1; consumed = true
          } else if (t == e2.last && e2end == 0) {
            sb.append(t).append("[/E2] ")
            e2end += 1; consumed = true
          }
        }
      }
      if (!consumed) sb.append(" ").append(t).append(" ")
    }
    sb.toString.trim.replaceAll(" +", " ")
  }

  /** tokenIds as a primitive array: the encode→score path materializes one
    * per statement; Seq[Int] would box every id. */
  final case class Encoded(tokenIds: Array[Int], e1Span: Span, e2Span: Span)

  /** Memoized wordpieces + their vocab ids for one surface token — the
    * per-partition cache value. Caching the ID array too means the vocab
    * HashMap is consulted once per DISTINCT token, not once per emitted
    * wordpiece per statement (the tokenize stage re-encodes a near-closed
    * vocabulary; this is the hot allocation path of the wide chain). */
  final case class TokPieces(pieces: Array[String], ids: Array[Int]) {
    /** Some piece equals a marker string (a word such as `pre[E1]post`):
      * the only case in which marker positions must be found by scanning. */
    val hasMarker: Boolean = pieces.exists(isMarker)
  }

  private def isMarker(p: String): Boolean =
    p == BertVocab.E1 || p == BertVocab.E1End || p == BertVocab.E2 || p == BertVocab.E2End

  /** Tokenize the marker-bearing string and relocate spans to wordpiece
    * coordinates, inside the marker pairs: (e1_s+1, e1_e-1). Rows whose
    * markers vanish in tokenization are dropped (the reference counts and
    * drops them via the ValueError path, `mtb_data_loader.py:239-242`). */
  def encode(tokenizer: BertTokenizer)(
      tokens: scala.collection.Seq[String],
      e1: Span,
      e2: Span): Option[Encoded] =
    encodeCached(tokenizer, null)(tokens, e1, e2)

  /** [[encode]] with a per-partition wordpiece memo: the one-window case of
    * [[DocEncoder]], whose scaladoc carries the equivalence argument. */
  def encodeCached(
      tokenizer: BertTokenizer,
      cache: java.util.HashMap[String, TokPieces])(
      tokens: scala.collection.Seq[String],
      e1: Span,
      e2: Span): Option[Encoded] =
    new DocEncoder(tokenizer, cache, tokens).encode(0, tokens.length, e1, e2)

  /** The encoder of every pair window of one document. Each token resolves
    * to its [[TokPieces]] at most once, on first use, through the optional
    * per-partition memo (`cache`, may be null); a window's ids are then
    * array copies of its tokens' ids with the six special ids written
    * between them.
    *
    * Equivalence with the reference (`tokenize(" ".join(addSpecialTokens(
    * window)))` then the first `indexOf` of each marker): BasicTokenizer
    * splits on whitespace and the atomic added tokens contain none, so
    * tokenizing the joined string equals concatenating the tokenization of
    * each element — also for merged mentions such as "acme corp", whose
    * inner space splits them the same way in both. An inserted marker
    * tokenizes to itself, so its position is counted during the copy. A
    * document token whose pieces equal a marker string (`pre[E1]post`) can
    * come first, so such tokens — and only they — have their pieces scanned
    * and the first occurrence wins, exactly `indexOf` semantics. */
  final class DocEncoder(
      tokenizer: BertTokenizer,
      cache: java.util.HashMap[String, TokPieces],
      tokens: scala.collection.Seq[String]) {

    private val toks: scala.collection.IndexedSeq[String] = tokens match {
      case ix: scala.collection.IndexedSeq[String] => ix
      case other => other.toIndexedSeq
    }
    private val resolved = new Array[TokPieces](toks.length)

    private def pieces(i: Int): TokPieces = {
      var tp = resolved(i)
      if (tp == null) {
        val t = toks(i)
        tp = if (cache == null) null else cache.get(t)
        if (tp == null) {
          val pcs = tokenizer.tokenize(t).toArray
          tp = TokPieces(pcs, pcs.map(tokenizer.convertTokenToId))
          if (cache != null) cache.put(t, tp)
        }
        resolved(i) = tp
      }
      tp
    }

    /** The window `tokens[from, until)` with inclusive entity spans in
      * document coordinates: [[encode]] of the sliced window with the spans
      * shifted by `from`. */
    def encode(from: Int, until: Int, e1: Span, e2: Span): Option[Encoded] = {
      var len = 2 // [CLS] ... [SEP]
      var i = from
      while (i < until) {
        len += pieces(i).ids.length
        if (i == e1.start) len += 1
        if (i == e2.start) len += 1
        if (i == e1.end) len += 1
        if (i == e2.end) len += 1
        i += 1
      }
      val ids = new Array[Int](len)
      ids(0) = tokenizer.clsId
      var n = 1
      var e1s = -1; var e1e = -1; var e2s = -1; var e2e = -1
      i = from
      while (i < until) {
        if (i == e1.start) { if (e1s < 0) e1s = n; ids(n) = tokenizer.e1Id; n += 1 }
        if (i == e2.start) { if (e2s < 0) e2s = n; ids(n) = tokenizer.e2Id; n += 1 }
        val tp = pieces(i)
        if (tp.hasMarker) {
          // the four marker strings are pairwise distinct, so at most one
          // branch can match; "first occurrence wins" == indexOf semantics
          var k = 0
          while (k < tp.pieces.length) {
            val p = tp.pieces(k)
            if (e1s < 0 && p == BertVocab.E1) e1s = n + k
            else if (e1e < 0 && p == BertVocab.E1End) e1e = n + k
            else if (e2s < 0 && p == BertVocab.E2) e2s = n + k
            else if (e2e < 0 && p == BertVocab.E2End) e2e = n + k
            k += 1
          }
        }
        System.arraycopy(tp.ids, 0, ids, n, tp.ids.length)
        n += tp.ids.length
        if (i == e1.end) { if (e1e < 0) e1e = n; ids(n) = tokenizer.e1EndId; n += 1 }
        if (i == e2.end) { if (e2e < 0) e2e = n; ids(n) = tokenizer.e2EndId; n += 1 }
        i += 1
      }
      ids(n) = tokenizer.sepId
      if (e1s < 0 || e1e < 0 || e2s < 0 || e2e < 0) None
      else Some(Encoded(ids, Span(e1s + 1, e1e - 1), Span(e2s + 1, e2e - 1)))
    }
  }
}
