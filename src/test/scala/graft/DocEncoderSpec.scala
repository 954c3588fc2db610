package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.annotate.{Annotator, Gazetteer}
import graft.fixtures.{Corpus, FixtureVocab}
import graft.schema.{AnnotatedDoc, Span}
import graft.statements.{Markers, Windowing}
import graft.textnorm.ExprFns
import graft.tokenize.{BertTokenizer, BertVocab, Vocab}
import graft.triples.TriplePipeline

/** Differential test of the per-document encoder against the reference
  * shape (`mtb_data_loader.py:319-335`, `:222-242`): tokenize the joined
  * marker-bearing window, then take the first `indexOf` of each marker. */
class DocEncoderSpec extends AnyFunSuite {

  private val tok = Vocab.fixtureTokenizer
  private lazy val gaz = new Gazetteer(FixtureVocab.AllEntities)

  /** The reference: one tokenize call over the joined string. */
  private def reference(
      tok: BertTokenizer,
      tokens: Seq[String],
      e1: Span,
      e2: Span): Option[(Seq[Int], Span, Span)] = {
    val pieces = tok.tokenize(Markers.addSpecialTokens(tokens, e1, e2).mkString(" "))
    val Seq(e1s, e1e, e2s, e2e) =
      Seq(BertVocab.E1, BertVocab.E1End, BertVocab.E2, BertVocab.E2End).map(pieces.indexOf(_))
    if (e1s < 0 || e1e < 0 || e2s < 0 || e2e < 0) None
    else Some((tok.convertTokensToIds(pieces), Span(e1s + 1, e1e - 1), Span(e2s + 1, e2e - 1)))
  }

  private def flat(e: Option[Markers.Encoded]): Option[(Seq[Int], Span, Span)] =
    e.map(x => (x.tokenIds.toSeq, x.e1Span, x.e2Span))

  /** Checks one window three ways: the one-window `encodeCached`, and the
    * same window inside a longer document, with and without a memo. */
  private def check(tokens: Seq[String], e1: Span, e2: Span): Option[(Seq[Int], Span, Span)] = {
    val want = reference(tok, tokens, e1, e2)
    val cache = new java.util.HashMap[String, Markers.TokPieces]()
    assert(flat(Markers.encodeCached(tok, cache)(tokens, e1, e2)) == want, s"$tokens $e1 $e2")
    val (pre, post) = (Seq("[E1]", "the", "x[/E2]"), Seq("[E2]", "mat"))
    val doc = pre ++ tokens ++ post
    val (a, b) = (pre.length, pre.length + tokens.length)
    def shift(s: Span) = Span(s.start + a, s.end + a)
    Seq(cache, null).foreach { c =>
      val got = new Markers.DocEncoder(tok, c, doc).encode(a, b, shift(e1), shift(e2))
      assert(flat(got) == want, s"window [$a, $b) of $doc, $e1 $e2")
    }
    want
  }

  test("a word whose pieces equal a marker string, before and after the entity") {
    val before = check(Seq("pre[E1]post", "cat", "sat", "mat"), Span(1, 1), Span(3, 3))
    // the document's [E1] comes first, so e1 starts inside "pre[E1]post",
    // ahead of the inserted [E1]
    assert(before.exists { case (ids, s1, _) => ids.lastIndexOf(tok.e1Id) > s1.start })
    assert(check(Seq("cat", "sat", "mat", "x[/E2]y"), Span(0, 0), Span(2, 2)).nonEmpty)
    assert(check(Seq("a[/E1]", "cat", "mat"), Span(1, 1), Span(2, 2)).nonEmpty)
    assert(check(Seq("[E2][/E2][E1][/E1]", "cat", "mat"), Span(1, 1), Span(2, 2)).nonEmpty)
    // a marker in the text keeps a window whose own marker is out of range
    assert(check(Seq("[E1]", "cat", "mat"), Span(7, 0), Span(2, 2)).nonEmpty)
  }

  test("merged multi-word mentions and multi-token spans") {
    val toks = Seq("the", "acme corp", "bought", "big blue widgets", ".")
    assert(check(toks, Span(1, 1), Span(3, 3)).nonEmpty)
    assert(check(toks, Span(1, 2), Span(3, 4)).nonEmpty)
    assert(check(toks, Span(0, 3), Span(1, 2)).nonEmpty)
  }

  test("adjacent entities, either order, and e1.start == e2.start") {
    val toks = Seq("the", "cat", "mat", "sat", ".")
    assert(check(toks, Span(1, 1), Span(2, 2)).nonEmpty)
    assert(check(toks, Span(3, 3), Span(1, 1)).nonEmpty)
    assert(check(toks, Span(1, 1), Span(1, 1)).nonEmpty)
    assert(check(toks, Span(1, 2), Span(1, 3)).nonEmpty)
    assert(check(toks, Span(2, 1), Span(0, 0)).nonEmpty) // end before start
  }

  test("spans out of range give None") {
    val toks = Seq("the", "cat", "mat")
    assert(check(toks, Span(-1, -1), Span(1, 1)).isEmpty)
    assert(check(toks, Span(0, 0), Span(3, 3)).isEmpty)
    assert(check(toks, Span(0, 9), Span(1, 1)).isEmpty)
    assert(check(Seq.empty, Span(0, 0), Span(0, 0)).isEmpty)
  }

  test("empty tokens") {
    assert(check(Seq("", "cat", "", "mat", ""), Span(1, 1), Span(3, 3)).nonEmpty)
    assert(check(Seq("", "cat", "", "mat", ""), Span(0, 0), Span(4, 4)).nonEmpty)
    assert(check(Seq("", ""), Span(0, 0), Span(1, 1)).nonEmpty)
  }

  test("every window of 20k corpus pages encodes like the reference; windows slice to statements") {
    val cfgs = Seq(
      TriplePipeline.Config(),
      TriplePipeline.Config(svoMentions = true, npMentions = true))
    val cache = new java.util.HashMap[String, Markers.TokPieces](4096)
    var windows = 0L
    var multiToken = 0L
    var dropped = 0L
    (0L until 20000L).foreach { id =>
      val p = Corpus.page(id)
      val norm = ExprFns.textNorm(ExprFns.assembleArticle(UTF8String.fromString(p.text))).toString
      val doc: AnnotatedDoc =
        TriplePipeline.filterMentions(Annotator.annotate(p.url, norm, gaz), cfgs((id % 2).toInt))
      val ws = Windowing.windows(doc)
      val enc = new Markers.DocEncoder(tok, cache, doc.tokens)
      ws.foreach { w =>
        val got = flat(enc.encode(w.from, w.until, w.e1, w.e2))
        val want = reference(tok, w.tokens(doc), w.localE1, w.localE2)
        assert(got == want, s"page $id window $w")
        windows += 1
        if (w.e1.end > w.e1.start || w.e2.end > w.e2.start) multiToken += 1
        if (want.isEmpty) dropped += 1
      }
      val sliced = ws.zipWithIndex.map { case (w, pairOrd) =>
        Windowing.StatementRow(
          doc.url, id, pairOrd, w.tokens(doc),
          w.localE1.start, w.localE1.end, w.localE2.start, w.localE2.end, w.t1, w.t2)
      }
      assert(Windowing.statements(doc, id) == sliced, s"page $id")
    }
    assert(windows > 300000L, s"only $windows windows")
    assert(multiToken > 0L, "no multi-token span was exercised")
    info(s"$windows windows, $multiToken with a multi-token span, $dropped dropped")
  }
}
