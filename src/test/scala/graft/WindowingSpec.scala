package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.{AnnotatedDoc, Mention, Span}
import graft.statements.{Markers, Windowing}
import graft.tokenize.Vocab

/** F4 unit fixtures: window boundaries, digit reject, sentence-bound
  * expansion, marker insertion arithmetic, span fixup after tokenize. */
class WindowingSpec extends AnyFunSuite {

  private def doc(tokens: Seq[String], mentions: Seq[Mention]): AnnotatedDoc =
    AnnotatedDoc(
      "u",
      tokens,
      tokens.map(t => t.length == 1 && !t.head.isLetterOrDigit),
      tokens.zipWithIndex.map { case (t, i) =>
        Set(".", "!", "?").contains(t) || i == tokens.length - 1
      },
      mentions)

  test("gap bounds: 1 and windowSize accepted; 0 and windowSize+1 rejected") {
    def mk(gap: Int): AnnotatedDoc = {
      val toks = Seq("a") ++ Seq.fill(gap - 1)("x") ++ Seq("b", ".")
      doc(
        "ea" +: toks.drop(1).dropRight(2) :+ "eb" :+ ".",
        Seq(Mention(0, 0, "ea", "T"), Mention(gap, gap, "eb", "T")))
    }
    // gap = e2start - e1end
    assert(Windowing.resolve(mk(1), 0, 1, 40).nonEmpty)
    // gap 40 passes the gap check but the window (>=42 tokens incl. both
    // entities) always exceeds window_size=40 — a reference quirk where the
    // two checks are coupled; replicated faithfully
    assert(Windowing.resolve(mk(40), 0, 1, 40).isEmpty)
    assert(Windowing.resolve(mk(40), 0, 1, 45).nonEmpty) // decoupled: passes
    val d0 = doc(Seq("ea", "eb", "."), Seq(Mention(0, 0, "ea", "T"), Mention(0, 0, "ea", "T")))
    assert(Windowing.resolve(d0, 0, 0, 40).isEmpty) // same mention index
    val d41 = {
      val gap = 41
      doc(
        ("ea" +: Seq.fill(gap - 1)("x")) :+ "eb" :+ ".",
        Seq(Mention(0, 0, "ea", "T"), Mention(gap, gap, "eb", "T")))
    }
    assert(Windowing.resolve(d41, 0, 1, 40).isEmpty)
  }

  test("entities containing digits or plus are rejected (reference [\\d+] class)") {
    val d = doc(
      Seq("area 51", "near", "base", "."),
      Seq(Mention(0, 0, "area 51", "T"), Mention(2, 2, "base", "T")))
    assert(Windowing.resolve(d, 0, 1, 40).isEmpty)
    val dp = doc(
      Seq("a+b", "near", "base", "."),
      Seq(Mention(0, 0, "a+b", "T"), Mention(2, 2, "base", "T")))
    assert(Windowing.resolve(dp, 0, 1, 40).isEmpty)
  }

  test("window expands left to previous punct + right to sentence end") {
    // normal case: punct at idx2 -> window starts at 3 (reference: start+2)
    val tokens = Seq("w", "w", ".", "the", "cat", "sat", "on", "mat", ".", "tail")
    val d = doc(tokens, Seq(Mention(4, 4, "cat", "T"), Mention(7, 7, "mat", "T")))
    val Some(w) = Windowing.resolve(d, 0, 1, 40)
    assert(w.tokens(d) == Seq("the", "cat", "sat", "on", "mat", "."))
    assert(w.localE1 == Span(1, 1) && w.localE2 == Span(4, 4))
  }

  test("left-bound quirk: punct at index 1 pulls window start to 0") {
    // reference: start ends at 0 after finding punct at 1 -> left_r = 0,
    // so the window INCLUDES the previous fragment and its punct
    val tokens = Seq("intro", ".", "the", "cat", "sat", "on", "mat", ".", "tail")
    val d = doc(tokens, Seq(Mention(3, 3, "cat", "T"), Mention(6, 6, "mat", "T")))
    val Some(w) = Windowing.resolve(d, 0, 1, 40)
    assert(w.tokens(d) == Seq("intro", ".", "the", "cat", "sat", "on", "mat", "."))
    assert(w.localE1 == Span(3, 3) && w.localE2 == Span(6, 6))
  }

  test("window longer than windowSize rejected even when gap fits") {
    // long pre-entity sentence inflates [sentStart, sentEnd) beyond 40
    val pre = Seq.fill(38)("w")
    val tokens = pre ++ Seq("cat", "x", "mat", ".")
    val d = doc(tokens, Seq(Mention(38, 38, "cat", "T"), Mention(40, 40, "mat", "T")))
    assert(Windowing.resolve(d, 0, 1, 40).isEmpty)
  }

  test("marker insertion adds exactly 4 markers + CLS/SEP") {
    val tokens = Seq("the", "cat", "sat", "on", "the", "mat")
    val out = Markers.addSpecialTokens(tokens, Span(1, 1), Span(5, 5))
    assert(out == Seq("[CLS]", "the", "[E1]", "cat", "[/E1]", "sat", "on",
      "the", "[E2]", "mat", "[/E2]", "[SEP]"))
    assert(out.length == tokens.length + 6)
  }

  test("span fixup points inside markers after tokenization") {
    val tok = Vocab.fixtureTokenizer
    val tokens = Seq("the", "microphone", "caused", "the", "signal")
    val Some(enc) = Markers.encode(tok)(tokens, Span(1, 1), Span(4, 4))
    val pieces = enc.tokenIds.toSeq.map(tok.convertIdToToken)
    assert(pieces(enc.e1Span.start - 1) == "[E1]")
    assert(pieces(enc.e1Span.start) == "microphone")
    assert(pieces(enc.e2Span.start) == "signal")
    assert(pieces(enc.e1Span.end + 1) == "[/E1]")
  }

  test("statements enumerate the ordered mention product, pairOrd dense") {
    val d = doc(
      Seq("cat", "likes", "mat", "and", "hat", "."),
      Seq(Mention(0, 0, "cat", "T"), Mention(2, 2, "mat", "T"), Mention(4, 4, "hat", "T")))
    val sts = Windowing.statements(d, 7L)
    assert(sts.map(s => (s.e1, s.e2)) ==
      Seq(("cat", "mat"), ("cat", "hat"), ("mat", "hat")))
    assert(sts.map(_.pairOrd) == Seq(0, 1, 2))
    assert(sts.forall(_.docOrd == 7L))
  }
}
