package graft.textnorm

/** Sentence/line cleaning — byte-identical re-expression of the reference's
  * `mtb_data_loader.py:397-415` (_clean_sent) and `:391-395`
  * (_process_textlines).
  *
  * Reference steps (order matters, it is part of byte-identity):
  *   1. sentences that are exactly " ", "\n" or "" yield None (dropped)
  *   2. strip '\n' from both ends
  *   3. remove uppercase special tokens like `<FIL/>`, `<S>` (pattern
  *      "<[A-Z]+" + "/" + "*>")
  *   4. replace the reference's punctuation char class with a space
  *   5. collapse whitespace runs (python " ".join(s.split()))
  *   6. strip
  *   7. collapse repeated sentence punctuation `([.?,!]){2,}` → last char
  *      (the captured group is the LAST repetition — CPython and Java agree)
  *   8. every ALL-CAPS run (≥2 uppercase A-Z) → str.capitalize()
  *
  * [[cleanSent]] runs steps 2-8 as one left-to-right character scan. Why
  * that is exact, step by step:
  *   - Step 3: the A-Z run and the `/` run are greedy and neither contains the
  *     char that follows it in the pattern, so the regex cannot backtrack:
  *     at a `<` it matches iff an A-Z run, a `/` run and a `>` follow. A
  *     failed attempt spans no other `<`, so resuming one char later is
  *     what `replaceAll` does. No match contains '\n', so step 2 never
  *     changes the set of matches, and steps 5-6 strip those '\n' anyway.
  *   - Steps 4-6: punctuation-class chars become spaces, so they act like
  *     Python whitespace: a run of either becomes one space between two
  *     kept chars, and nothing at either end.
  *   - Steps 7-8 see the collapsed text, where a run of `.?,!` or of A-Z is
  *     a run of consecutive emitted chars. The scanner rewrites the last
  *     emitted char while a `.?,!` run continues, so the run's last char is
  *     what remains. It lower-cases every A-Z that follows an emitted A-Z:
  *     `str.capitalize()` of an ASCII capital run keeps its first char and
  *     lower-cases the rest. The two char sets are disjoint and neither
  *     rewrite produces a char of the other set, so their order is moot.
  * The regex chain itself is kept in the tests as the differential oracle.
  */
object CleanSent {

  private final val Other: Byte = 0
  private final val Sep: Byte = 1 // punctuation class or Python whitespace
  private final val Lt: Byte = 2 // '<', a possible special-token start
  private final val RunPunc: Byte = 3 // one of `.?,!`
  private final val Upper: Byte = 4 // A-Z

  /** The reference's punctuation class
    * `[\*\"\n\\…\+\-\/\=\(\)‘•€\[\]\|♫:;—”“~`#]`, as its member chars. */
  private val PunctClass = "*\"\n\\…+-/=()‘•€[]|♫:;—”“~`#"

  /** Scanner class of every BMP char: one lookup per char of input. */
  private val charClass: Array[Byte] = {
    val t = new Array[Byte](Char.MaxValue + 1)
    var c = 0
    while (c <= Char.MaxValue) {
      if (PyText.isPySpace(c.toChar)) t(c) = Sep
      c += 1
    }
    PunctClass.foreach(ch => t(ch) = Sep)
    "?.,!".foreach(ch => t(ch) = RunPunc)
    ('A' to 'Z').foreach(ch => t(ch) = Upper)
    t('<') = Lt
    t
  }

  /** End (exclusive) of a special-token match starting at `i`, or -1. */
  private def specialTokenEnd(s: String, i: Int): Int = {
    val n = s.length
    var j = i + 1
    while (j < n && charClass(s.charAt(j)) == Upper) j += 1
    if (j == i + 1) return -1
    while (j < n && s.charAt(j) == '/') j += 1
    if (j < n && s.charAt(j) == '>') j + 1 else -1
  }

  /** Reference `_clean_sent`; None for the degenerate inputs it skips. */
  def cleanSent(sent: String): Option[String] =
    if (sent == " " || sent == "\n" || sent == "") None
    else Some(clean(sent))

  /** Steps 2-8 in one scan (see the object's doc for the argument). */
  private def clean(s: String): String = {
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var pendingSpace = false // a separator run lies between kept chars
    var prev = Other // class of the last emitted char, if adjacent
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      val cls = charClass(c)
      val tokenEnd = if (cls == Lt) specialTokenEnd(s, i) else -1
      if (cls == Sep) {
        pendingSpace = true
        i += 1
      } else if (tokenEnd >= 0) {
        i = tokenEnd
      } else {
        if (pendingSpace && out.length > 0) {
          out.append(' ')
          prev = Other
        }
        pendingSpace = false
        if (cls == RunPunc && prev == RunPunc) out.setCharAt(out.length - 1, c)
        else if (cls == Upper && prev == Upper) out.append((c + ('a' - 'A')).toChar)
        else out.append(c)
        prev = cls
        i += 1
      }
    }
    out.toString
  }

  /** Reference `_process_textlines`: clean each line, join the survivors
    * with single spaces, then collapse 2+ spaces. A cleaned line has no
    * leading, trailing or double space, so a double space can only come
    * from joining next to an empty cleaned line: the join separator is
    * dropped exactly when the text so far already ends in a space. */
  def processTextlines(lines: Seq[String]): String = {
    val out = new java.lang.StringBuilder
    var first = true
    lines.foreach { line =>
      cleanSent(line).foreach { s =>
        if (!first && (out.length == 0 || out.charAt(out.length - 1) != ' ')) out.append(' ')
        out.append(s)
        first = false
      }
    }
    out.toString
  }
}
