package graft.triples

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.annotate.{Annotator, Gazetteer}
import graft.kernel.{Inference, ScoringKernel}
import graft.schema.{Triple, WebPage}
import graft.statements.{Markers, Windowing}
import graft.tokenize.BertTokenizer

/** The engine's flagship query (SURVEY.md §3.3, §7.3):
  *
  *   pages → filter(lang='en') → text_norm (byte-identical) → annotate
  *   (mentions) → pair windows (±40) → marker insert + WordPiece encode →
  *   broadcast-kernel mapPartitions scoring → argmax → (subj, pred, obj)
  *
  * Everything up to scoring is a NARROW pipeline — one fused map stage,
  * no shuffle (the pair product is row-local). The only wide operations on
  * the inference path are the final write and optional canonicalization,
  * exactly as SURVEY.md §3.1 prescribes for 100 TB inputs.
  */
object TriplePipeline {

  final case class Config(
      windowSize: Int = 40,
      batchSize: Int = 64,
      assembleArticle: Boolean = true,
      langs: Set[String] = Set("en"),
      /** NER-kind allow-list (reference `infer.py:50-63`
        * entities_of_interest): when set, mentions whose kind is not
        * listed never reach pair windowing. None = allow all (the
        * training-path default, which takes every gazetteer hit). */
      allowedKinds: Option[Set[String]] = None,
      /** Second mention-pair source (reference `get_annotated_sents`,
        * `infer.py:212-223`: NER pairs UNION dep-parse sub/obj pairs).
        * When on, SVO-heuristic subject/object tokens join the mention
        * set, so pages with entities outside the gazetteer still yield
        * statements. Off by default — the training path is gazetteer-only. */
      svoMentions: Boolean = false,
      /** Third mention source (reference spaCy `noun_chunks`,
        * `mtb_data_loader.py:514-522`): rule-based noun phrases
        * (capitalized-sequence + determiner-phrase,
        * [[graft.annotate.NounPhrases]]) join the mention set, so
        * open-web pages whose entities are outside the gazetteer still
        * yield statements. Turn ON for open-web inference; the default
        * stays off so the gazetteer parity tests pin reference geometry. */
      npMentions: Boolean = false)

  /** Apply the Config's kind allow-list + optional SVO mention source to
    * an annotated doc. */
  def filterMentions(
      doc: graft.schema.AnnotatedDoc,
      cfg: Config): graft.schema.AnnotatedDoc = {
    val base = cfg.allowedKinds match {
      case None => doc
      case Some(allowed) => doc.copy(mentions = doc.mentions.filter(m => allowed(m.kind)))
    }
    val withSvo = if (!cfg.svoMentions) base else withSvoMentions(base)
    if (!cfg.npMentions) withSvo else withNpMentions(withSvo)
  }

  /** Add rule-based noun-phrase mentions (kind "NP"), skipping positions
    * already covered by an existing mention and deduping by surface —
    * same merge geometry as [[withSvoMentions]]. */
  def withNpMentions(doc: graft.schema.AnnotatedDoc): graft.schema.AnnotatedDoc = {
    val covered = doc.mentions.flatMap(m => m.start to m.end).toSet
    val seen = scala.collection.mutable.HashSet.empty[String] ++= doc.mentions.map(_.text)
    val extra = graft.annotate.NounPhrases.candidates(doc.tokens)
      .iterator
      .flatMap { case (text, pos, _) =>
        val end = pos + text.count(c => c == ' ')
        if ((pos to end).forall(i => !covered(i)) && seen.add(text))
          Some(graft.schema.Mention(pos, end, text, "NP"))
        else None
      }
      .toVector
    doc.copy(mentions = (doc.mentions ++ extra).sortBy(_.start))
  }

  /** Add SVO-heuristic subject/object tokens as single-token mentions
    * (kind "SVO"), skipping positions already covered by a gazetteer
    * mention and deduping by surface like the annotator does. */
  def withSvoMentions(doc: graft.schema.AnnotatedDoc): graft.schema.AnnotatedDoc = {
    val verbs = graft.ops.SvoPairs.Verbs.toSet
    val stops = graft.ops.TextStats.Stopwords.toSet
    val toks = doc.tokens
    val vi = toks.indexWhere(verbs.contains)
    if (vi < 0) return doc
    val subj = toks.take(vi).lastIndexWhere(t =>
      !stops.contains(t) && t.exists(c => c >= 'a' && c <= 'z'))
    if (subj < 0) return doc
    val objs = (vi + 1 until toks.length).iterator
      .filter(i => !stops.contains(toks(i)) && !verbs.contains(toks(i)))
      .take(3)
    val taken = doc.mentions.map(_.start).toSet
    val seen = scala.collection.mutable.HashSet.empty[String] ++= doc.mentions.map(_.text)
    val extra = (Iterator.single(subj) ++ objs)
      .filter(i => !taken(i) && seen.add(toks(i)))
      .map(i => graft.schema.Mention(i, i, toks(i), "SVO"))
      .toVector
    doc.copy(mentions = (doc.mentions ++ extra).sortBy(_.start))
  }

  final case class ScoredStatement(
      url: String,
      docOrd: Long,
      pairOrd: Int,
      e1: String,
      e2: String,
      tokenIds: Seq[Int],
      e1Start: Int,
      e2Start: Int)

  /** Normalized page text per url — the byte-identity surface. */
  def normalizePages(pages: Dataset[WebPage], cfg: Config = Config()): DataFrame = {
    import graft.textnorm.functions._
    val base = pages
      .filter(col("lang").isin(cfg.langs.toSeq.map(lit): _*))
      .select(col("url"), col("text"))
    val extracted =
      if (cfg.assembleArticle) base.withColumn("article", assemble_article(col("text")))
      else base.withColumn("article", col("text"))
    extracted
      .withColumn("text_norm", text_norm(col("article")))
      .select(col("url"), col("text_norm"))
  }

  /** pages → encoded, kernel-ready statements. One narrow mapPartitions
    * with the same per-document encoder and per-partition wordpiece memo
    * as the fused [[run]]. */
  def encodedStatements(
      spark: SparkSession,
      pages: Dataset[WebPage],
      gaz: Broadcast[Gazetteer],
      tokenizer: Broadcast[BertTokenizer],
      cfg: Config = Config()): Dataset[ScoredStatement] = {
    import spark.implicits._
    normalizePages(pages, cfg)
      .as[(String, String)]
      .mapPartitions { rows =>
        val tok = tokenizer.value
        val cache = new java.util.HashMap[String, Markers.TokPieces](4096)
        rows.flatMap { case (url, textNorm) =>
          val docOrd = stableDocOrd(url)
          encodeDoc(url, textNorm, gaz.value, tok, cache, cfg).map { case (pairOrd, w, enc) =>
            ScoredStatement(
              url, docOrd, pairOrd, w.t1, w.t2,
              enc.tokenIds.toSeq, enc.e1Span.start, enc.e2Span.start)
          }
        }
      }
  }

  /** Annotates one normalized page and encodes its pair windows:
    * `(pairOrd, window, encoded)` for every window whose markers survive.
    * Windows are document index ranges, so each token's wordpieces resolve
    * once per document (through the partition's memo) and every window is
    * assembled by array copy instead of re-tokenizing its statement. */
  private def encodeDoc(
      url: String,
      textNorm: String,
      gaz: Gazetteer,
      tok: BertTokenizer,
      cache: java.util.HashMap[String, Markers.TokPieces],
      cfg: Config): Iterator[(Int, Windowing.Window, Markers.Encoded)] = {
    val doc = filterMentions(Annotator.annotate(url, textNorm, gaz), cfg)
    val windows = Windowing.windows(doc, cfg.windowSize)
    if (windows.isEmpty) Iterator.empty
    else {
      val enc = new Markers.DocEncoder(tok, cache, doc.tokens)
      Iterator.range(0, windows.length).flatMap { pairOrd =>
        val w = windows(pairOrd)
        enc.encode(w.from, w.until, w.e1, w.e2).map(e => (pairOrd, w, e))
      }
    }
  }

  /** Stable per-document order key derived from the url — reproducible
    * under any partitioning (SURVEY.md §7.5 determinism note). */
  def stableDocOrd(url: String): Long = {
    // fixture urls carry the corpus line number; fall back to a hash
    val tail = url.substring(url.lastIndexOf('/') + 1)
    try tail.toLong
    catch {
      case _: NumberFormatException =>
        util.hashing.MurmurHash3.stringHash(url).toLong & 0x7fffffffL
    }
  }

  /** Full pipeline to (subj, pred, obj, url) triples — FUSED: scoring runs
    * inside the same mapPartitions pass that carries the entity surfaces,
    * so the whole pipeline is ONE narrow stage (scan → normalize → annotate
    * → window → encode → batch-score → label). No join, no shuffle, no
    * second evaluation of the narrow chain — this is the plan that holds at
    * 100 TB: cost is exactly one pass over the pages.
    *
    * (The earlier staged formulation — Inference.classify + join back on a
    * statement id — lives on in triples.Checkpointed where materialization
    * between stages is the point.) */
  def run(
      spark: SparkSession,
      pages: Dataset[WebPage],
      gaz: Broadcast[Gazetteer],
      tokenizer: Broadcast[BertTokenizer],
      kernel: Broadcast[ScoringKernel],
      idx2rel: Broadcast[Map[Int, String]],
      cfg: Config = Config()): Dataset[Triple] = {
    import spark.implicits._
    normalizePages(pages, cfg)
      .as[(String, String)]
      .mapPartitions { rows =>
        // one partition-local pass: annotate -> window -> encode -> batch
        // score -> label. No intermediate Dataset boundary, so token arrays
        // never round-trip through InternalRow encoding.
        val k = kernel.value
        val labels = idx2rel.value
        val tok = tokenizer.value
        // per-partition wordpiece memo: statement windows draw from a
        // near-closed token vocabulary, so each surface tokenizes (and
        // id-converts) once
        val cache = new java.util.HashMap[String, Markers.TokPieces](4096)
        val statements = rows.flatMap { case (url, textNorm) =>
          encodeDoc(url, textNorm, gaz.value, tok, cache, cfg).map { case (_, w, enc) => (w, url, enc) }
        }
        Inference.scoreBatches(statements, k, tok.padId, cfg.batchSize)(r =>
          (r._3.tokenIds, r._3.e1Span.start, r._3.e2Span.start))
          .map { case ((w, url, _), pred) => Triple(w.t1, labels(pred), w.t2, url) }
      }
  }
}
