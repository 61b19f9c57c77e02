package perfbench

import scala.collection.immutable.ArraySeq

import graft.core.{BioSpans, DocProcessor, FixtureGen, HtmlText, Linking,
  NerModel, SpoPatterns, Tokenizer}
import graft.pipeline.KgPipeline

/** A single-thread pass over a page sample that times each step of
  * `DocProcessor.process` by calling the same public graft.core functions
  * in the same order, with the fixture model the KG job broadcasts. The
  * step-by-step pass must produce exactly the triples `process` produces;
  * a page where it does not is reported as a failed check. */
object CoreTrace {

  def run(pages: IndexedSeq[Array[Byte]], rec: Record): Map[String, Double] = {
    val model = KgPipeline.fixtureModel()
    val profile: Long => IndexedSeq[String] = FixtureGen.profileWords
    val proc = new DocProcessor(model.gaz, model.aliasMap, profile)
    val scratch = new NerModel.Scratch

    var extractNs, tokenizeNs, tagNs, spansNs, linkNs, spoNs = 0L
    var sentences, tokens, mentions, linked, candidates, spo, triples = 0L

    /** Step-by-step `process`: the triples of one page as (subj, pred, obj). */
    def steps(html: Array[Byte]): Vector[(Long, String, Long)] = {
      val out = Vector.newBuilder[(Long, String, Long)]
      var t = System.nanoTime()
      val sents = HtmlText.extractSentences(html)
      var u = System.nanoTime(); extractNs += u - t; t = u
      sentences += sents.length
      sents.foreach { sent =>
        val toks = Tokenizer.tokenize(sent)
        val words: IndexedSeq[String] =
          ArraySeq.unsafeWrapArray(Array.tabulate(toks.length)(toks(_).text))
        u = System.nanoTime(); tokenizeNs += u - t; t = u
        val tags: IndexedSeq[String] =
          ArraySeq.unsafeWrapArray(NerModel.tagArray(words, model.gaz, scratch))
        u = System.nanoTime(); tagNs += u - t; t = u
        val spans = BioSpans.toSpans(toks, tags)
        u = System.nanoTime(); spansNs += u - t; t = u
        // top-1 candidate by (score desc, id asc), as DocProcessor links
        val ids = spans.map { sp =>
          val cands = model.aliasMap.getOrElse(sp.surface, Vector.empty)
          candidates += cands.length
          var bestId = -1L
          var bestScore = Double.NegativeInfinity
          cands.foreach { case (id, prior) =>
            val s = Linking.overlapScore(prior, profile(id), words,
              sp.beginTok, sp.endTok)
            if (bestId < 0 || s > bestScore || (s == bestScore && id < bestId)) {
              bestScore = s; bestId = id
            }
          }
          bestId
        }
        u = System.nanoTime(); linkNs += u - t; t = u
        val cs = SpoPatterns.extract(toks, spans)
        cs.foreach { c =>
          val (s, o) = (ids(c.subjIdx), ids(c.objIdx))
          if (s >= 0 && o >= 0) out += ((s, c.pred, o))
        }
        u = System.nanoTime(); spoNs += u - t; t = u
        tokens += toks.length
        mentions += spans.length
        linked += ids.count(_ >= 0)
        spo += cs.length
      }
      val r = out.result()
      triples += r.length
      r
    }

    def reference(html: Array[Byte]): Vector[(Long, String, Long)] =
      proc.process(html).triples.map(t => (t.subjId, t.pred, t.objId))

    // untimed warm-up of both paths, then the timed passes
    pages.foreach { h => steps(h); reference(h) }
    extractNs = 0; tokenizeNs = 0; tagNs = 0; spansNs = 0; linkNs = 0; spoNs = 0
    sentences = 0; tokens = 0; mentions = 0; linked = 0; candidates = 0
    spo = 0; triples = 0
    val (_, processS) = Main.time(pages.foreach(proc.process))
    val mismatched = pages.indices.filter(i => steps(pages(i)) != reference(pages(i)))
    rec.attempt("core step-by-step triples") {
      rec.check("core step-by-step triples", mismatched.isEmpty,
        s"${mismatched.size} of ${pages.size} pages differ from " +
          "DocProcessor.process")
    }

    Map(
      "core.process_s" -> processS,
      "core.extract_s" -> extractNs / 1e9,
      "core.tokenize_s" -> tokenizeNs / 1e9,
      "core.tag_s" -> tagNs / 1e9,
      "core.spans_s" -> spansNs / 1e9,
      "core.link_s" -> linkNs / 1e9,
      "core.spo_s" -> spoNs / 1e9,
      "core.docs" -> pages.size.toDouble,
      "core.sentences" -> sentences.toDouble,
      "core.tokens" -> tokens.toDouble,
      "core.mentions" -> mentions.toDouble,
      "core.candidates" -> candidates.toDouble,
      "core.triples" -> triples.toDouble,
      "core.linked_ratio" ->
        (if (mentions > 0) linked.toDouble / mentions else 0.0),
      "core.triple_ratio" -> (if (spo > 0) triples.toDouble / spo else 0.0))
  }
}
