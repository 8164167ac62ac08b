package graft.perfbench

import graft.candidates.Candidates
import graft.canonical.{CorefChains, CorefMerge}
import graft.corpus.CorpusGen
import graft.pipeline.Pipeline
import graft.preprocess.{LiteralNer, NerRunner, PosTagger, Segmenter, Tokenizer}
import graft.rules.{CodeRules, Rules}
import graft.schema.{Doc, Mention}

/** Single-thread timings of the fused extract's per-doc kernels over a
  * fixed seeded doc sample of `batch_kg`'s corpus, each taken through
  * the public function the extract calls. Every stage's inputs are
  * precomputed, so a stage's figure is that stage alone: the median over
  * repeated passes of microseconds per doc. They ride `query_suite`'s
  * traced run, which has the time to spare. */
object Kernels {
  private val SampleDocs = 100
  private val Passes = 5

  val metrics = Seq("preprocess.tokenize", "preprocess.postag", "preprocess.ner",
    "canonical.coref", "preprocess.segment", "candidates", "rules").map(_ + ".us_per_doc")

  def measure(sf: Double, seed: Long, rec: Recorder): Unit = {
    val raws = (0 until SampleDocs).map(i => CorpusGen.genOne(sf, seed, i.toLong))
    val gazette = new LiteralNer(CorpusGen.gazette(sf))
    val cores = CodeRules.relations.map { case (rel, rules) =>
      (rel, new Rules.RuleCore(rules, rel.leftKind, rel.rightKind))
    }
    val ids = raws.map(r => s"${r.repo}/${r.path}@${r.commit}")
    val tks = raws.map(r => Tokenizer(r.content))
    val tags = tks.map(t => PosTagger.tag(t.tokens))
    def ner(i: Int): Seq[Mention] = NerRunner.combineNoOverlap(Seq(
      NerRunner.run(gazette, 0, ids(i), tks(i).tokens, tks(i).sentences),
      NerRunner.run(Pipeline.camelNer, 1, ids(i), tks(i).tokens, tks(i).sentences)))
    val combined = raws.indices.map(i => NerRunner.dedupe(ner(i)))
    def coref(i: Int): Seq[Mention] = {
      val ents = combined(i).map(m => m.entity_key -> CorefMerge.Ent(
        m.entity_key, m.kind, if (m.from_gazette) Some(m.alias) else None)).toMap
      CorefMerge.applyChains(ids(i), tks(i).tokens, combined(i), ents,
        CorefChains.chains(tks(i).tokens, combined(i)))
    }
    val merged = raws.indices.map(coref)
    val docs = raws.indices.map { i =>
      val r = raws(i); val t = tks(i)
      Doc(doc_id = ids(i), repo = r.repo, path = r.path, commit = r.commit,
        lang = r.lang, text = r.content, content_sha256 = r.content_sha256,
        tokens = t.tokens, offsets = t.spans, lemmas = PosTagger.lemmas(t.tokens),
        postags = tags(i), sentences = t.sentences, parses = Array.empty)
    }
    val segments = raws.indices.flatMap(i => Segmenter.segmentsOf(docs(i), merged(i)))
    val evidences = for (seg <- segments; (rel, core) <- cores;
        ev <- Candidates.evidencesOfCounted(seg, rel)._1) yield (core, ev)

    var sink = 0L
    def perDoc(name: String)(pass: => Int): Unit = {
      val us = (0 until Passes).map { _ =>
        val t0 = System.nanoTime()
        sink += pass
        (System.nanoTime() - t0) / 1e3 / SampleDocs
      }
      rec.layers(name) = Stats.median(us)
    }
    perDoc("preprocess.tokenize.us_per_doc")(raws.map(r => Tokenizer(r.content).tokens.length).sum)
    perDoc("preprocess.postag.us_per_doc")(tks.map(t => PosTagger.tag(t.tokens).length).sum)
    perDoc("preprocess.ner.us_per_doc")(raws.indices.map(i => ner(i).size).sum)
    perDoc("canonical.coref.us_per_doc")(raws.indices.map(i => coref(i).size).sum)
    perDoc("preprocess.segment.us_per_doc")(
      raws.indices.map(i => Segmenter.segmentsOf(docs(i), merged(i)).size).sum)
    perDoc("candidates.us_per_doc")((for (seg <- segments; (rel, _) <- cores)
      yield Candidates.evidencesOfCounted(seg, rel)._1.size).sum)
    perDoc("rules.us_per_doc")(evidences.count { case (core, ev) =>
      core.predict(Candidates.tokensToMatch(ev)) })
    rec.info("kernel_checksum") = sink.toString
  }
}
