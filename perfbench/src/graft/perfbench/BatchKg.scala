package graft.perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.candidates.Candidates
import graft.canonical.Canonicalize
import graft.corpus.CorpusGen
import graft.pipeline.Pipeline
import graft.preprocess.LiteralNer
import graft.rules.{CodeRules, Rules}
import graft.schema.RawDoc

/** `batch_kg`: the headline path. Setup writes the seeded corpus to
  * parquet; one operation reads it, runs `Pipeline.runWithMetrics` and
  * materializes through `TripleSink`. The check reads the sink's
  * triples back and requires P = R = 1.0 against the generator's golden
  * set. */
object BatchKg extends Workload {
  /** The smallest scale at which extract is the pipeline's largest
    * layer (about 35% of a traced run on 4 cores; the sink is next). */
  val Sf = 0.03
  private val gazette = CorpusGen.gazette(Sf)
  private var golden: Set[(String, String, String)] = Set.empty
  val setupReps = 5

  val layerMetrics: Seq[String] =
    Seq("extract.s", "extract.gc_s", "extract.task_skew", "extract.spill_bytes",
      "dedupe.s", "dedupe.shuffle_bytes", "triples.s", "triples.shuffle_bytes")
      .map("pipeline." + _) ++
    Seq("canonical.components.s", "canonical.components.shuffle_bytes",
      "canonical.components.task_skew", "sources.sink.s", "sources.sink.bytes_written",
      "sources.sink.files") ++
    Seq("docs", "mentions", "entity_rows", "entities", "hubs", "largest_hub", "candidates",
      "positives", "triples", "truncated_segments").map("funnel." + _) ++
    Seq("rules.positive_ratio", "batch.scaling_eff", "trace.overhead", "trace.coverage",
      "heap.retained_mb") ++ AlRound.metrics

  private def rawDir(c: PerfBench.Ctx) = s"${c.work}/batch/raw"
  private def outDir(c: PerfBench.Ctx) = s"${c.work}/batch/out"

  private def raw(c: PerfBench.Ctx): Dataset[RawDoc] = {
    val spark = c.spark
    import spark.implicits._
    c.spark.read.parquet(rawDir(c)).as[RawDoc]
  }

  def setup(c: PerfBench.Ctx): Unit =
    CorpusGen.rawDocs(c.spark, Sf, c.seed).write.mode("overwrite").parquet(rawDir(c))

  def prepare(c: PerfBench.Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    golden = CorpusGen.goldenTriples(c.spark, Sf, c.seed)
      .as[(String, String, String)].collect().toSet
  }

  private def runOnce(c: PerfBench.Ctx): Unit = {
    val h = Pipeline.runWithMetrics(c.spark, raw(c), gazette)
    Pipeline.materialize(c.spark, h.triples, outDir(c))
    h.cleanup()
  }

  /** (rows written, P = R = 1.0 against golden). */
  private def check(c: PerfBench.Ctx, corrupt: Boolean): (Long, Boolean) = {
    val spark = c.spark
    import spark.implicits._
    val written = c.spark.read.parquet(s"${outDir(c)}/triples")
    val facts = written.select($"subj", $"pred", $"obj").distinct()
      .as[(String, String, String)].collect().toSet
    val seen = if (corrupt) facts.drop(1) else facts
    (written.count(), golden.nonEmpty && seen == golden)
  }

  /** One run. The JIT is still compiling the extract kernels through
    * the first measured run (about 10% slower than the second); a
    * second warm-up run would not fit the benchmark's time budget. */
  def warmUp(c: PerfBench.Ctx): Unit = runOnce(c)

  def measure(c: PerfBench.Ctx, until: Long, leg: String, rec: Recorder): Unit = {
    var i = 0
    do {
      rec.op("pipeline", leg)(runOnce(c))(check(c, c.corrupt(i)))
      i += 1
    } while (System.nanoTime() < until)
  }

  def trace(c: PerfBench.Ctx, rec: Recorder): Unit = {
    val spark = c.spark
    import spark.implicits._
    warmUp(c)
    rec.op("pipeline", "untraced")(runOnce(c))(check(c, corrupt = false))
    val tr = new LayerTrace(spark)
    val trunc = spark.sparkContext.longAccumulator("truncated_segments")
    def boundary[T](d: Dataset[T]): Dataset[T] = { val p = d.persist(); p.count(); p }
    var ex: Dataset[Pipeline.DocExtract] = null
    var ents, canon, triples: DataFrame = null
    rec.op("pipeline", "traced") {
      ex = tr("pipeline.extract")(boundary(
        Pipeline.extract(spark, raw(c), gazette, Some(trunc), keepNegatives = false)))
      ents = tr("pipeline.dedupe")(boundary(
        Pipeline.dedupeEntities(ex.flatMap(_.entities).toDF())))
      canon = tr("canonical.components")(boundary(
        Canonicalize.components(spark, ents)))
      triples = tr("pipeline.triples")(boundary(
        Pipeline.triplesOf(ex.flatMap(_.predictions).toDF().filter($"answer"), canon)))
      tr("sources.sink")(Pipeline.materialize(spark, triples, outDir(c)))
    }(check(c, corrupt = false))
    tr.detach()
    val wall = rec.ops.last.seconds

    val L = rec.layers
    for (name <- Seq("pipeline.extract", "pipeline.dedupe", "canonical.components",
        "pipeline.triples", "sources.sink")) {
      val l = tr.layer(name)
      L(s"$name.s") = l.wallS
      name match {
        case "pipeline.extract" =>
          L(s"$name.gc_s") = l.gcS
          L(s"$name.task_skew") = l.taskSkew
          L(s"$name.spill_bytes") = l.spillBytes.toDouble
        case "sources.sink" =>
          L(s"$name.bytes_written") = l.bytesWritten.toDouble
          L(s"$name.files") = parquetFiles(s"${outDir(c)}/triples").toDouble
        case _ =>
          L(s"$name.shuffle_bytes") = (l.shuffleReadBytes + l.shuffleWriteBytes).toDouble
          if (name == "canonical.components") L(s"$name.task_skew") = l.taskSkew
      }
    }
    L("trace.overhead") = wall / Stats.median(rec.ops.filter(_.leg == "untraced").map(_.seconds).toSeq)
    L("trace.coverage") = tr.selfTimeS / wall

    // funnel: exact counts, taken outside the traced window
    val hubSizes = canon.groupBy($"canonical").count()
    val (mentions, candidates, positives) = extractFunnel(c)
    L("funnel.docs") = raw(c).count().toDouble
    L("funnel.mentions") = mentions.toDouble
    L("funnel.entity_rows") = ex.flatMap(_.entities).count().toDouble
    L("funnel.entities") = ents.count().toDouble
    L("funnel.hubs") = hubSizes.count().toDouble
    L("funnel.largest_hub") = hubSizes.agg(max($"count")).head().getLong(0).toDouble
    L("funnel.candidates") = candidates.toDouble
    L("funnel.positives") = positives.toDouble
    L("funnel.triples") = triples.count().toDouble
    L("funnel.truncated_segments") = trunc.value.toDouble
    L("rules.positive_ratio") = positives.toDouble / math.max(candidates, 1L)
    // the counting pass re-derives positives from the public per-doc
    // functions; it must agree with what the real extract kept
    val kept = ex.flatMap(_.predictions).count()
    rec.op("funnel", "check")(())((positives, positives == kept))
    Seq(ex, ents, canon, triples).foreach(_.unpersist(true))
    L("heap.retained_mb") = Heap.retainedMb()
    AlRound.trace(c, rec)

    // scaling leg: the same run on half the cores, in a fresh session
    // (its first run is slow even with the JIT warm, so it is untimed)
    def rate(leg: String) =
      Stats.median(rec.ops.filter(_.leg == leg).map(o => o.items / o.seconds).toSeq)
    c.spark.stop()
    c.cores = math.max(1, c.cores / 2)
    c.spark = PerfBench.session(c.cores, c.work)
    runOnce(c)
    rec.op("pipeline", "half")(runOnce(c))(check(c, corrupt = false))
    L("batch.scaling_eff") = rate("untraced") / (2 * rate("half"))
  }

  private def parquetFiles(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
  }

  /** (mentions, candidate evidences, positive predictions) over the
    * corpus, from the same public per-doc functions the fused extract
    * calls. */
  private def extractFunnel(c: PerfBench.Ctx): (Long, Long, Long) = {
    val spark = c.spark
    import spark.implicits._
    val bc = c.spark.sparkContext.broadcast(gazette)
    raw(c).mapPartitions { it =>
      val ner = new LiteralNer(bc.value)
      val cores = CodeRules.relations.map { case (rel, rules) =>
        (rel, new Rules.RuleCore(rules, rel.leftKind, rel.rightKind))
      }
      it.map { d =>
        val b = Pipeline.preprocessDoc(d, ner, withParses = false)
        var cands = 0L
        var pos = 0L
        for (seg <- b.segments; (rel, core) <- cores) {
          val evs = Candidates.evidencesOfCounted(seg, rel)._1
          cands += evs.size
          pos += evs.count(ev => core.predict(Candidates.tokensToMatch(ev)))
        }
        (b.mentions.length.toLong, cands, pos)
      }
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
  }
}
