package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.corpus.CorpusGen
import graft.pipeline.{Fs, Pipeline}
import graft.schema.RawDoc
import graft.streaming.StreamingExtract

/** The `streaming` layer's traced run, carried by `query_suite`'s
  * traced run: `StreamingExtract.runToTriples` over a `MemoryStream`
  * fed fixed-size micro-batches of a seeded corpus, into a fresh work
  * dir, so later batches meet accumulated link state; the seed also
  * shuffles which doc lands in which batch. A micro-batch is tens of
  * small Spark jobs (about 5 s on 4 cores whatever its size), too long
  * to repeat within one benchmark run, so it is not a workload of its
  * own. The check: the visible `triples` table equals the batch
  * pipeline's rows on the same docs, else every batch counts as
  * failed. */
object StreamKg {
  val Sf = 0.001
  /** Enough batches that the last quarter is two of them. */
  val Batches = 8

  val metrics = Seq("batch_p50_s", "tail_batch_s", "docs_per_s", "add_batch_ms.p50",
    "add_batch_ms.last", "cc_input_entities", "touched_components", "total_entities",
    "cc_input_share", "jobs_per_batch", "shuffle_bytes_per_batch", "state_bytes",
    "extract_dirs", "coverage").map("streaming." + _)

  def trace(c: PerfBench.Ctx, rec: Recorder): Unit = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gazette = CorpusGen.gazette(Sf)
    val rawDir = s"${c.work}/stream/raw"
    val dir = s"${c.work}/stream/run"
    CorpusGen.rawDocs(spark, Sf, c.seed).write.mode("overwrite").parquet(rawDir)
    val docs = spark.read.parquet(rawDir).as[RawDoc]
    val (triples, cleanup) = Pipeline.runWithCleanup(spark, docs, gazette)
    val reference = triples.select("subj", "pred", "obj", "evidence_id")
      .as[(String, String, String, String)].collect().toSet
    cleanup()
    val shuffled = new scala.util.Random(c.seed).shuffle(docs.collect().sortBy(_.path).toSeq)
    val batches = shuffled.grouped((shuffled.length + Batches - 1) / Batches).toSeq

    val tr = new LayerTrace(spark)
    val secs = mutable.ArrayBuffer.empty[Double]
    val addBatchMs = mutable.ArrayBuffer.empty[Double]
    var state = Map.empty[String, Double]
    val ms = MemoryStream[RawDoc]
    val wall = Stats.time(tr("streaming") {
      val q = StreamingExtract.runToTriples(spark, ms.toDS(), gazette, dir)
      try batches.foreach { b =>
        secs += Stats.time { ms.addData(b); q.processAllAvailable() }
        Option(q.lastProgress).flatMap(p => Option(p.durationMs.get("addBatch")))
          .foreach(ms => addBatchMs += ms.doubleValue)
        val last = Fs.listDirs(s"$dir/state", "batch_").filter(d => Fs.exists(s"$d/_COMMIT")).last
        state = "\"([a-z_]+)\":([0-9]+)".r.findAllMatchIn(Fs.readString(s"$last/metrics.json"))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } finally q.stop()
    })
    tr.detach()
    val stateBytes = du(s"$dir/state")
    val extractDirs = Fs.listDirs(s"$dir/extract_stream", "batch_").size
    val got = spark.read.parquet(s"$dir/triples")
      .select("subj", "pred", "obj", "evidence_id")
      .as[(String, String, String, String)].collect().toSet
    val ok = reference.nonEmpty && got == reference
    secs.zip(batches).foreach { case (s, b) =>
      rec.ops += rec.Op("micro_batch", "traced", s, b.size.toLong, ok)
    }
    val l = tr.layer("streaming")
    val L = rec.layers
    L("streaming.batch_p50_s") = Stats.median(secs.toSeq)
    L("streaming.tail_batch_s") = Stats.median(secs.drop(secs.length - math.max(1, secs.length / 4)).toSeq)
    L("streaming.docs_per_s") = shuffled.length / secs.sum
    L("streaming.add_batch_ms.p50") = Stats.median(addBatchMs.toSeq)
    L("streaming.add_batch_ms.last") = addBatchMs.last
    L("streaming.cc_input_entities") = state("cc_input_entities")
    L("streaming.touched_components") = state("touched_components")
    L("streaming.total_entities") = state("total_entities")
    L("streaming.cc_input_share") = state("cc_input_entities") / state("total_entities")
    L("streaming.jobs_per_batch") = l.jobs.toDouble / batches.size
    L("streaming.shuffle_bytes_per_batch") =
      (l.shuffleReadBytes + l.shuffleWriteBytes).toDouble / batches.size
    L("streaming.state_bytes") = stateBytes.toDouble
    L("streaming.extract_dirs") = extractDirs.toDouble
    L("streaming.coverage") = secs.sum / wall
  }

  private def du(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
