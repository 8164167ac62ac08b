package graft.perfbench

import org.apache.spark.sql.DataFrame
import graft.Bench
import graft.ml.ActiveLearning

/** The `ml` layer's traced run: one `ActiveLearning.process` round
  * (high-precision tradeoff) on the `Bench.alEvidence` set, its
  * questions written to the `noop` sink. The seed picks the evidence id
  * range. A round is thousands of small Spark jobs (tens of seconds on
  * 4 cores), too long to repeat within one benchmark run, so it is not a
  * workload of its own but rides a traced run.
  * The check: a threshold was found, and the questions are
  * min(10 x labeled, unlabeled) distinct evidences. */
object AlRound {
  val Labeled = 100
  val Unlabeled = 2000

  val metrics = Seq("ml.round_s", "ml.jobs", "ml.tasks", "ml.job_ms.p50")

  def trace(c: PerfBench.Ctx, rec: Recorder): Unit = {
    val spark = c.spark
    import spark.implicits._
    val dir = s"${c.work}/al"
    val base = math.abs(c.seed % 100000) * 1000
    spark.range(base, base + Labeled)
      .map(i => (Bench.alEvidence(i, i % 2 == 0), i % 2 == 0))
      .toDF("e", "label").select($"e.*", $"label")
      .write.mode("overwrite").parquet(s"$dir/labeled")
    spark.range(base + Labeled, base + Labeled + Unlabeled)
      .map(i => Bench.alEvidence(i, i % 2 == 0)).toDF()
      .write.mode("overwrite").parquet(s"$dir/unlabeled")
    val labeled: DataFrame = spark.read.parquet(s"$dir/labeled")
    val unlabeled: DataFrame = spark.read.parquet(s"$dir/unlabeled")

    val tr = new LayerTrace(spark)
    var state: ActiveLearning.State = null
    var questions: DataFrame = null
    rec.op("al_round", "traced") {
      tr("ml") {
        val (s, q) = ActiveLearning.process(spark, labeled, unlabeled,
          Some(ActiveLearning.HighPrecisionTradeoff))
        state = s
        questions = q
        q.write.format("noop").mode("overwrite").save()
      }
    } {
      val ids = questions.select($"evidence_id").as[String].collect()
      val n = math.min(10 * Labeled, Unlabeled)
      (ids.length.toLong, state.threshold.isDefined && ids.length == n &&
        ids.distinct.length == n)
    }
    tr.detach()
    val l = tr.layer("ml")
    val L = rec.layers
    L("ml.round_s") = rec.ops.last.seconds
    L("ml.jobs") = l.jobs.toDouble
    L("ml.tasks") = l.tasks.toDouble
    L("ml.job_ms.p50") = Stats.median(l.jobMs.toSeq)
  }
}
