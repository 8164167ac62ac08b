package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Measurement side of the repo benchmark (the stats, the DuckDB oracle
  * check and the result line are `perfbench/run.py`'s).
  *
  * One JVM, one workload per process. Protocol of a measured run:
  *  1. setup (input generation) several times, each timed;
  *  2. an untimed warm-up;
  *  3. closed-loop operations for `--seconds`: one driver thread
  *     submits the next operation only after the previous one completed
  *     and was checked (the check is never inside the timer); an
  *     operation started before the window closes runs to its end.
  * A traced run (`--trace 1`) instead runs the workload's layers one by
  * one under a [[LayerTrace]], after untraced runs that give the
  * overhead baseline. `batch_kg`'s traced run also carries the AL round
  * ([[AlRound]]) and restarts the session on `local[nproc/2]` for the
  * scaling leg; `query_suite`'s carries the streaming ingest
  * ([[StreamKg]]). A traced run fails unless it recorded every metric
  * in its workload's `layerMetrics`.
  *
  * Prints one line, `PERFBENCH {json}`, holding the raw records. */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, corrupt: Boolean)

  /** Everything a workload needs; `corrupt(i)` marks operations whose
    * observed output the check must damage (bench self-test). */
  final class Ctx(val args: Args, var spark: SparkSession, var cores: Int) {
    def seed: Long = args.seed
    def work: String = args.work
    def corrupt(i: Int): Boolean = args.corrupt && i % 2 == 1
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.get("trace").contains("1"), kv("work"), kv("data"),
      kv.get("corrupt").contains("1"))
    val wl = Workload.named(args.workload)
    val nproc = Runtime.getRuntime.availableProcessors
    val rec = new Recorder
    val ctx = new Ctx(args, session(nproc, args.work), nproc)
    rec.info("nproc") = nproc.toString
    def phase(name: String)(body: => Unit): Unit = {
      rec.info(s"$name.s") = f"${Stats.time(body)}%.2f"
      System.err.println(s"perfbench: phase $name ${rec.info(s"$name.s")} s, " +
        s"JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1000} s")
    }
    phase("setup") {
      for (_ <- 1 to (if (args.trace) 1 else wl.setupReps))
        rec.setupS += Stats.time(wl.setup(ctx))
    }
    phase("prepare")(wl.prepare(ctx))
    if (args.trace) {
      phase("trace")(wl.trace(ctx, rec))
      val missing = wl.layerMetrics.filterNot(n => rec.layers.get(n).exists(v => !v.isNaN && !v.isInfinite))
      require(missing.isEmpty, s"traced run did not record ${missing.mkString(", ")}")
      rec.info("layer_metrics") = wl.layerMetrics.mkString(",")
    } else {
      phase("warm_up")(wl.warmUp(ctx))
      phase("measure")(wl.measure(ctx, System.nanoTime() + (args.seconds * 1e9).toLong,
        "full", rec))
    }
    println("PERFBENCH " + rec.json)
    phase("stop")(ctx.spark.stop())
  }
}

/** Raw records of one run. */
final class Recorder {
  final case class Op(name: String, leg: String, seconds: Double,
      items: Long, ok: Boolean)

  val setupS = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]

  /** Time `run`, then (untimed) `check` it: returns (items, ok). */
  def op(name: String, leg: String)(run: => Unit)(
      check: => (Long, Boolean)): Boolean = {
    val s = Stats.time(run)
    val (items, ok) = check
    ops += Op(name, leg, s, items, ok)
    System.err.println(f"perfbench: op $name $leg $s%.3f s ok=$ok")
    ok
  }

  def json: String = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val opsJ = ops.map(o =>
      s"""{"name":${str(o.name)},"leg":${str(o.leg)},"s":${num(o.seconds)},""" +
        s""""items":${o.items},"ok":${o.ok}}""").mkString("[", ",", "]")
    val layersJ = layers.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val infoJ = info.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    s"""{"setup_s":${setupS.map(num).mkString("[", ",", "]")},"ops":$opsJ,""" +
      s""""layers":$layersJ,"info":$infoJ}"""
  }
}

object Stats {
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Heap still in use after a full collection: what the session keeps
  * alive once the workload's own caches are released. A per-layer
  * figure: across seeds it spreads 10-15% (soft references survive a
  * collection or not by their age), too much for a bounded metric. */
object Heap {
  def retainedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One benchmark workload. `setup` generates inputs under `ctx.work`
  * (timed, repeated); `prepare` computes reference outputs (untimed);
  * `measure` runs checked operations until `until` (nanoTime). */
trait Workload {
  /** The per-layer metrics this workload's traced run records. */
  def layerMetrics: Seq[String]
  /** Timed setups per measured run; `setup_s` is their median. */
  def setupReps: Int
  def setup(c: PerfBench.Ctx): Unit
  def prepare(c: PerfBench.Ctx): Unit
  def warmUp(c: PerfBench.Ctx): Unit
  def measure(c: PerfBench.Ctx, until: Long, leg: String, rec: Recorder): Unit
  def trace(c: PerfBench.Ctx, rec: Recorder): Unit
}

object Workload {
  def named(name: String): Workload = name match {
    case "batch_kg" => BatchKg
    case "query_suite" => QuerySuite
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
