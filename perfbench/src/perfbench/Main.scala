package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One process runs one workload:
  * {{{
  *   perfbench.Main --workload ingest|surql|registry --seed N
  *     --seconds S --trace 0|1 --cores N --work DIR --data DIR
  *     --artifact FILE [--record DIR]
  * }}}
  * `perfbench/run.py` builds the program and calls this; see
  * perfbench/README.md. The last stdout line is the result object.
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, work: String,
                        data: String, artifact: String, record: Option[String])

  /** What a workload hands back: per-op latencies, set-up repetitions,
    * items completed, failures, and (traced) per-layer metrics. */
  final case class Outcome(setup: Seq[Double], latencies: Seq[Double],
                           items: Double, attempted: Int,
                           failures: Seq[String],
                           layers: Map[String, Double],
                           detail: Map[String, Any])

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("work"), m("data"),
      m("artifact"), m.get("record"))
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    Files.createDirectories(Paths.get(conf.work))
    val spark = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    conf.record match {
      case Some(out) => Registry.record(spark, conf, out); spark.stop()
      case None => measure(spark, conf)
    }
  }

  private def measure(spark: SparkSession, conf: Conf): Unit = {
    val tracer = new Tracer(spark, conf.trace)

    val t0 = System.nanoTime()
    val out = conf.workload match {
      case "ingest" => Ingest.run(spark, conf, tracer)
      case "surql" => Surql.run(spark, conf, tracer)
      case "registry" => Registry.run(spark, conf, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.close()
    spark.stop()

    val failed = out.failures.length
    val rss = peakRssMb()
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(out.setup), "s"),
      ("latency_p50_s", Stats.median(out.latencies), "s"),
      ("items_per_s", out.items / out.latencies.sum, "1/s"))
    val layers = out.layers + ("jvm.peak_rss_mb" -> rss)
    val metrics: Seq[(String, Double, String)] =
      if (conf.trace) Layers.names.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      else e2e
    def named(ms: Seq[(String, Double, String)]) =
      ListMap(ms.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)
    val result = ListMap(
      "correct" -> (failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted,
      "failed" -> failed,
      "metrics" -> named(metrics))

    val (p90, p90n) = Stats.tail(out.latencies)
    val artifact = ListMap(
      "workload" -> conf.workload, "seed" -> conf.seed,
      "seconds" -> conf.seconds, "trace" -> conf.trace, "cores" -> conf.cores,
      "wall_s" -> wall, "result" -> result,
      "end_to_end" -> named(e2e),
      "peak_rss_mb" -> rss,
      "latency" -> ListMap("samples" -> out.latencies.length,
        "p50_s" -> Stats.median(out.latencies),
        "tail_pct" -> p90n, "tail_s" -> p90, "all_s" -> out.latencies),
      "setup_all_s" -> out.setup,
      "failures" -> out.failures,
      "layers" -> ListMap(out.layers.toSeq.sortBy(_._1): _*),
      "detail" -> ListMap(out.detail.toSeq.sortBy(_._1): _*),
      "spans" -> tracer.dump())
    Files.write(Paths.get(conf.artifact), Json.write(artifact).getBytes(StandardCharsets.UTF_8))
    out.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    println(Json.write(result))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Every per-layer metric the traced run reports, with its unit. A
  * layer a workload does not exercise reports 0 there. */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "ingest.WikidataSource.s" -> "s",
    "ingest.WikidataSource.bytes_read" -> "bytes",
    "ingest.WikidataSource.kept_ratio" -> "ratio",
    "ingest.Transform.s" -> "s",
    "ingest.Transform.claims_out" -> "count",
    "ingest.Load.s" -> "s",
    "ingest.Load.bytes_written" -> "bytes",
    "ingest.Load.files_written" -> "count",
    "ingest.Load.spill_bytes" -> "bytes",
    "ingest.Load.stored_bytes_ratio" -> "ratio",
    "query.SurrealQL.compile_s" -> "s",
    "query.plan.s" -> "s",
    "query.exec.s" -> "s",
    "query.exec.jobs" -> "count",
    "query.exec.tasks" -> "count",
    "query.Paths.shuffle_bytes" -> "bytes",
    "query.Paths.rows_examined_per_row" -> "ratio",
    "operators.build_s" -> "s",
    "operators.jobs" -> "count",
    "operators.snapshot_bytes" -> "bytes",
    "queries.exec_s" -> "s",
    "spark.executor_run_s" -> "s",
    "spark.scheduler_delay_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "jvm.peak_rss_mb" -> "MB",
    "trace.op_p50_s" -> "s",
    "trace.unattributed_s" -> "s")

  /** The `spark.*` metrics from summed counters, per op. */
  def spark(c: Counters, ops: Int): Map[String, Double] = Map(
    "spark.executor_run_s" -> c.runMs / 1e3 / ops,
    "spark.scheduler_delay_s" -> c.schedDelayMs / 1e3 / ops,
    "spark.gc_s" -> c.gcMs / 1e3 / ops,
    "spark.shuffle_bytes" -> (c.shuffleWrite + c.shuffleRead).toDouble / ops,
    "spark.spill_bytes" -> c.spill.toDouble / ops)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile (in whole percent, at most 90) with at
    * least ten samples beyond it, and its value; (NaN, 0) when there
    * are fewer than 11 samples. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val n = xs.length
    if (n < 11) (Double.NaN, 0)
    else {
      val pct = math.min(90, math.floor(100.0 * (n - 10) / n).toInt)
      val s = xs.sorted
      val idx = math.min(n - 1, math.ceil(pct / 100.0 * n).toInt - 1)
      (s(math.max(idx, 0)), pct)
    }
  }
}

/** JSON for the result line and the artifact, through the Jackson
  * Scala module on Spark's classpath. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
