package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one JVM on local[N].
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <scratch dir> [--traces <dir for span files>]
  * }}}
  * Prints the figures by name as text and, as the last stdout line,
  * one JSON object `{correct, attempted, failed, metrics}`. Exits 1 when
  * any correctness check failed. */
object Main {

  val Workloads: Seq[String] = Seq("pharmacodb_release", "store_churn")

  /** Every end-to-end metric: (name, unit). An untraced run prints these. */
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "build_s" -> "s", "read_p50_s" -> "s", "peak_rss_mb" -> "MB")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, traces: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(m.getOrElse("traces", need("work"))).toAbsolutePath)
  }

  /** Metrics of one run: name -> (value, unit), in print order. */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    /** Count one checked operation; a false `ok` is a failure. */
    def op(name: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) { failed += 1; failures += name }
    }
    /** Count `total` checked operations of which `fails` failed. */
    def checks(prefix: String, total: Int, fails: Seq[String]): Unit = {
      attempted += total
      failed += fails.size
      failures ++= fails.map(f => s"$prefix.$f")
    }
    def json: String = {
      val ms = metrics.map { case (n, (v, u)) => s""""$n": {"value": $v, "unit": "$u"}""" }
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${ms.mkString(", ")}}}"""
    }
  }

  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.configure(SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Wait for the listener, credit its jobs to spans, write the spans. */
  def finishTrace(spark: SparkSession, tr: Tracer, a: Args): Seq[SpanStats] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val st = tr.stats
    Files.createDirectories(a.traces)
    Files.write(a.traces.resolve(s"${tr.runId}.jsonl"),
      Tracer.toJsonLines(st).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Layers.summary(st)
    st
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val start = System.nanoTime()
    Files.createDirectories(a.work)
    val (spark, sessionS) = timed(session(a.work))
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}")
    if (a.trace) spark.sparkContext.addSparkListener(tracer.listener)
    val report = new Report
    a.workload match {
      case "pharmacodb_release" => ReleaseWorkload.run(spark, a, tracer, report, sessionS)
      case "store_churn" => StoreWorkload.run(spark, a, tracer, report, sessionS)
      case other => sys.error(s"unknown workload $other")
    }
    if (!a.trace) report.put("peak_rss_mb", peakRssMb(), "MB")
    else {
      report.put("trace.listener_s", tracer.listener.busyNs / 1e9, "s")
      // layers this workload never calls read 0
      for ((n, u) <- Layers.PerLayer if !report.metrics.contains(n)) report.put(n, 0.0, u)
    }
    val expected = if (a.trace) Layers.PerLayer else EndToEnd
    require(report.metrics.keySet == expected.map(_._1).toSet,
      s"metrics ${report.metrics.keys.mkString(",")} differ from ${expected.map(_._1).mkString(",")}")
    spark.stop()
    println(f"jvm wall ${(System.nanoTime() - start) / 1e9}%.3f s")
    if (report.failures.nonEmpty) println(s"FAILED checks: ${report.failures.mkString(", ")}")
    println(f"failed_op_share ${report.failed.toDouble / report.attempted}%.4f " +
      s"(${report.failed} failed of ${report.attempted} attempted)")
    println(report.json)
    sys.exit(if (report.failed == 0) 0 else 1)
  }
}
