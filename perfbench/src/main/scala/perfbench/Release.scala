package perfbench

import graft.core.Markers
import graft.pset._
import java.nio.file.Path
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The `pharmacodb_release` operations: the pipeline configuration over
  * generated inputs, a full release from raw PSet exports, and the
  * checks of the final tables against the generator's closed-form facts. */
object Release {

  /** The pipeline configuration over generated inputs under `raw`, with
    * no optional phase-3 to phase-6 input, and the compound metadata. */
  def config(spark: SparkSession, raw: Path, out: Path,
      names: Seq[String]): (PipelineConfig, DataFrame) = {
    val cfg = PipelineConfig(
      rawDir = raw.toString,
      workDir = out.resolve("work").toString,
      finalDir = out.resolve("final").toString,
      psetNames = names)
    val compoundMeta = spark.read.option("header", "true")
      .schema(StructType(Seq("name", "compound_uid").map(StructField(_, StringType))))
      .csv(raw.resolve("meta/compound_meta.csv").toString)
    (cfg, compoundMeta)
  }

  /** One release into empty dirs. Untraced it is `Pipeline.run`; traced
    * it makes the same phase calls in `Pipeline.run`'s order, each inside
    * a span, so the per-phase split tracks `Pipeline.run` only as long as
    * its orchestration stays as it is. */
  def run(spark: SparkSession, tr: Tracer, cfg: PipelineConfig,
      compoundMeta: DataFrame, large: Set[String]): Unit =
    if (!tr.enabled) Pipeline.run(spark, cfg, compoundMeta)
    else tracedRun(spark, tr, cfg, compoundMeta, large)

  private def tracedRun(spark: SparkSession, tr: Tracer, cfg: PipelineConfig,
      compoundMeta: DataFrame, large: Set[String]): Unit = {
    val fs = new HPath(cfg.workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    cfg.psetNames.foreach { name =>
      val size = if (large(name)) "large" else "small"
      val pset = tr.span(s"pset.read.$size")(PSetReader.read(spark, cfg.rawDir, name))
      tr.span(s"pset.build_write.$size") {
        val tables = PSetBuilders.buildAll(spark, pset)
        PSetBuilders.writeAll(tables, name, cfg.workDir)
        Markers.forceWrite(fs, new HPath(s"${cfg.workDir}/$name/_graft_pset_done"),
          tables.keys.toSeq.sorted.mkString("\n"))
      }
    }
    tr.span("pset.consolidate")(
      Consolidator.combineAll(spark, cfg.workDir, cfg.finalDir, compoundMeta))
  }

  /** Foreign keys of the final tables: (table, column, dimension whose
    * `id` the column holds). */
  val ForeignKeys: Seq[(String, String, String)] = Seq(
    ("cell", "tissue_id", "tissue"),
    ("experiment", "cell_id", "cell"), ("experiment", "compound_id", "compound"),
    ("experiment", "dataset_id", "dataset"), ("experiment", "tissue_id", "tissue"),
    ("dose_response", "experiment_id", "experiment"),
    ("profile", "experiment_id", "experiment"),
    ("dataset_cell", "cell_id", "cell"), ("dataset_compound", "compound_id", "compound"),
    ("dataset_tissue", "tissue_id", "tissue"), ("mol_cell", "cell_id", "cell"),
    ("gene_annotation", "gene_id", "gene"))

  /** Tables whose `id` column must be dense 1..n. */
  val DenseIds: Seq[String] = Seq("tissue", "gene", "dataset", "compound", "cell",
    "experiment", "dose_response")

  /** Passes over the final tables: one read of 15 small tables is a
    * noisy sample (job overhead dominates), three give a steady median. */
  val ReadPasses = 3

  /** Compare the final tables with the facts. Each pass reads every
    * table once, collecting the key columns the checks need, as a
    * consumer loading the release does; the first pass's data is
    * compared on the driver. Returns the failed check names and the
    * seconds of each table read, pass by pass. */
  def check(spark: SparkSession, finalDir: String,
      facts: ReleaseFacts): (Seq[String], Seq[Double]) = {
    val keyCols = mutable.LinkedHashMap.empty[String, Seq[String]]
    def need(t: String, c: String): Unit = keyCols(t) = (keyCols.getOrElse(t, Nil) :+ c).distinct
    facts.rowCounts.keys.toSeq.sorted.foreach(keyCols.getOrElseUpdate(_, Nil))
    ForeignKeys.foreach { case (t, c, dim) => need(t, c); need(dim, "id") }
    DenseIds.foreach(need(_, "id"))
    need("dose_response", "dose"); need("dose_response", "response")
    val reads = mutable.ArrayBuffer.empty[Double]
    def readAll(): Map[String, (Int, Map[String, Array[Any]])] = keyCols.map { case (t, cs) =>
      val (rows, s) = Main.timed {
        val df = spark.read.parquet(s"$finalDir/$t.parquet")
        (if (cs.isEmpty) df.select(lit(1)) else df.select(cs.map(col): _*)).collect()
      }
      reads += s
      t -> (rows.length, cs.zipWithIndex.map { case (c, i) => c -> rows.map(r => r.get(i): Any) }.toMap)
    }.toMap
    val data = readAll()
    for (_ <- 1 until ReadPasses) readAll()
    def longs(t: String, c: String) = data(t)._2(c).collect {
      case v: Long => v; case v: Int => v.toLong
    }
    val counts = facts.rowCounts.toSeq.sorted.collect {
      case (t, want) if data(t)._1 != want => s"rows.$t"
    }
    val dr = data("dose_response")._2
    val doses = dr("dose").map(v => math.round(v.asInstanceOf[Double] * 1e6)).sum
    val resps = dr("response").map(v => math.round(v.asInstanceOf[Double] * 1e3)).sum
    val sums = Seq("sum.dose" -> (doses == facts.doseMicros),
      "sum.response" -> (resps == facts.responseMillis)).collect { case (n, false) => n }
    val fks = ForeignKeys.collect {
      case (t, c, dim) if {
        val keys = longs(dim, "id").toSet
        data(t)._2(c).exists(v => v != null && !keys.contains(v.asInstanceOf[Number].longValue))
      } => s"fk.$t.$c"
    }
    val dense = DenseIds.collect {
      case t if longs(t, "id").sorted.toSeq != (1L to data(t)._1.toLong) => s"dense.$t"
    }
    (counts ++ sums ++ fks ++ dense, reads.toSeq)
  }

  /** Number of named checks `check` makes. */
  def checkCount(facts: ReleaseFacts): Int =
    facts.rowCounts.size + 2 + ForeignKeys.size + DenseIds.size
}
