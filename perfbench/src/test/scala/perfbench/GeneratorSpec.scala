package perfbench

import graft.pset.{PSetBuilders, PSetReader}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .getOrCreate()
  private val specs = PsetGen.specs(large = 1, small = 1, largeExperiments = 40,
    smallExperiments = Seq(10))

  private def tmp() = Files.createTempDirectory("perfbench-gen")

  test("release inputs are byte-identical for a seed and differ across seeds") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    PsetGen.writeRelease(a, specs, 7)
    PsetGen.writeRelease(b, specs, 7)
    PsetGen.writeRelease(c, specs, 8)
    assert(PsetGen.digest(a) == PsetGen.digest(b))
    assert(PsetGen.digest(a) != PsetGen.digest(c))
  }

  test("the stream is byte-identical for a seed and differs across seeds") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    StreamGen.write(a, 3); StreamGen.write(b, 3); StreamGen.write(c, 4)
    assert(PsetGen.digest(a) == PsetGen.digest(b))
    assert(PsetGen.digest(a) != PsetGen.digest(c))
  }

  test("PSetReader parses a generated PSet into every slot buildAll reads") {
    val root = tmp()
    val facts = PsetGen.writeRelease(root, specs, 1)
    val pset = PSetReader.read(spark, root.toString, specs.head.name)
    assert(pset.tables.keySet == Set(Seq("cell"), Seq("drug"), Seq("sensitivity", "info"),
      Seq("sensitivity", "raw.Dose"), Seq("sensitivity", "raw.Viability"),
      Seq("sensitivity", "profiles")) ++ PsetGen.MolTypes.flatMap(m =>
        Seq(Seq("molecularProfiles", m, "rowData"), Seq("molecularProfiles", m, "colData"))))
    val tables = PSetBuilders.buildAll(spark, pset)
    val f = facts.psets.head
    assert(tables("experiment").count() == f.experiments)
    assert(tables("dose_response").count() == f.doseRows)
    assert(tables("cell").count() == f.cells.size)
    assert(tables("gene").count() == f.genes.size)
    assert(tables("mol_cell").count() == f.cells.size * PsetGen.MolTypes.size)
  }

  test("a traced release matches the closed-form facts") {
    val root = tmp()
    val facts = PsetGen.writeRelease(root, specs, 5)
    val (cfg, meta) = Release.config(spark, root, tmp(), specs.map(_.name))
    val tr = new Tracer(enabled = true, "spec")
    spark.sparkContext.addSparkListener(tr.listener)
    try Release.run(spark, tr, cfg, meta, Set(specs.head.name))
    finally spark.sparkContext.removeSparkListener(tr.listener)
    val (failures, reads) = Release.check(spark, cfg.finalDir, facts)
    assert(failures.isEmpty)
    assert(reads.size == facts.rowCounts.size * Release.ReadPasses)
    assert(tr.recorded.map(_.name).toSet == Set("pset.read.large", "pset.read.small",
      "pset.build_write.large", "pset.build_write.small", "pset.consolidate"))
  }
}
