package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Shape of one generated PSet. */
final case class PsetSpec(name: String, cells: Int, drugs: Int,
    experiments: Int, doses: Int, genes: Int, large: Boolean)

/** What one generated PSet holds, kept in the form the release checks
  * compare the final tables against. Sums are exact integers: doses are
  * written with six decimals and responses with three, so
  * `round(dose * 1e6)` and `round(response * 1e3)` recover them. */
final case class PsetFacts(name: String, cells: Set[Int], drugs: Set[Int],
    tissues: Set[Int], genes: Set[Int], experiments: Int, doseRows: Long,
    doseMicros: Long, responseMillis: Long)

/** Closed-form row counts and sums of a whole release's final tables. */
final case class ReleaseFacts(psets: Seq[PsetFacts]) {
  private def union(f: PsetFacts => Set[Int]): Int = psets.map(f).reduce(_ ++ _).size
  def rowCounts: Map[String, Long] = Map(
    "dataset" -> psets.size.toLong,
    "tissue" -> union(_.tissues).toLong,
    "cell" -> union(_.cells).toLong,
    "compound" -> union(_.drugs).toLong,
    "compound_annotation" -> union(_.drugs).toLong,
    "gene" -> union(_.genes).toLong,
    "gene_annotation" -> union(_.genes).toLong,
    "experiment" -> psets.map(_.experiments.toLong).sum,
    "profile" -> psets.map(_.experiments.toLong).sum,
    "dose_response" -> psets.map(_.doseRows).sum,
    "dataset_cell" -> psets.map(_.cells.size.toLong).sum,
    "dataset_compound" -> psets.map(_.drugs.size.toLong).sum,
    "dataset_tissue" -> psets.map(_.tissues.size.toLong).sum,
    "mol_cell" -> psets.map(_.cells.size.toLong * PsetGen.MolTypes.size).sum,
    "dataset_statistics" -> psets.size.toLong)
  def doseMicros: Long = psets.map(_.doseMicros).sum
  def responseMillis: Long = psets.map(_.responseMillis).sum
}

/** Seeded writer of PharmacoDB release inputs: PSet exports in the
  * rPharmacoDI `slot$subitem@item.csv` layout that `PSetReader` parses,
  * plus the compound metadata consolidation joins. The optional
  * phase-3 to phase-6 inputs of `PipelineConfig` are not written: the
  * release runs phases 1 and 2 only.
  *
  * Entities come from fixed universes (cells `CL#####`, compounds
  * `DR####`, genes `ENSG###########.v`, tissues `tissue##`). A cell's
  * tissue and a compound's annotation are functions of the entity, so
  * PSets agree wherever they overlap, as curated exports do. Output is
  * byte-identical for a seed.
  */
object PsetGen {
  val CellUniverse = 4000
  val DrugUniverse = 600
  val GeneUniverse = 6000
  val Tissues = 24
  val MolTypes: Seq[String] = Seq("rna", "cnv")
  val Names: Seq[String] = Seq("Alpha", "Bravo", "Charlie", "Delta", "Echo",
    "Foxtrot", "Golf", "Hotel", "India", "Juliet")

  def cellName(i: Int): String = f"CL$i%05d"
  def drugName(i: Int): String = f"DR$i%04d"
  def geneName(i: Int): String = f"ENSG$i%011d"
  def geneVersioned(i: Int): String = s"${geneName(i)}.${i % 9 + 1}"
  def tissueOf(cell: Int): Int = cell % Tissues
  def tissueName(t: Int): String = f"tissue$t%02d"

  /** The release's PSet shapes: `large` PSets first, skewed like real
    * PharmacoDB (a few big screens, many small ones). */
  def specs(large: Int, small: Int, largeExperiments: Int,
      smallExperiments: Seq[Int]): Seq[PsetSpec] = {
    val names = Names.take(large + small)
    names.zipWithIndex.map { case (n, i) =>
      if (i < large) PsetSpec(n, 400, 160, largeExperiments, 9, 1500, large = true)
      else {
        val e = smallExperiments((i - large) % smallExperiments.size)
        PsetSpec(n, 60 + e / 20, 20 + e / 100, e, 6, 400, large = false)
      }
    }
  }

  private def psetSeed(seed: Long, name: String): Long =
    seed * 1000003L + name.hashCode.toLong

  private def sample(rng: java.util.Random, universe: Int, n: Int): Array[Int] = {
    val s = mutable.TreeSet.empty[Int]
    while (s.size < n) s += rng.nextInt(universe)
    s.toArray
  }

  private def write(dir: Path, file: String, sb: StringBuilder): Unit =
    Files.write(dir.resolve(file), sb.toString.getBytes(UTF_8))

  private def fixed(v: Long, decimals: Int): String = {
    val scale = math.pow(10, decimals).toLong
    s"${v / scale}.${s"%0${decimals}d".format(v % scale)}"
  }

  /** Write `{root}/{name}_PSet/` for one spec; returns its facts. */
  def writePset(root: Path, spec: PsetSpec, seed: Long): PsetFacts = {
    val rng = new java.util.Random(psetSeed(seed, spec.name))
    val dir = root.resolve(s"${spec.name}_PSet")
    Files.createDirectories(dir)
    val cells = sample(rng, CellUniverse, spec.cells)
    val drugs = sample(rng, DrugUniverse, spec.drugs)
    val genes = sample(rng, GeneUniverse, spec.genes)

    val cell = new StringBuilder("cellid,tissueid\n")
    cells.foreach(c => cell ++= s"${cellName(c)},${tissueName(tissueOf(c))}\n")
    write(dir, "cell.csv", cell)

    val drug = new StringBuilder("drugid,smiles,inchikey,cid,FDA\n")
    drugs.foreach(d => drug ++=
      f"${drugName(d)},C${d % 7 + 1}O${d % 5},IK$d%010d,${d + 1000}.0,${d % 3 == 0}\n")
    write(dir, "drug.csv", drug)

    val info = new StringBuilder(".rownames,cellid,drugid\n")
    val doseHdr = (1 to spec.doses).map(k => s"doses$k").mkString(".exp_id,", ",", "\n")
    val dose = new StringBuilder(doseHdr)
    val viab = new StringBuilder(doseHdr)
    val prof = new StringBuilder(
      ".rownames,aac_recomputed,ic50_recomputed,HS,einf,ec50,DSS1,DSS2,DSS3\n")
    var doseRows, doseMicros, respMillis = 0L
    for (e <- 0 until spec.experiments) {
      val id = s"${spec.name}x$e"
      info ++= s"$id,${cellName(cells(rng.nextInt(cells.length)))}," +
        s"${drugName(drugs(rng.nextInt(drugs.length)))}\n"
      // a third of the curves lose their top dose; one response in 40 is NA
      val present = spec.doses - (if (rng.nextInt(3) == 0) 1 else 0)
      dose ++= id; viab ++= id
      for (k <- 0 until spec.doses) {
        if (k < present) {
          val d = 1L + rng.nextInt(100000000)
          dose ++= "," ++= fixed(d, 6)
          if (rng.nextInt(40) == 0) viab ++= ",NA"
          else {
            val r = rng.nextInt(120001).toLong
            viab ++= "," ++= fixed(r, 3)
            doseRows += 1; doseMicros += d; respMillis += r
          }
        } else { dose ++= ",NA"; viab ++= ",NA" }
      }
      dose ++= "\n"; viab ++= "\n"
      prof ++= id
      for (_ <- 0 until 8) prof ++= "," ++= fixed(rng.nextInt(100000).toLong, 4)
      prof ++= "\n"
    }
    write(dir, "sensitivity$info.csv", info)
    write(dir, "sensitivity$raw.Dose.csv", dose)
    write(dir, "sensitivity$raw.Viability.csv", viab)
    write(dir, "sensitivity$profiles.csv", prof)

    MolTypes.zipWithIndex.foreach { case (m, mi) =>
      val row = new StringBuilder(".features\n")
      genes.filter(g => mi == 0 || g % 2 == 0).foreach(g => row ++= geneVersioned(g) ++= "\n")
      write(dir, s"molecularProfiles$$$m$$rowData.csv", row)
      val colData = new StringBuilder("cellid\n")
      cells.foreach(c => for (_ <- 0 to (c + mi) % 3) colData ++= cellName(c) ++= "\n")
      write(dir, s"molecularProfiles$$$m$$colData.csv", colData)
    }

    PsetFacts(spec.name, cells.toSet, drugs.toSet, cells.map(tissueOf).toSet,
      genes.toSet, spec.experiments, doseRows, doseMicros, respMillis)
  }

  /** Write the compound metadata `combineAll` joins (one row per third
    * compound of the universe) to `{root}/meta/compound_meta.csv`. */
  def writeMeta(root: Path): Unit = {
    val dir = root.resolve("meta")
    Files.createDirectories(dir)
    val meta = new StringBuilder("name,compound_uid\n")
    for (d <- 0 until DrugUniverse by 3) meta ++= f"${drugName(d)},UID$d%05d\n"
    write(dir, "compound_meta.csv", meta)
  }

  /** Write a whole release's inputs under `root`; returns its facts. */
  def writeRelease(root: Path, specs: Seq[PsetSpec], seed: Long): ReleaseFacts = {
    val facts = specs.map(writePset(root, _, seed))
    writeMeta(root)
    ReleaseFacts(facts)
  }

  /** SHA-256 over every file under `root`, in path order — the
    * byte-stability probe. */
  def digest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(root)
    try files.filter(Files.isRegularFile(_)).sorted().forEach { f =>
      md.update(root.relativize(f).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(f))
    } finally files.close()
    md.digest().map(b => f"$b%02x").mkString
  }
}
