package perfbench

import org.apache.spark.sql.SparkSession

/** `pharmacodb_release`: one full `Pipeline.run` (phases 1 and 2: the
  * per-PSet tables, then consolidation) over generated PSet exports into
  * empty dirs, then `Release.ReadPasses` reads of each final table (what
  * consumers loading the release do), which the checks compare with the
  * generator's closed-form facts.
  *
  * There is no warm-up: a release is a batch job that starts in a fresh
  * JVM, so its users pay the cold start, and the release measures it. */
object ReleaseWorkload {
  // 1 large + 1 small PSet: PharmacoDB's skew (big screens beside small
  // ones). Every PSet pays the same job floor, so more PSets add time,
  // not coverage. The large one (~85k dose rows) is as big as one run's
  // time budget allows, so the per-PSet builds and consolidation carry
  // some data volume beside their job floor.
  val Specs: Seq[PsetSpec] = PsetGen.specs(large = 1, small = 1,
    largeExperiments = 10000, smallExperiments = Seq(300))

  def run(spark: SparkSession, a: Main.Args, tr: Tracer, report: Main.Report,
      sessionS: Double): Unit = {
    // set-up: the inputs three times (median time; must be equal bytes)
    val gens = (0 until 3).map { i =>
      val root = a.work.resolve(s"gen-$i")
      val (facts, s) = Main.timed(PsetGen.writeRelease(root, Specs, a.seed))
      (root, facts, s)
    }
    report.op("generator.byte_stable", gens.map(g => PsetGen.digest(g._1)).distinct.size == 1)
    val (raw, facts, _) = gens.head
    val genS = Stats.median(gens.map(_._3))
    if (!tr.enabled) report.put("setup_s", sessionS + genS, "s")
    println(f"setup: session $sessionS%.3f s + input generation (median of 3) $genS%.3f s")

    val (cfg, meta) = Release.config(spark, raw, a.work.resolve("release"), Specs.map(_.name))
    val large = Specs.filter(_.large).map(_.name).toSet
    val (_, buildS) = Main.timed(tr.span("release.full")(Release.run(spark, tr, cfg, meta, large)))
    val (failures, reads) = tr.span("release.read")(Release.check(spark, cfg.finalDir, facts))
    report.checks("release", Release.checkCount(facts), failures)
    val p50 = Stats.median(reads)
    println(f"release_full_s $buildS%.3f s (${Specs.size} PSets, " +
      s"${facts.rowCounts("experiment")} experiments, ${facts.rowCounts("dose_response")} dose rows)")
    val passP50 = reads.grouped(facts.rowCounts.size).map(Stats.median).map(m => f"$m%.4f")
    println(f"read_p50_s $p50%.4f s of ${reads.size} table reads (pass medians " +
      s"${passP50.mkString(" ")}); read_tail_s ${Stats.tailText(reads)}")
    if (!tr.enabled) {
      report.put("build_s", buildS, "s")
      report.put("read_p50_s", p50, "s")
    } else Layers.release(Main.finishTrace(spark, tr, a), report, buildS, p50)
  }
}
