package perfbench

/** Per-layer metrics, derived from a traced run's spans. Layers are
  * the engine's modules: `pset`, `streaming`, `operators`. Every traced
  * run prints every metric in `PerLayer`; a layer the workload never
  * calls reads 0, which is the measurement (that workload bypasses it). */
object Layers {
  private val stores = Seq("postings", "ann")
  private val storeOps = Seq("ingest", "tombstone", "maintain")

  /** Every per-layer metric: (name, unit). */
  val PerLayer: Seq[(String, String)] =
    Seq("pset.read.jobs_per_pset" -> "count",
      "pset.build_write.small_s" -> "s", "pset.build_write.large_s" -> "s",
      "pset.build_write.jobs_per_pset" -> "count", "pset.build_write.driver_gap_s" -> "s",
      "pset.consolidate_s" -> "s", "pset.consolidate.jobs" -> "count",
      "pset.consolidate.driver_gap_s" -> "s", "pset.consolidate.shuffle_write_mb" -> "MB") ++
      stores.flatMap(s => storeOps.map(o => s"streaming.$s.${o}_s" -> "s") ++ Seq(
        s"streaming.$s.maintain.jobs" -> "count", s"streaming.$s.maintain.driver_gap_s" -> "s",
        s"streaming.$s.bytes_per_input_byte" -> "ratio", s"streaming.$s.files" -> "count")) ++
      Seq("streaming.ann.serve.jobs" -> "count", "streaming.ann.serve.driver_gap_s" -> "s",
        "operators.indexstore.bm25_serve.jobs" -> "count",
        "operators.indexstore.bm25_serve.driver_gap_s" -> "s",
        "trace.build_s" -> "s", "trace.read_p50_s" -> "s", "trace.listener_s" -> "s")

  /** Spans below the first span named `root` (its descendants). */
  def under(st: Seq[SpanStats], root: String): Seq[SpanStats] = {
    val parent = st.map(s => s.span.id -> s.span.parent).toMap
    st.find(_.span.name == root).map(_.span.id) match {
      case None => Nil
      case Some(r) =>
        st.filter(s => Iterator.iterate(s.span.parent)(p => parent.getOrElse(p, -1))
          .takeWhile(_ >= 0).contains(r))
    }
  }

  private def named(st: Seq[SpanStats], prefix: String) = st.filter(_.span.name.startsWith(prefix))
  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def release(st: Seq[SpanStats], report: Main.Report, buildS: Double, readP50: Double): Unit = {
    val full = under(st, "release.full")
    val reads = named(full, "pset.read.")
    val builds = named(full, "pset.build_write.")
    report.put("pset.read.jobs_per_pset", mean(reads.map(_.jobs.toDouble)), "count")
    report.put("pset.build_write.small_s",
      med(named(builds, "pset.build_write.small").map(_.wallS)), "s")
    report.put("pset.build_write.large_s",
      med(named(builds, "pset.build_write.large").map(_.wallS)), "s")
    report.put("pset.build_write.jobs_per_pset", mean(builds.map(_.jobs.toDouble)), "count")
    report.put("pset.build_write.driver_gap_s", builds.map(_.driverGapS).sum, "s")
    val cons = named(full, "pset.consolidate")
    report.put("pset.consolidate_s", cons.map(_.wallS).sum, "s")
    report.put("pset.consolidate.jobs", cons.map(_.jobs).sum, "count")
    report.put("pset.consolidate.driver_gap_s", cons.map(_.driverGapS).sum, "s")
    report.put("pset.consolidate.shuffle_write_mb",
      cons.map(_.shuffleWriteBytes).sum / 1048576.0, "MB")
    report.put("trace.build_s", buildS, "s")
    report.put("trace.read_p50_s", readP50, "s")
  }

  def store(st: Seq[SpanStats], report: Main.Report, root: java.nio.file.Path,
      src: java.nio.file.Path, buildS: Double, readP50: Double): Unit = {
    for (s <- stores) {
      for (o <- storeOps)
        report.put(s"streaming.$s.${o}_s", named(st, s"streaming.$s.$o").map(_.wallS).sum, "s")
      val m = named(st, s"streaming.$s.maintain")
      report.put(s"streaming.$s.maintain.jobs", mean(m.map(_.jobs.toDouble)), "count")
      report.put(s"streaming.$s.maintain.driver_gap_s", mean(m.map(_.driverGapS)), "s")
      val (bytes, files) = StoreWorkload.usage(root.resolve(s))
      val input = java.nio.file.Files.size(src.resolve(if (s == "ann") "vecs.tsv" else "docs.tsv"))
      report.put(s"streaming.$s.bytes_per_input_byte", bytes.toDouble / input, "ratio")
      report.put(s"streaming.$s.files", files.toDouble, "count")
    }
    for (span <- Seq("streaming.ann.serve", "operators.indexstore.bm25_serve")) {
      val ss = named(st, span)
      report.put(s"$span.jobs", mean(ss.map(_.jobs.toDouble)), "count")
      report.put(s"$span.driver_gap_s", mean(ss.map(_.driverGapS)), "s")
    }
    report.put("trace.build_s", buildS, "s")
    report.put("trace.read_p50_s", readP50, "s")
  }

  /** Print one line per span name: calls, wall, jobs, driver gap. */
  def summary(st: Seq[SpanStats]): Unit =
    st.groupBy(_.span.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      println(f"  span $n%-36s calls ${ss.size}%3d wall ${ss.map(_.wallS).sum}%8.3f s " +
        f"jobs ${ss.map(_.jobs).sum}%5d gap ${ss.map(_.driverGapS).sum}%7.3f s " +
        f"shuffle-w ${ss.map(_.shuffleWriteBytes).sum / 1048576.0}%8.2f MB")
    }
}
