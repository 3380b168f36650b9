package perfbench

import graft.operators.{IndexStore, Retrieval, Similarity}
import graft.streaming.{AnnIngest, PostingsIngest}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `store_churn`: the grown-store lifecycle of the postings (BM25) and
  * ANN stores. For each store, each of `Cycles` batches runs
  * `ingestBatch`, a tombstone of a few live ids and `maintain`; then a
  * takedown lands after the last maintain, so it is live (unpurged)
  * while one client serves rounds (a BM25 request, then an ANN request;
  * closed loop: the next request goes out when the previous one returns).
  * The number of rounds is `rounds(seconds)`, a function of the run's
  * `--seconds` alone, so every run takes its serve samples at the same
  * points after `maintain` however long the writes took.
  *
  * Every serve is checked: no tombstoned id may appear. After the
  * rounds, untimed, each store serves its default queries, which are
  * compared with the engine's one-shot answers over the surviving
  * corpus: `Retrieval.bm25TopK` (equal) and `Similarity.cosineTopK`
  * (recall at the grown-ANN gate row's bound). */
object StoreWorkload {
  val Cycles = 1
  val TombstonesPerCycle = 3
  val AnnRecallBound = 0.4 // the grown-ANN gate row's bound (k = 5, 10 queries)
  val MinRounds = 3
  val SecondsPerRound = 6 // one round takes about 4 s on 4 cores

  /** Serve rounds of a run given `--seconds`: 3 at 18. */
  def rounds(seconds: Int): Int = math.max(MinRounds, seconds / SecondsPerRound)

  final case class Serve(store: String, seconds: Double)

  def run(spark: SparkSession, a: Main.Args, tr: Tracer, report: Main.Report,
      sessionS: Double): Unit = {
    import spark.implicits._
    val gens = (0 until 3).map { i =>
      val dir = a.work.resolve(s"gen-$i")
      (dir, Main.timed(StreamGen.write(dir, a.seed))._2)
    }
    report.op("generator.byte_stable", gens.map(g => PsetGen.digest(g._1)).distinct.size == 1)
    val genS = Stats.median(gens.map(_._2))
    if (!tr.enabled) report.put("setup_s", sessionS + genS, "s")
    println(f"setup: session $sessionS%.3f s + stream generation (median of 3) $genS%.3f s")
    val src = gens.head._1
    val docs = StreamGen.docs(spark, src)
    val vecs = StreamGen.vecs(spark, src)
    val root = a.work.resolve("stores")
    def store(s: String) = root.resolve(s"$s/store").toString
    def index(s: String) = root.resolve(s"$s/index").toString

    val perDoc = StreamGen.Docs / Cycles
    val perVec = StreamGen.Vecs / Cycles
    val rng = new java.util.Random(a.seed * 97L + 1L)
    val deadDocs = mutable.LinkedHashSet.empty[Long]
    val deadVecs = mutable.LinkedHashSet.empty[Long]
    // a few live ids below `below`; ids under 10 stay live (they are the
    // default query ids of the ANN check)
    def pick(dead: mutable.Set[Long], below: Int): Seq[Long] = {
      val out = mutable.LinkedHashSet.empty[Long]
      while (out.size < TombstonesPerCycle) {
        val id = 10L + rng.nextInt(below - 10)
        if (!dead(id)) out += id
      }
      dead ++= out
      out.toSeq
    }

    val serves = mutable.ArrayBuffer.empty[Serve]
    var measuring = true // the check serves after the rounds are neither timed nor traced
    def serve(name: String, span: String, idCol: String, dead: Set[Long])(
        df: => DataFrame): Array[Row] = {
      val rows =
        if (!measuring) df.collect()
        else {
          val (rows, s) = Main.timed(tr.span(span)(df.collect()))
          serves += Serve(name, s)
          rows
        }
      val ids = rows.map(_.getAs[Long](idCol))
      report.op(s"serve.$name.no_tombstoned_id", ids.nonEmpty && !ids.exists(dead))
      rows
    }
    def bm25(d: DataFrame, qterms: Option[Seq[(Long, String)]]) = serve("bm25",
        "operators.indexstore.bm25_serve", "doc_id", deadDocs.toSet)(
      IndexStore.bm25FromIndex(d, spark, index("postings"), Retrieval.NQueries,
        Retrieval.QueryLen, Retrieval.K, qtermsIn = qterms))
    def ann(q: DataFrame) = serve("ann", "streaming.ann.serve", "neighbor_id",
      deadVecs.toSet)(AnnIngest.searchGrown(q, spark, index("ann"), nQueries = 10, k = 5))

    val cycleS = mutable.ArrayBuffer.empty[Double]
    for (c <- 0 until Cycles) {
      val batch = docs.filter(col("doc_id") >= c * perDoc && col("doc_id") < (c + 1) * perDoc)
      val vBatch = vecs.filter(col("vec_id") >= c * perVec && col("vec_id") < (c + 1) * perVec)
      val killD = pick(deadDocs, (c + 1) * perDoc).toDF("doc_id")
      val killV = pick(deadVecs, (c + 1) * perVec).toDF("vec_id")
      val (_, s) = Main.timed {
        tr.span("streaming.postings.ingest")(PostingsIngest.ingestBatch(batch, c, store("postings")))
        tr.span("streaming.postings.tombstone")(PostingsIngest.tombstoneDocs(killD, c, index("postings")))
        tr.span("streaming.postings.maintain")(
          PostingsIngest.maintain(spark, store("postings"), index("postings")))
        tr.span("streaming.ann.ingest")(AnnIngest.ingestBatch(vBatch, c, store("ann")))
        tr.span("streaming.ann.tombstone")(AnnIngest.tombstone(killV, c, index("ann")))
        tr.span("streaming.ann.maintain")(AnnIngest.maintain(spark, store("ann"), index("ann")))
      }
      cycleS += s
      println(f"cycle $c: ingest + tombstone + maintain of 2 stores $s%.3f s")
    }
    // a takedown landing after the last maintain stays live (unpurged),
    // so the serves must hide it
    val (_, takedownS) = Main.timed {
      val killD = pick(deadDocs, Cycles * perDoc).toDF("doc_id")
      val killV = pick(deadVecs, Cycles * perVec).toDF("vec_id")
      tr.span("streaming.postings.tombstone")(PostingsIngest.tombstoneDocs(killD, Cycles, index("postings")))
      tr.span("streaming.ann.tombstone")(AnnIngest.tombstone(killV, Cycles, index("ann")))
    }
    cycleS += takedownS

    // serve rounds: one BM25 request, then one ANN request
    val roundS = (0 until rounds(a.seconds)).map { r =>
      Main.timed {
        bm25(docs, Some(StreamGen.queryTerms(a.seed, r)))
        ann(StreamGen.queryVecs(spark, a.seed, r))
      }._2
    }

    // checks, outside the timed region: default-query serves against
    // the engine's one-shot answers over the surviving corpus
    measuring = false
    val ingested = docs.filter(col("doc_id") < Cycles * perDoc)
    val alive = ingested.join(broadcast(deadDocs.toSeq.toDF("doc_id")), Seq("doc_id"), "left_anti")
    val aliveVecs = vecs.filter(col("vec_id") < Cycles * perVec)
      .join(broadcast(deadVecs.toSeq.toDF("vec_id")), Seq("vec_id"), "left_anti")
    def sorted(rows: Seq[Row]) = rows.sortBy(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank")))
    report.op("bm25.equals_one_shot", sorted(bm25(alive, None).toSeq) ==
      sorted(Retrieval.bm25TopK(alive).collect().toSeq))
    val annPairs = ann(aliveVecs)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = Similarity.cosineTopK(aliveVecs, nQueries = 10, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(annPairs).toDouble / exact.size
    report.op("ann.recall_at_bound", recall >= AnnRecallBound)

    val writeS = cycleS.sum
    def p50(s: String) = Stats.median(serves.filter(_.store == s).map(_.seconds).toSeq)
    val all = serves.map(_.seconds).toSeq
    println(f"store_write_s $writeS%.3f s (${cycleS.map(c => f"$c%.3f").mkString(" + ")} s: " +
      s"$Cycles cycle(s), then a live takedown)")
    println(f"bm25_serve_p50_s ${p50("bm25")}%.3f s, ann_serve_p50_s ${p50("ann")}%.3f s; " +
      f"serve round (BM25 then ANN) p50 ${Stats.median(roundS)}%.3f s of ${roundS.size}: " +
      roundS.map(r => f"$r%.3f").mkString(" "))
    println(f"serve_tail_s ${Stats.tailText(all)}; ann recall@5 $recall%.2f")
    val roundP50 = Stats.median(roundS)
    if (!tr.enabled) {
      report.put("build_s", writeS, "s")
      report.put("read_p50_s", roundP50, "s")
    } else Layers.store(Main.finishTrace(spark, tr, a), report, root, src, writeS, roundP50)
  }

  /** (bytes, files) under a directory. */
  def usage(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val w = Files.walk(dir)
      try {
        val fs = w.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        (fs.map(Files.size).sum, fs.length.toLong)
      } finally w.close()
    }
}
