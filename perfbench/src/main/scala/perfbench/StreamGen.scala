package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded document/vector stream with the schemas of the `documents`
  * and `embeddings` test tables, at about sf0.1 size (5000 docs, 2000
  * 64-d vectors).
  *
  * Docs draw words from a skewed 3000-word vocabulary, and one doc in
  * ten is a near-copy of an earlier doc. Vectors sit around 16 seeded
  * cluster centres, so an IVF index has structure to find. Serve
  * requests (BM25 query terms, ANN query vectors) are seeded per round.
  * Files are byte-identical for a seed. */
object StreamGen {
  val Docs = 5000
  val Vecs = 2000
  val Dim = 64
  val Vocab = 3000
  val Clusters = 16

  private def word(rng: java.util.Random): String =
    s"w${(Vocab * math.pow(rng.nextDouble(), 2.5)).toInt}"

  private def text(rng: java.util.Random): Array[String] =
    Array.fill(30 + rng.nextInt(31))(word(rng))

  private def mutate(words: Array[String], rng: java.util.Random, n: Int): Array[String] = {
    val w = words.clone()
    for (_ <- 0 until n) w(rng.nextInt(w.length)) = word(rng)
    w
  }

  private val Langs = Seq("en", "de", "fr", "zh", "es")

  /** Doc texts by id (the stream's content). */
  def docTexts(seed: Long): Array[Array[String]] = {
    val rng = new java.util.Random(seed * 31L + 5L)
    val out = new Array[Array[String]](Docs)
    for (i <- 0 until Docs)
      out(i) = if (i >= 10 && i % 10 == 9) mutate(out(rng.nextInt(i)), rng, 2) else text(rng)
    out
  }

  private def centres(seed: Long): Array[Array[Double]] = {
    val rng = new java.util.Random(seed * 131L + 7L)
    Array.fill(Clusters, Dim)(rng.nextGaussian())
  }

  private def vector(c: Array[Double], rng: java.util.Random): Array[Float] =
    c.map(x => (x + 0.35 * rng.nextGaussian()).toFloat)

  /** Write `docs.tsv` and `vecs.tsv` under `dir`. */
  def write(dir: Path, seed: Long): Unit = {
    Files.createDirectories(dir)
    val rng = new java.util.Random(seed * 17L + 3L)
    val d = new StringBuilder
    docTexts(seed).zipWithIndex.foreach { case (ws, i) =>
      val t = ws.mkString(" ")
      d ++= s"$i\t$t\t${Langs(rng.nextInt(Langs.size))}\tsrc${rng.nextInt(5)}\t${t.length}\n"
    }
    Files.write(dir.resolve("docs.tsv"), d.toString.getBytes(UTF_8))
    val cs = centres(seed)
    val v = new StringBuilder
    for (i <- 0 until Vecs) {
      val k = rng.nextInt(Clusters)
      v ++= s"$i\t$k\t${vector(cs(k), rng).mkString(",")}\n"
    }
    Files.write(dir.resolve("vecs.tsv"), v.toString.getBytes(UTF_8))
  }

  private def tsv(spark: SparkSession, path: Path, schema: StructType): DataFrame =
    spark.read.option("sep", "\t").schema(schema).csv(path.toString)

  def docs(spark: SparkSession, dir: Path): DataFrame =
    tsv(spark, dir.resolve("docs.tsv"), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))

  def vecs(spark: SparkSession, dir: Path): DataFrame =
    tsv(spark, dir.resolve("vecs.tsv"), StructType(Seq(
      StructField("vec_id", LongType), StructField("label", IntegerType),
      StructField("emb", StringType))))
      .select(col("vec_id"), split(col("emb"), ",").cast(ArrayType(FloatType)).as("embedding"),
        col("label"))

  /** BM25 request of one serve: (q_id, term) for 8 queries of 4 terms,
    * drawn from the frequent end of the vocabulary so they hit. */
  def queryTerms(seed: Long, round: Int): Seq[(Long, String)] = {
    val rng = new java.util.Random(seed * 1009L + round)
    for (q <- 0L until 8L; _ <- 0 until 4) yield (q, s"w${rng.nextInt(300)}")
  }.distinct

  /** ANN request of one serve: 10 query vectors with ids 0..9 (the
    * ids the grown search takes its queries from). */
  def queryVecs(spark: SparkSession, seed: Long, round: Int): DataFrame = {
    import spark.implicits._
    val rng = new java.util.Random(seed * 2003L + round)
    val cs = centres(seed)
    (0L until 10L).map(i => (i, vector(cs(rng.nextInt(Clusters)), rng).toSeq))
      .toDF("vec_id", "embedding")
  }
}
