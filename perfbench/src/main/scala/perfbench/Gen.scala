package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every table the program reads is written here,
  * from `--seed` alone, with the shapes of the reference's synthetic
  * tables (events, documents, embeddings); the program receives only the
  * files. Planted duplicate classes carry their labels on the benchmark's
  * side so every expected rejection is known exactly.
  */
object Gen {
  val Vocab: Array[String] = ("batch part spark line column order small sort fast " +
    "value scan a hash slow group agg filter query big key window row table " +
    "stream merge data the customer join vector").split(" ")
  val Langs: Array[String] = Array("en", "en", "zh", "es", "fr", "de")
  val EventTypes: Array[String] = Array("view", "purchase", "click", "error", "signup")
  val Dim = 64
  val Labels = 10

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + salt)

  // ---------------------------------------------------------------- events

  /** Events plus the gold expectations recomputed without Spark: the
    * number of (user, day) rows that carry a view, purchase, click or
    * error, the exact purchase total in cents, and the total view count.
    */
  case class Events(rows: Array[Row], goldRows: Long, purchaseCents: Long,
                    views: Long)

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** `users` users over 30 days of January 2024, `perUser` events each. */
  def events(seed: Long, users: Int, perUser: Int): Events = {
    val r = rng(seed, 1)
    val day0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val n = users * perUser
    val rows = new Array[Row](n)
    val goldKeys = new java.util.HashSet[Long]()
    var cents = 0L
    var views = 0L
    var i = 0
    while (i < n) {
      val user = (r.nextInt(users) + 1).toLong
      val offMs = r.nextLong(30L * 86400000L)
      val tpe = EventTypes(r.nextInt(EventTypes.length))
      // log-normal-ish positive amounts with two decimals, like the
      // reference's `value` column (median ~35, long right tail)
      val c = math.min(56000L, (math.exp(r.nextDouble() * 4.5 + 1.0) * 10).toLong)
      val ts = new Timestamp(day0 + offMs)
      if (tpe != "signup") goldKeys.add(user * 100 + offMs / 86400000L)
      if (tpe == "purchase") cents += c
      if (tpe == "view") views += 1
      rows(i) = Row(i.toLong, ts, user, tpe, c / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
      i += 1
    }
    Events(rows, goldKeys.size.toLong, cents, views)
  }

  def writeEvents(spark: SparkSession, ev: Events, dir: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(ev.rows.toSeq, 4), EventSchema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  // ------------------------------------------------------------- documents

  case class Doc(id: Long, text: String, lang: String, source: String)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def randomText(r: SplittableRandom): String = {
    val n = 12 + r.nextInt(80)
    Array.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }

  def doc(r: SplittableRandom, id: Long, text: String): Doc =
    Doc(id, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}")

  /** Token permutation: the same bag of words in a new order, novel to
    * every shingle-based screen (the ScaleUp replica transform). */
  def permute(r: SplittableRandom, text: String): String = {
    val w = text.split(" ")
    var i = w.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = w(i); w(i) = w(j); w(j) = t
      i -= 1
    }
    w.mkString(" ")
  }

  /** One word replaced: a near-duplicate whose 5-shingle overlap with its
    * source stays above 0.8 for every generated length. */
  def nearEdit(r: SplittableRandom, text: String): String = {
    val w = text.split(" ")
    val i = r.nextInt(w.length)
    w(i) = Vocab((Vocab.indexOf(w(i)) + 1 + r.nextInt(Vocab.length - 1)) % Vocab.length)
    w.mkString(" ")
  }

  /** Punctuation inserted between words: bit-different bytes, identical
    * text under the robust tokenizer. */
  def punctuate(r: SplittableRandom, text: String): String =
    text.split(" ").map(w => if (r.nextInt(4) == 0) w + "," else w).mkString(" ") + "."

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 4),
      DocSchema)

  /** The curate corpus: `base` random documents, one permuted replica of
    * each, and planted copies. `exactCopies` and `nearCopies` map each
    * planted copy's id to the id of the document it copies. */
  case class Corpus(docs: Seq[Doc], exactCopies: Map[Long, Long],
                    nearCopies: Map[Long, Long])

  def corpus(seed: Long, base: Int, planted: Int): Corpus = {
    val r = rng(seed, 2)
    val originals = (0 until base).map(i => doc(r, i.toLong, randomText(r)))
    val replicas = originals.map(d => doc(r, d.id + base, permute(r, d.text)))
    val pool = originals ++ replicas
    var next = 2L * base - 1
    def copyOf(edit: String => String): (Doc, Long) = {
      val src = pool(r.nextInt(pool.length))
      next += 1
      doc(r, next, edit(src.text)) -> src.id
    }
    val exact = Seq.fill(planted)(copyOf(identity))
    val near = Seq.fill(planted)(copyOf(nearEdit(r, _)))
    Corpus(pool ++ exact.map(_._1) ++ near.map(_._1),
      exact.map { case (d, s) => d.id -> s }.toMap,
      near.map { case (d, s) => d.id -> s }.toMap)
  }

  // ------------------------------------------------------------ embeddings

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("emb", ArrayType(DoubleType)),
    StructField("label", IntegerType)))

  /** Unit-norm-ish 64-d vectors around `Labels` cluster centres; members of
    * one cluster sit far below the 0.99 duplicate cosine of each other. */
  def centres(seed: Long): Array[Array[Double]] = {
    val r = rng(seed, 3)
    Array.fill(Labels)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
  }

  def vector(r: SplittableRandom, c: Array[Array[Double]], label: Int): Array[Double] =
    c(label).map(x => x * 0.3 + (r.nextDouble() * 2 - 1))

  /** A re-encode of `v`: cosine above 0.999 with its source. */
  def reencode(r: SplittableRandom, v: Array[Double]): Array[Double] =
    v.map(x => x * 1.01 + (r.nextDouble() * 2 - 1) * 0.005)

  def vecFrame(spark: SparkSession, vecs: Seq[(Long, Array[Double], Int)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.map { case (id, v, l) => Row(id, v.toSeq, l) }, 4), VecSchema)
}
