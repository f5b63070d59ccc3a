package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value derives from the run's seed, so one
  * seed always yields the same tables, subsets, key mappings, op orders,
  * lookup keys and query vectors. The engine only ever sees the generated
  * DataFrames. */
object Gen {

  /** Discrete Zipf(s) sampler over ranks 0 until n (rank 0 is hottest). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => math.pow(k + 1.0, -s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def rankOf(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
    def draw(rng: java.util.Random): Int = rankOf(rng.nextDouble())
  }

  /** A seeded permutation of 0 until n. */
  def permutation(n: Int, rng: java.util.Random): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  // -------------------------------------------------------------- orders

  val OrderPriorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_version", IntegerType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))

  /** One generated order row; `version` is what the workload's writes bump. */
  final case class Order(key: Long, cust: Long, status: String,
      price: Double, version: Int, priority: String) {
    def row: Row = Row(key, cust, status, price, version, priority)
  }

  object Order {
    def of(r: Row): Order = Order(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
      r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice"),
      r.getAs[Int]("o_version"), r.getAs[String]("o_orderpriority"))
  }

  /** `n` orders with keys 0 until n at version 0, generated by Spark from
    * (seed, key) hashes, in [[OrdersSchema]]. */
  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    def u(salt: Int, m: Long): Column =
      coalesce(pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m)), lit(0L))
    def pick(salt: Int, values: Seq[String]): Column =
      coalesce(element_at(array(values.map(lit): _*), (u(salt, values.size) + 1).cast("int")),
        lit(values.head))
    spark.range(n).select(
      col("id").as("o_orderkey"),
      u(1, 15000).as("o_custkey"),
      pick(2, Seq("O", "F")).as("o_orderstatus"),
      ((u(3, 50000000) + 100000).cast("double") / 100).as("o_totalprice"),
      lit(0).as("o_version"),
      pick(4, OrderPriorities).as("o_orderpriority"))
  }

  def order(key: Long, version: Int, rng: java.util.Random): Order =
    Order(key, rng.nextInt(15000).toLong, if (rng.nextBoolean()) "O" else "F",
      (rng.nextInt(50000000) + 100000) / 100.0, version,
      OrderPriorities(rng.nextInt(OrderPriorities.size)))

  def frame(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(_.row): _*), OrdersSchema)

  // ------------------------------------------------- documents, vectors

  val Languages: Seq[String] = Seq("en", "en", "en", "de", "fr", "es", "zh")

  val Sources: Seq[String] = Seq("web", "books")
  val Topics = 32
  val Buckets = 40

  /** A generated document. `source`, `topic` and `bucket` are its three
    * partition keys: two `lang` x `source` levels (10 directories), a
    * Zipf-skewed `topic` over 32 seed-permuted labels (the hottest holds
    * ~30% of documents) and a uniform `bucket` over 40 values. `group` is
    * the planted near-duplicate family (the base document's id); `junk`
    * marks digit-noise documents the quality gate must drop. */
  final case class Doc(id: Long, text: String, lang: String, source: String,
      topic: String, bucket: String, group: Long, junk: Boolean)

  /** ~5k documents over a 3000-word pseudo-vocabulary: ~70% distinct
    * bases, then exact copies and one-word edits of earlier bases
    * (Jaccard over 5-char shingles stays above 0.85, far from the 0.7
    * threshold; unrelated documents share almost no shingles), plus ~6%
    * digit-noise documents. */
  def documents(seed: Long, n: Int = 5000): IndexedSeq[Doc] = {
    val rng = new java.util.Random(seed * 31 + 2)
    val vocab = IndexedSeq.fill(3000) {
      val len = 4 + rng.nextInt(6)
      new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }
    val topicOf = permutation(Topics, rng).map(i => f"t$i%02d")
    val zipf = new Zipf(Topics, 1.15)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val bases = scala.collection.mutable.ArrayBuffer.empty[Doc]
    def words(k: Int) = IndexedSeq.fill(k)(vocab(rng.nextInt(vocab.size)))
    def doc(id: Long, text: String, lang: String, group: Long, junk: Boolean) =
      Doc(id, text, lang, Sources(rng.nextInt(Sources.size)), topicOf(zipf.draw(rng)),
        f"b${rng.nextInt(Buckets)}%02d", group, junk)
    while (docs.size < n) {
      val id = docs.size.toLong
      val r = rng.nextDouble()
      val lang = Languages(rng.nextInt(Languages.size))
      if (r < 0.06) {
        val noise = IndexedSeq.fill(40 + rng.nextInt(40))(
          (rng.nextInt(900000) + 100000).toString + "#")
        docs += doc(id, noise.mkString(" "), lang, id, junk = true)
      } else if (r < 0.76 || bases.isEmpty) {
        bases += doc(id, words(40 + rng.nextInt(40)).mkString(" "), lang, id, junk = false)
        docs += bases.last
      } else {
        val base = bases(rng.nextInt(bases.size))
        val text =
          if (r < 0.86) base.text
          else {
            val toks = base.text.split(" ")
            toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.size))
            toks.mkString(" ")
          }
        docs += doc(id, text, base.lang, base.id, junk = false)
      }
    }
    docs.toIndexedSeq
  }

  val DocsSchema: StructType = StructType(
    Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "topic" -> StringType, "bucket" -> StringType)
      .map { case (n, t) => StructField(n, t, nullable = false) })

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map(d =>
      Row(d.id, d.text, d.lang, d.source, d.topic, d.bucket)): _*), DocsSchema)

  val Dim = 64

  /** ~2k unit-length embeddings around 16 seeded centroids. */
  def embeddings(seed: Long, n: Int = 2000): IndexedSeq[(Long, Array[Float])] = {
    val rng = new java.util.Random(seed * 31 + 3)
    val centers = IndexedSeq.fill(16)(Array.fill(Dim)(rng.nextGaussian()))
    IndexedSeq.tabulate(n) { i =>
      val c = centers(rng.nextInt(centers.size))
      val v = Array.tabulate(Dim)(d => c(d) + 0.35 * rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat))
    }
  }

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  def vecFrame(spark: SparkSession, vecs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      vecs.map { case (id, v) => Row(id, v.toSeq) }: _*), VecSchema)
}
