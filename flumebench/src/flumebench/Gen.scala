package flumebench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generator. Every input is a pure function of
  * (seed, row id), so the same seed gives byte-identical inputs and the
  * program only ever receives the generated frames. */
object Gen {
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  val eventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error", "search")
  val users: Long = 20000L
  val tagWords: Int = 400
  val epochMs: Long = 1704067200000L

  /** The sf0.1 `documents` vocabulary: 31 words, so documents overlap the
    * way the repo's text queries expect. */
  val vocab: Array[String] = ("a agg batch big column customer data dup fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector window")
    .split(" ")

  private def h(seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(Long.MaxValue))

  /** Log-uniform draw in 1..n: P(k) ∝ log(1 + 1/k), a Zipf(s≈1) key skew. */
  def zipfUser(u: Double, n: Long = users): Long =
    math.min(n, math.max(1L, math.floor(math.exp(u * math.log(n + 1.0))).toLong))

  /** Events `[from, from + n)` as a lazy frame of `parts` partitions. */
  def events(spark: SparkSession, seed: Long, from: Long, n: Long, parts: Int): DataFrame = {
    val u = (h(seed, 1) % lit(1L << 30)).cast("double") / lit((1L << 30).toDouble)
    def tag(salt: Int) = concat(lit("t"), (h(seed, salt) % lit(tagWords.toLong)).cast("string"))
    spark.range(from, from + n, 1, parts).select(
      col("id").as("event_id"),
      (lit(epochMs) + col("id") * lit(1000L) + h(seed, 2) % lit(1000L)).as("ts"),
      least(lit(users), greatest(lit(1L), floor(exp(u * lit(math.log(users + 1.0)))).cast("long"))).as("user_id"),
      element_at(typedLit(eventTypes), (h(seed, 3) % lit(eventTypes.size.toLong)).cast("int") + 1).as("event_type"),
      round((h(seed, 4) % lit(100000L)).cast("double") / lit(100.0), 2).as("value"),
      concat(lit("{\"tags\": \""), tag(5), lit(" "), tag(6), lit(" "), tag(7), lit("\"}")).as("props"))
  }

  /** The same events, materialized on the driver (for a client-sized batch). */
  def eventRows(spark: SparkSession, seed: Long, from: Long, n: Int): Array[Row] =
    events(spark, seed, from, n, 1).collect()

  def local(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  // ---- documents (curate_stream) -------------------------------------------

  val batchDocs: Int = 500
  /** Position kinds inside each block of 20 documents. */
  sealed trait Kind
  case object Unique extends Kind
  case object ExactSame extends Kind   // exact copy of an earlier doc of the same batch
  case object ExactCross extends Kind  // exact copy of a doc of an earlier batch
  case object NearSame extends Kind    // first word dropped, source in the same batch
  case object NearCross extends Kind   // first word dropped, source in an earlier batch
  case object LowQuality extends Kind

  private def rng(seed: Long, id: Long, salt: Int) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (id * 31 + salt))

  def kind(id: Long): Kind = {
    val b = id / batchDocs; val j = id % batchDocs
    (j % 20).toInt match {
      case 0 if j >= 20 => ExactSame
      case 1 if b >= 1 => ExactCross
      case 2 if j >= 20 => NearSame
      case 3 if b >= 1 => NearCross
      case 4 => LowQuality
      case _ => Unique
    }
  }

  /** The unique document a planted copy was taken from. */
  def source(seed: Long, id: Long): Long = {
    val r = rng(seed, id, 1)
    val b = id / batchDocs; val j = id % batchDocs
    kind(id) match {
      case ExactSame | NearSame => b * batchDocs + (j / 20 - 1) * 20 + 5 + r.nextInt(15)
      case ExactCross | NearCross =>
        r.nextLong(b) * batchDocs + r.nextInt(batchDocs / 20) * 20 + 5 + r.nextInt(15)
      case _ => id
    }
  }

  def uniqueText(seed: Long, id: Long): String = {
    val r = rng(seed, id, 2)
    Array.fill(12 + r.nextInt(60))(vocab(r.nextInt(vocab.length))).mkString(" ")
  }

  def docText(seed: Long, id: Long): String = kind(id) match {
    case Unique => uniqueText(seed, id)
    case ExactSame | ExactCross => uniqueText(seed, source(seed, id))
    case NearSame | NearCross => uniqueText(seed, source(seed, id)).split(" ").drop(1).mkString(" ")
    case LowQuality =>
      val r = rng(seed, id, 3)
      Array.fill(3 + r.nextInt(3))("#$%!?&*".substring(r.nextInt(4), 4 + r.nextInt(3)) + " " +
        vocab(r.nextInt(vocab.length))).mkString(" ")
  }

  def docRows(seed: Long, batch: Long): Array[Row] =
    Array.tabulate(batchDocs) { j =>
      val id = batch * batchDocs + j
      Row(id, docText(seed, id))
    }
}
