package flumebench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent content digest of a frame: row count plus the XOR of
  * per-row hashes over the named columns. */
final case class Digest(rows: Long, xor: Long)

object Digest {
  def of(df: DataFrame, cols: Seq[String]): Digest = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.map(c => col(s"`$c`")): _*)), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }
}

/** Output checkers. Each returns the violation it found, if any; they are
  * pure so the self-test can plant violations. */
object Checks {
  /** Digest of an id set, stable across runs and JVMs. */
  def idDigest(ids: Seq[Long]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.sorted.foreach(id => md.update(java.nio.ByteBuffer.allocate(8).putLong(id).array()))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def sameDigest(what: String, expected: Digest, actual: Digest): Option[String] =
    if (expected == actual) None else Some(s"$what: expected $expected, got $actual")

  def sameSet[A](what: String, expected: Set[A], actual: Set[A]): Option[String] =
    if (expected == actual) None
    else Some(s"$what: missing ${(expected -- actual).take(5).mkString(",")}" +
      s" unexpected ${(actual -- expected).take(5).mkString(",")}")

  def absent[A](what: String, found: Seq[A]): Option[String] =
    if (found.isEmpty) None else Some(s"$what still present: ${found.take(5).mkString(",")}")

  def close(what: String, expected: Double, actual: Double): Option[String] =
    if (math.abs(expected - actual) <= 1e-6 * math.max(1.0, math.abs(expected))) None
    else Some(s"$what: expected $expected, got $actual")

  /** curate_stream: curated ids of one batch against its planted kinds. */
  def curatedBatch(kept: Set[Long], exactCopies: Set[Long], uniquesPassingFloor: Set[Long]): Option[String] = {
    val dupes = kept intersect exactCopies
    val lost = uniquesPassingFloor -- kept
    if (dupes.isEmpty && lost.isEmpty) None
    else Some(s"surviving exact copies: ${dupes.take(5).mkString(",")}; lost unique docs: ${lost.take(5).mkString(",")}")
  }

  /** curate_stream: every curated id is a source id, over the whole logs. */
  def curatedInSource(curated: DataFrame, source: DataFrame, id: String): Option[String] =
    absent("curated ids outside the source",
      curated.select(id).join(source.select(id), Seq(id), "left_anti").limit(5).collect().map(_.getLong(0)).toSeq)

  /** The search view's definition, recomputed from scratch over the log. */
  def searchPostings(log: DataFrame, textCol: String): DataFrame =
    log.select(explode(array_distinct(filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => t =!= ""))).as("term"),
      col("seq"))

  /** Latest row per key, recomputed from scratch over the log. */
  def latestPerKey(log: DataFrame, key: String): DataFrame = {
    val payload = struct(log.columns.filter(_ != key).map(c => col(c)).toIndexedSeq: _*)
    log.groupBy(col(key)).agg(max_by(payload, col("seq")).as("__v")).select(col(key), col("__v.*"))
  }

  def indexPostings(log: DataFrame, keys: Column): DataFrame =
    log.select(explode(keys).as("key"), col("seq"))
}
