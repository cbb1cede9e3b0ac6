package flumebench

import org.apache.spark.sql.functions._

/** The benchmark's own tests: generator determinism, span arithmetic and
  * that every output checker rejects a planted violation.
  * Run with `python3 flumebench/run.py --selftest`. */
object SelfTest {
  private var failures = 0
  private var passed = 0
  private def expect(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case scala.util.control.NonFatal(e) => System.err.println(e); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
    if (ok) println(s"ok   $name")
  }

  def main(args: Array[String]): Unit = {
    val cpus = Main.parse(args).get("cpus").map(_.toInt).getOrElse(2)
    val tmp = java.nio.file.Files.createTempDirectory("flumebench-selftest").toFile
    val spark = Main.session(cpus, tmp)
    try {
      // ---- generator determinism
      def ev(seed: Long) = Gen.events(spark, seed, 0L, 2000L, cpus).collect().toSeq
      expect("events: same seed, same rows")(ev(7) == ev(7))
      expect("events: other seed, other rows")(ev(7) != ev(8))
      expect("events: client batch equals the same range of the bulk frame")(
        Gen.eventRows(spark, 7, 1000L, 500).toSeq == ev(7).slice(1000, 1500))
      def docs(seed: Long) = (0L until 3L).flatMap(b => Gen.docRows(seed, b).toSeq)
      expect("docs: same seed, same rows")(docs(7) == docs(7))
      expect("docs: other seed, other rows")(docs(7) != docs(8))
      val d = docs(7)
      expect("docs: exact copies equal their source")(d.filter(r => Set[Gen.Kind](Gen.ExactSame, Gen.ExactCross)
        .contains(Gen.kind(r.getLong(0)))).forall(r => r.getString(1) == Gen.uniqueText(7, Gen.source(7, r.getLong(0)))))
      expect("docs: copies point at earlier unique docs, within and across batches") {
        val copies = d.map(_.getLong(0)).filter(id => Gen.kind(id) != Gen.Unique && Gen.kind(id) != Gen.LowQuality)
        copies.forall(id => Gen.source(7, id) < id && Gen.kind(Gen.source(7, id)) == Gen.Unique) &&
          copies.exists(id => Gen.source(7, id) / Gen.batchDocs < id / Gen.batchDocs) &&
          copies.exists(id => Gen.source(7, id) / Gen.batchDocs == id / Gen.batchDocs)
      }
      expect("zipf: user 1 is the most frequent key") {
        val r = new java.util.SplittableRandom(1)
        val c = Seq.fill(20000)(Gen.zipfUser(r.nextDouble())).groupBy(identity).map { case (k, v) => k -> v.size }
        c.maxBy(_._2)._1 == 1L && c.size > 1000
      }

      // ---- span arithmetic
      val root = Span(1, "op", 1, 0, 0.0, 100.0)
      val kids = Seq(Span(2, "a", 1, 1, 10.0, 30.0), Span(3, "b", 1, 1, 20.0, 50.0), Span(4, "c", 1, 1, 90.0, 120.0))
      expect("self time subtracts the union of children, clipped to the parent")(
        math.abs(Intervals.selfTime(root, kids) - 50.0) < 1e-9)
      expect("self time without children is the duration")(Intervals.selfTime(root, Nil) == 100.0)
      expect("covered time merges touching intervals")(
        Intervals.coveredWithin(Seq((0.0, 5.0), (5.0, 7.0), (8.0, 9.0)), 0.0, 10.0) == 8.0)
      expect("median and quartiles match Python's statistics module")(
        Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.quantile(Seq(1.0, 2.0, 3.0), 0.5) == 2.0)

      // ---- checkers reject planted violations
      val log = Gen.events(spark, 3, 0L, 300L, cpus).withColumnRenamed("event_id", "seq")
        .withColumn("event_id", col("seq"))
      val cols = Seq("user_id", "seq", "event_id", "ts", "event_type", "value", "props")
      val ht = Checks.latestPerKey(log, "user_id")
      val first = ht.head()
      expect("digest: a view equal to the recompute passes")(
        Checks.sameDigest("ht", Digest.of(ht, cols), Digest.of(Checks.latestPerKey(log, "user_id"), cols)).isEmpty)
      expect("digest: a view missing one row is rejected")(
        Checks.sameDigest("ht", Digest.of(ht, cols),
          Digest.of(ht.where(col("user_id") =!= first.getLong(0)), cols)).nonEmpty)
      expect("digest: a view with one changed value is rejected")(
        Checks.sameDigest("ht", Digest.of(ht, cols),
          Digest.of(ht.withColumn("value", when(col("user_id") === first.getLong(0), col("value") + 1)
            .otherwise(col("value"))), cols)).nonEmpty)
      val posts = Checks.searchPostings(log, "props")
      expect("digest: a search view with one extra posting is rejected")(
        Checks.sameDigest("search", Digest.of(posts, Seq("term", "seq")),
          Digest.of(posts.union(posts.limit(1).withColumn("seq", col("seq") + 100000)), Seq("term", "seq"))).nonEmpty)
      expect("curate: a clean batch passes")(
        Checks.curatedBatch(Set(1L, 2L), Set(3L), Set(1L, 2L)).isEmpty)
      expect("curate: a surviving exact duplicate is rejected")(
        Checks.curatedBatch(Set(1L, 2L, 3L), Set(3L), Set(1L, 2L)).nonEmpty)
      expect("curate: a lost unique doc is rejected")(
        Checks.curatedBatch(Set(1L), Set(3L), Set(1L, 2L)).nonEmpty)
      def ids(xs: Long*) = spark.createDataFrame(xs.map(Tuple1(_))).toDF("doc_id")
      expect("curate: curated ids within the source pass")(
        Checks.curatedInSource(ids(1L, 2L), ids(1L, 2L, 3L), "doc_id").isEmpty)
      expect("curate: a curated id outside the source is rejected")(
        Checks.curatedInSource(ids(1L, 2L, 9L), ids(1L, 2L, 3L), "doc_id").nonEmpty)
      expect("reads: a missing seq is rejected")(Checks.sameSet("idx", Set(1L, 2L), Set(1L)).nonEmpty)
      expect("takedown: a surviving row is rejected")(Checks.absent("user", Seq(5L)).nonEmpty)
      expect("reduce: a wrong sum is rejected")(Checks.close("sum", 10.0, 10.5).nonEmpty)

      // ---- the curated-id digest is a function of the seed
      def curated(seed: Long, k: Int): (String, Long) = {
        val ctx = new Ctx(spark, seed, 0, traced = false, cpus, new java.io.File(tmp, s"curate-$seed-$k"))
        val st = CurateStream.open(ctx, 0)
        try {
          (0 until 2).foreach(_ => CurateStream.step(ctx, st, timed = false))
          val outside = Checks.curatedInSource(st.curated.read, st.source.read, "doc_id")
          (Checks.idDigest(st.curated.read.select("doc_id").collect().map(_.getLong(0)).toSeq), ctx.failed + outside.size)
        } finally st.curator.stop()
      }
      val (a, fa) = curated(5, 0)
      val (b, fb) = curated(5, 1)
      val (c, _) = curated(6, 0)
      expect("curate: two runs of a seed pass their checks")(fa == 0 && fb == 0)
      expect("curate: the curated-id digest repeats for a seed")(a == b)
      expect("curate: another seed curates other ids")(a != c)
    } finally {
      spark.stop()
      Main.delete(tmp)
    }
    println(s"selftest: $passed passed, $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
