package flumebench

import graft.core.{FlumeDb, ParquetLog}
import graft.views.{PersistentHashtableView, PersistentIndexView, PersistentReduceView, SearchView}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** restart_rebuild: a large generated log, written once per run as the
  * workload's input. Each rep (and each set-up) reopens the log, builds a
  * new FlumeDb and mounts the same four view families in a fresh
  * directory (flume's destroy-and-rebuild lifecycle); a rep then reads
  * every view once and checks every view's digest against the set-up's.
  * Data-bound, almost no per-op overhead. */
object RestartRebuild {
  val rows = 2000000L
  val bucketSize = 250000L
  val appendSlices = 4
  private val eventCols = Seq("user_id", "seq", "event_id", "ts", "event_type", "value", "props")
  private val digestCols = Map("ht" -> eventCols, "idx" -> Seq("key", "seq"), "search" -> Seq("term", "seq"))

  final class State(val dir: java.io.File) {
    /** View digests taken after the set-up's rebuild. */
    val expected = mutable.Map.empty[String, Digest]
    var sum = 0.0
    var count = 0L
    var storeBytes = 0L
  }

  def logDir(st: State): String = new java.io.File(st.dir, "log").getPath
  def openLog(ctx: Ctx, st: State): ParquetLog =
    new ParquetLog(ctx.spark, logDir(st), Gen.eventSchema, bucketSize = bucketSize, statsColumns = Seq("user_id"))

  /** The workload's input: the generated log, written once per run. */
  def writeLog(ctx: Ctx, st: State): Unit = {
    val writer = openLog(ctx, st)
    val slice = rows / appendSlices
    (0 until appendSlices).foreach(s => writer.append(Gen.events(ctx.spark, ctx.seed, s * slice, slice, ctx.cpus)))
    writer.close()
  }

  /** A set-up is one rebuild into a fresh directory; its db stays open
    * until the digests are taken. */
  def setup(ctx: Ctx, st: State, k: Int): Option[(FlumeDb, java.io.File)] = {
    val vdir = new java.io.File(st.dir, s"views-setup-$k")
    rebuild(ctx, st, vdir, timed = false).map(db => (db, vdir))
  }

  private def close(db: FlumeDb, vdir: java.io.File): Unit = { db.close(); Main.delete(vdir) }

  /** Take the set-up digests from the last set-up's rebuild, checking its
    * reduce value against the log (not part of the set-up time). */
  def recordDigests(ctx: Ctx, st: State, db: FlumeDb): Unit = {
    digestCols.foreach { case (v, cols) => st.expected(v) = Digest.of(frameOf(db, v), cols) }
    val (s, c) = db.view("sum").view.asInstanceOf[PersistentReduceView[(Double, Long)]].value.get
    st.sum = s; st.count = c
    ctx.check("setup sum vs log") {
      val e = db.log.read.agg(sum("value"), count(lit(1))).head()
      Checks.close("sum", e.getDouble(0), s).orElse(if (c == e.getLong(1)) None else Some(s"count ${e.getLong(1)} != $c"))
    }
  }

  private def frameOf(db: FlumeDb, name: String) = db.view(name).view match {
    case v: PersistentHashtableView => v.frame
    case v: PersistentIndexView => v.frame
    case v: SearchView => v.frame.get
  }

  /** Restart: reopen the log, open a db and rebuild every view in `vdir`. */
  def rebuild(ctx: Ctx, st: State, vdir: java.io.File, timed: Boolean): Option[FlumeDb] = {
    var db: FlumeDb = null
    val t = ctx.tracer
    ctx.op("rebuild", timed) {
      t.foreach(_.phase("rebuild", "core.log.mount"))
      val t0 = System.nanoTime()
      val log = openLog(ctx, st)
      ctx.sample("mount", (System.nanoTime() - t0) / 1e6)
      t.foreach(_.phase("rebuild", "core.db.open"))
      db = new FlumeDb(log)
      ServeMix.mountViews(ctx, db, vdir.getPath, "rebuild")
    }
    Option(db)
  }

  /** One rep: rebuild in a fresh directory, read every view once (the
    * first reads after a restart), then check the view digests against
    * the set-up's. */
  def rep(ctx: Ctx, st: State, q: Reads, n: Int): Unit = {
    val vdir = new java.io.File(st.dir, s"views-$n")
    rebuild(ctx, st, vdir, timed = true).foreach { db =>
      readAll(ctx, db, st, q)
      digestCols.foreach { case (v, cols) =>
        ctx.check(s"rebuild $v")(Checks.sameDigest(v, st.expected(v), Digest.of(frameOf(db, v), cols)))
      }
      val (s, c) = db.view("sum").view.asInstanceOf[PersistentReduceView[(Double, Long)]].value.get
      ctx.check("rebuild sum")(Checks.close("sum", st.sum, s).orElse(
        if (c == st.count) None else Some(s"count ${st.count} != $c")))
      st.storeBytes = Fs.bytes(new java.io.File(logDir(st))) + Fs.bytes(vdir)
      close(db, vdir)
    }
  }

  /** The keys every rep reads, drawn from the seed, with their answers
    * computed from the log itself. */
  final case class Reads(user: Long, latest: Set[Long], key: String, keyRows: Long, term: String,
      termRows: Long, seq: Long)

  def readKeys(ctx: Ctx, st: State): Reads = {
    val r = new java.util.SplittableRandom(ctx.seed * 7919L)
    val log = openLog(ctx, st).read
    val user = Gen.zipfUser(r.nextDouble())
    val key = Gen.eventTypes(r.nextInt(Gen.eventTypes.size))
    val term = s"t${r.nextInt(Gen.tagWords)}"
    val latest = log.where(col("user_id") === user).agg(max("seq")).head()
    Reads(user, if (latest.isNullAt(0)) Set.empty else Set(latest.getLong(0)),
      key, log.where(col("event_type") === key).count(),
      term, log.where(array_contains(split(lower(col("props")), "[^a-z0-9]+"), term)).count(),
      r.nextLong(rows))
  }

  /** One gated read of each view and one log `get`. */
  private def readAll(ctx: Ctx, db: FlumeDb, st: State, q: Reads): Unit = {
    def gated[A](view: String, rows: A => Long)(f: Any => A): Option[A] =
      ctx.op(s"read.$view", rows = rows)(ServeMix.gated(ctx, db, view)(f))
    gated("ht", (a: Array[Long]) => a.length.toLong)(
      _.asInstanceOf[PersistentHashtableView].get(q.user).select("seq").collect().map(_.getLong(0)))
      .foreach(got => ctx.check("read.ht")(Checks.sameSet(s"latest of user ${q.user}", q.latest, got.toSet)))
    gated("idx", identity[Long])(_.asInstanceOf[PersistentIndexView].get(q.key).count())
      .foreach(got => ctx.check("read.idx")(Checks.close(s"index ${q.key} rows", q.keyRows.toDouble, got.toDouble)))
    gated("search", identity[Long])(_.asInstanceOf[SearchView].search(q.term).count())
      .foreach(got => ctx.check("read.search")(Checks.close(s"search ${q.term} rows", q.termRows.toDouble, got.toDouble)))
    gated("sum", (_: (Double, Long)) => 1L)(_.asInstanceOf[PersistentReduceView[(Double, Long)]].value.get).foreach { case (s, c) =>
      ctx.check("read.sum")(Checks.close("sum", st.sum, s).orElse(if (c == st.count) None else Some(s"count ${st.count} != $c")))
    }
    ctx.op("read.get", rows = (a: Array[Long]) => a.length.toLong)(db.get(q.seq).select("event_id").collect().map(_.getLong(0)))
      .foreach(got => ctx.check("read.get")(Checks.sameSet(s"get(${q.seq})", Set(q.seq), got.toSet)))
  }

  def run(ctx: Ctx): Outcome = {
    ctx.headline = "rebuild"
    val st = new State(new java.io.File(ctx.data, "restart"))
    val t0 = System.nanoTime()
    writeLog(ctx, st)
    val logWriteS = (System.nanoTime() - t0) / 1e9
    ctx.setUp(setup(ctx, st, _))(_.foreach { case (db, v) => close(db, v) }).foreach { case (db, v) =>
      recordDigests(ctx, st, db); close(db, v)
    }
    val q = readKeys(ctx, st)
    var n = 0
    while (!ctx.deadlineReached || n < 2) { ctx.iteration(n % 2 == 0)(rep(ctx, st, q, n)); n += 1 }
    val measuredS = ctx.measuredMs / 1000
    val reads = ServeMix.readKinds.flatMap(k => ctx.samples.getOrElse(s"read.$k", Nil))
    val reps = ctx.count("rebuild")
    val named = Map[String, Any](
      "mount_ms_p50" -> ctx.p50("mount"), "rebuild_s_p50" -> ctx.p50("rebuild").map(_ / 1000),
      "read_ms_p50" -> Some(Stats.median(reads)).filterNot(_.isNaN),
      "store_bytes_per_row" -> st.storeBytes.toDouble / rows)
    Outcome(Map(
      "visible_ms_p50" -> ctx.p50("rebuild").getOrElse(Double.NaN),
      "read_ms_p50" -> Stats.median(reads),
      "rows_per_s" -> rows * reps / measuredS,
      "store_bytes_per_row" -> st.storeBytes.toDouble / rows), named,
      Map("reps" -> n, "measured_s" -> measuredS, "log_write_s" -> logWriteS, "log_rows" -> rows, "log_bytes" -> Fs.bytes(new java.io.File(logDir(st)))))
  }
}
