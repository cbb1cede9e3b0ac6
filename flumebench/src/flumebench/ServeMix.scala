package flumebench

import graft.core.{FlumeDb, ParquetLog, ViewDef}
import graft.views.{PersistentHashtableView, PersistentIndexView, PersistentReduceView, PersistentSumReduceView, SearchView}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.collection.mutable

/** serve_mix: flume's application loop. A preloaded log with a star of
  * four views; each iteration appends a client batch and makes two gated
  * reads of the rows it just wrote, and a fixed share of iterations runs
  * a takedown instead (expire a seq prefix, or retract one Zipf-drawn
  * user). One client, closed loop. */
object ServeMix {
  val preload = 100000L
  val bucketSize = 25000L
  val batch = 500
  /** The iteration cycle: five appends, an expire, five appends, a retract.
    * The takedown share is a coverage choice, not measured traffic: it
    * keeps both takedowns in every run while appends and reads take most
    * of the measured time. */
  val cycle: Seq[String] = Seq.fill(5)("append") ++ Seq("expire") ++ Seq.fill(5)("append") ++ Seq("retract")
  /** A run measures whole cycles, at least this many, so every run has the
    * same op mix. */
  val minCycles = 1
  val expireStep = 5000L
  /** Retract draws (Zipf) from the heaviest users, who have rows in every
    * bucket, so each retract rewrites the whole log and costs alike. */
  val retractUsers = 100L
  val readKinds: Seq[String] = Seq("ht", "idx", "search", "sum", "get")
  val views: Seq[String] = Seq("ht", "idx", "sum", "search")
  private val eventCols = Seq("user_id", "seq", "event_id", "ts", "event_type", "value", "props")

  final class State(val dir: java.io.File, val db: FlumeDb) {
    var nextId: Long = preload
    /** Highest seq a successful expire removed; the last expire's target. */
    var horizon: Long = -1L
    var expireTarget: Long = -1L
    var appended = 0L
    /** Reads so far: the read kinds rotate, and a cycle's 20 reads hold
      * each kind four times. */
    var reads = 0
    val retracted = mutable.LinkedHashSet.empty[Long]
    def log: ParquetLog = db.log.asInstanceOf[ParquetLog]
  }

  def openLog(ctx: Ctx, dir: java.io.File): ParquetLog =
    new ParquetLog(ctx.spark, new java.io.File(dir, "log").getPath, Gen.eventSchema,
      bucketSize = bucketSize, statsColumns = Seq("user_id"))

  def setup(ctx: Ctx, k: Int): State = {
    val dir = new java.io.File(ctx.data, s"serve-$k")
    val writer = openLog(ctx, dir)
    writer.append(Gen.events(ctx.spark, ctx.seed, 0L, preload, ctx.cpus))
    writer.close()
    val db = new FlumeDb(openLog(ctx, dir))
    mountViews(ctx, db, new java.io.File(dir, "views").getPath, "setup")
    val st = new State(dir, db)
    appendAndRead(ctx, st, -1, timed = false) // warm-up
    st
  }

  /** Mount the view star (program defaults, no knobs). In a traced op
    * named `op`, each mount is a phase of it. */
  def mountViews(ctx: Ctx, db: FlumeDb, vdir: String, op: String): Unit = {
    def use(name: String, v: ViewDef): Unit = { ctx.tracer.foreach(_.phase(op, s"views.$name.sync")); db.use(name, v) }
    use("ht", PersistentHashtableView(vdir, "user_id"))
    use("idx", PersistentIndexView(vdir, array(col("event_type"))))
    use("sum", PersistentSumReduceView(s"$vdir/sum", 1, "value"))
    use("search", SearchView("props"))
  }

  /** A gated read (`db.gated`), with the gate wait and the read body as
    * phases of the traced op `read.<view>`. */
  def gated[A](ctx: Ctx, db: FlumeDb, view: String)(f: Any => A): A = {
    ctx.tracer.foreach(_.phase(s"read.$view", "core.db.gate_wait"))
    db.gated(view) { v => ctx.tracer.foreach(_.phase(s"read.$view", "read.body")); f(v) }
  }

  private def rng(ctx: Ctx, i: Int) = new java.util.SplittableRandom(ctx.seed * 1000003L + i)

  def appendAndRead(ctx: Ctx, st: State, i: Int, timed: Boolean): Unit = {
    val rows = Gen.eventRows(ctx.spark, ctx.seed, st.nextId, batch)
    val frame = Gen.local(ctx.spark, rows, Gen.eventSchema)
    val base = st.db.since
    st.nextId += batch
    val upto = ctx.op("append", timed) {
      ctx.tracer.foreach(_.phase("append", "core.log.append"))
      st.db.append(frame)
    }
    upto.foreach { u =>
      st.appended += batch
      ctx.check("append seqs")(if (u == base + batch) None else Some(s"cursor $u after $base + $batch"))
    }
    if (upto.isEmpty) return
    val r = rng(ctx, i)
    Seq(0, 1).foreach { _ => read(ctx, st, readKinds(st.reads % readKinds.size), rows, base, r, timed); st.reads += 1 }
  }

  private def tokens(s: String): Set[String] = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet

  /** One read of data the iteration just wrote; row `j` of the batch has
    * seq `base + 1 + j`. */
  def read(ctx: Ctx, st: State, kind: String, rows: Array[Row], base: Long,
      r: java.util.SplittableRandom, timed: Boolean): Unit = {
    val j = r.nextInt(rows.length)
    val row = rows(j)
    def seqsWhere(p: Row => Boolean): Set[Long] = rows.indices.filter(x => p(rows(x))).map(base + 1 + _).toSet
    kind match {
      case "ht" =>
        val user = row.getLong(2)
        val last = rows.lastIndexWhere(_.getLong(2) == user)
        ctx.op("read.ht", timed, (a: Array[Row]) => a.length.toLong)(gated(ctx, st.db, "ht") { v =>
          v.asInstanceOf[PersistentHashtableView].get(user).select("seq", "event_id").collect()
        }).foreach { got =>
          ctx.check("read.ht")(Checks.sameSet(s"latest of user $user",
            Set((base + 1 + last, rows(last).getLong(0))), got.map(g => (g.getLong(0), g.getLong(1))).toSet))
        }
      case "idx" =>
        val key = row.getString(3)
        ctx.op("read.idx", timed, (a: Array[Long]) => a.length.toLong)(gated(ctx, st.db, "idx") { v =>
          v.asInstanceOf[PersistentIndexView].get(key).where(col("seq") > base).collect().map(_.getLong(1))
        }).foreach { got =>
          ctx.check("read.idx")(Checks.sameSet(s"index $key", seqsWhere(_.getString(3) == key), got.toSet))
        }
      case "search" =>
        val terms = tokens(row.getString(5)).toSeq.sorted
        val term = terms(r.nextInt(terms.size))
        ctx.op("read.search", timed, (a: Array[Long]) => a.length.toLong)(gated(ctx, st.db, "search") { v =>
          v.asInstanceOf[SearchView].search(term).where(col("seq") > base).collect().map(_.getLong(0))
        }).foreach { got =>
          ctx.check("read.search")(Checks.sameSet(s"search $term",
            seqsWhere(x => tokens(x.getString(5)).contains(term)), got.toSet))
        }
      case "sum" =>
        ctx.op("read.sum", timed, (_: (Double, Long)) => 1L)(gated(ctx, st.db, "sum") { v =>
          v.asInstanceOf[PersistentReduceView[(Double, Long)]].value.get
        }).foreach { case (s, c) =>
          val e = st.log.read.agg(coalesce(sum("value"), lit(0.0)), count(lit(1))).head()
          ctx.check("read.sum")(Checks.close("sum", e.getDouble(0), s).orElse(
            if (e.getLong(1) == c) None else Some(s"count: expected ${e.getLong(1)}, got $c")))
        }
      case "get" =>
        val seq = base + 1 + j
        ctx.op("read.get", timed, (a: Array[Row]) => a.length.toLong)(st.db.get(seq).select("event_id").collect()).foreach { got =>
          ctx.check("read.get")(Checks.sameSet(s"get($seq)", Set(row.getLong(0)), got.map(_.getLong(0)).toSet))
        }
    }
  }

  def takedown(ctx: Ctx, st: State, kind: String, i: Int): Unit = {
    if (kind == "retract") {
      val r = rng(ctx, i)
      var user = Gen.zipfUser(r.nextDouble(), retractUsers)
      while (st.retracted.contains(user)) user = Gen.zipfUser(r.nextDouble(), retractUsers)
      val ids = ctx.spark.createDataFrame(java.util.Arrays.asList(Row(user)),
        StructType(Seq(StructField("user_id", LongType, nullable = false))))
      // only a takedown that returned is owed its effect; a failed one
      // is counted in `failed` and the final checks compare the views
      // with whatever the log holds
      ctx.op("retract")(st.db.retractIds(ids, "user_id")).foreach { _ =>
        st.retracted += user
        ctx.check("retract")(Checks.absent(s"user $user in log",
          st.log.read.where(col("user_id") === user).select("seq").limit(5).collect().map(_.getLong(0)).toSeq))
      }
    } else {
      val through = st.expireTarget + expireStep
      st.expireTarget = through
      ctx.op("expire")(st.db.expire(through)).foreach { _ =>
        st.horizon = through
        ctx.check("expire")(Checks.absent(s"seqs <= $through in log",
          st.log.read.where(col("seq") <= through).select("seq").limit(5).collect().map(_.getLong(0)).toSeq))
      }
    }
  }

  /** Each view against a from-scratch recompute over `log.read`. */
  def finalChecks(ctx: Ctx, st: State): Unit = {
    val log = st.log.read
    def view(n: String) = st.db.view(n).view
    ctx.check("final ht")(Checks.sameDigest("hashtable vs log",
      Digest.of(Checks.latestPerKey(log, "user_id"), eventCols),
      Digest.of(view("ht").asInstanceOf[PersistentHashtableView].frame, eventCols)))
    ctx.check("final idx")(Checks.sameDigest("index vs log",
      Digest.of(Checks.indexPostings(log, array(col("event_type"))), Seq("key", "seq")),
      Digest.of(view("idx").asInstanceOf[PersistentIndexView].frame, Seq("key", "seq"))))
    ctx.check("final sum") {
      val e = log.agg(coalesce(sum("value"), lit(0.0)), count(lit(1))).head()
      val (s, c) = view("sum").asInstanceOf[PersistentReduceView[(Double, Long)]].value.get
      Checks.close("sum vs log", e.getDouble(0), s).orElse(
        if (e.getLong(1) == c) None else Some(s"count vs log: expected ${e.getLong(1)}, got $c"))
    }
    ctx.check("final search")(Checks.sameDigest("search vs log",
      Digest.of(Checks.searchPostings(log, "props"), Seq("term", "seq")),
      Digest.of(view("search").asInstanceOf[SearchView].frame.get, Seq("term", "seq"))))
    ctx.check("final takedowns")(Checks.absent("retracted users or expired seqs in log",
      log.where(col("user_id").isin(st.retracted.toSeq: _*) || col("seq") <= st.horizon)
        .select("seq").limit(5).collect().map(_.getLong(0)).toSeq))
  }

  def run(ctx: Ctx): Outcome = {
    ctx.headline = "append"
    val st = ctx.setUp(setup(ctx, _)) { s => s.db.close(); Main.delete(s.dir) }
    val attemptedBefore = ctx.attempted
    val views0 = st.db.viewNames
    ctx.tracer.foreach { t =>
      st.db.onSince(_ => t.phase("append", s"views.${views.head}.sync"))
      views.zipWithIndex.foreach { case (v, n) =>
        val next = if (n + 1 < views.size) s"views.${views(n + 1)}.sync" else null
        st.db.view(v).onSince(_ => t.phase("append", next))
      }
    }
    var i = 0
    var appends = 0
    while (i < minCycles * cycle.size || !ctx.deadlineReached || i % cycle.size != 0) {
      val kind = cycle(i % cycle.size)
      // a traced run traces both takedowns and every other append: the
      // traced appends' reads cover every read kind, the untraced appends
      // give the tracing overhead
      ctx.iteration(kind != "append" || appends % 2 == 0) {
        if (kind == "append") appendAndRead(ctx, st, i, timed = true) else takedown(ctx, st, kind, i)
      }
      if (kind == "append") appends += 1
      i += 1
    }
    val measuredS = ctx.measuredMs / 1000
    finalChecks(ctx, st)
    val liveRows = st.log.read.count()
    val storeBytes = Fs.bytes(new java.io.File(st.dir, "log")) + Fs.bytes(new java.io.File(st.dir, "views"))
    val reads = readKinds.flatMap(k => ctx.samples.getOrElse(s"read.$k", Nil))
    val readsTraced = readKinds.flatMap(k => ctx.tracedSamples.getOrElse(s"read.$k", Nil))
    st.db.close()
    val named = Map[String, Any](
      "append_ms_p50" -> ctx.p50("append"), "append_ms_p90" -> ctx.p90("append"),
      "read_ms_p50" -> Some(Stats.median(reads)).filterNot(_.isNaN),
      "read_ms_p90" -> (if (reads.size >= Stats.minP90Samples) Some(Stats.quantile(reads, 0.9)) else None),
      "retract_ms_p50" -> ctx.p50("retract"), "expire_ms_p50" -> ctx.p50("expire"),
      "serve_rows_per_s" -> st.appended / measuredS, "store_bytes_per_row" -> storeBytes.toDouble / liveRows)
    Outcome(Map(
      "visible_ms_p50" -> ctx.p50("append").getOrElse(Double.NaN),
      "read_ms_p50" -> Stats.median(if (reads.nonEmpty) reads else readsTraced),
      "rows_per_s" -> st.appended / measuredS,
      "store_bytes_per_row" -> storeBytes.toDouble / liveRows), named,
      Map("iterations" -> i, "measured_s" -> measuredS, "live_rows" -> liveRows,
        "retracted_users" -> st.retracted.toSeq, "expired_through" -> st.horizon,
        "views" -> views0, "attempted_in_setup" -> attemptedBefore))
  }
}
