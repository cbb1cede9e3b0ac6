package flumebench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Minimal JSON writer for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}

object Stats {
  /** Median by linear interpolation (Python's `statistics.median`). */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted; val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** A p90 needs enough samples beyond it to mean something. */
  val minP90Samples = 100
}

/** State shared by one benchmark run: failure accounting, latency
  * samples, output checks and (in a traced run) the tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val cpus: Int, val data: java.io.File) {
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val errors = mutable.LinkedHashMap.empty[String, Long]
  /** Latencies (ms) of completed ops; traced ops are kept apart. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val tracedSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Milliseconds spent inside timed ops: the run's measured time, and its
    * split by op name (failed ops included). */
  var measuredMs = 0.0
  val measuredByOp = mutable.LinkedHashMap.empty[String, Double]
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
  /** Traced ops: file-system delta, GC ms and result rows (reads). */
  val opExtras = mutable.Map.empty[Long, (Fs.Delta, Long, Option[Long])]

  /** Set-up durations (s); their median is `setup_s`. */
  val setupS = mutable.ArrayBuffer.empty[Double]

  /** Set the workload up `Ctx.setups` times in fresh directories, keep the
    * last state and drop the others. Each set-up ends with an untimed
    * warm-up op, so JIT and Spark codegen are warm when timing starts.
    * Resets the run's samples and measured clock. */
  def setUp[S](make: Int => S)(drop: S => Unit): S = {
    var st: Option[S] = None
    (0 until Ctx.setups).foreach { k =>
      st.foreach(drop)
      val t0 = System.nanoTime()
      st = Some(make(k))
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[flumebench] set-up $k: ${setupS.last}%.2f s")
    }
    samples.clear(); tracedSamples.clear(); measuredMs = 0.0; measuredByOp.clear()
    System.gc() // set-up garbage is not the timed region's to collect
    st.get
  }

  /** Name of the op whose latency is `visible_ms_p50`. */
  var headline = ""

  def tracingOn: Boolean = tracer.exists(_.on)

  /** One loop iteration, traced in a traced run when `trace` holds. A
    * workload traces only some iterations, so its untraced iterations
    * give the tracing overhead. */
  def iteration[A](trace: Boolean)(body: => A): A = tracer match {
    case Some(t) => t.on = trace; try t.op("iter")(body) finally t.on = false
    case None => body
  }
  def deadlineReached: Boolean = measuredMs >= seconds * 1000

  private def report(what: String, e: Throwable, ms: Double = Double.NaN): Unit = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val first = Option(root.getMessage).getOrElse(root.getClass.getName).linesIterator.nextOption().getOrElse("")
    val origin = (e.getStackTrace ++ root.getStackTrace).find(_.getClassName.startsWith("graft."))
      .orElse(e.getStackTrace.headOption).map(_.toString).getOrElse("?")
    val key = s"$what: ${root.getClass.getSimpleName}: ${first.take(160)}"
    errors(key) = errors.getOrElse(key, 0L) + 1
    val after = if (ms.isNaN) "" else f" after $ms%.0f ms"
    System.err.println(s"[flumebench] FAILED $what$after: ${root.getClass.getName}: $first\n    at $origin")
  }

  /** Run one client op. Counts it as attempted; a throw counts as failed,
    * is printed, and yields None. The op's latency is recorded only when
    * it completes; `timed` ops advance the run's measured clock. A read
    * passes `rows`, the number of rows its result stands for. */
  def op[A](name: String, timed: Boolean = true, rows: A => Long = null)(body: => A): Option[A] = {
    attempted += 1
    val traceNow = tracingOn
    val fs0 = if (traceNow) Fs.snap(data) else null
    val gc0 = if (traceNow) Jvm.gcMs else 0L
    val t0 = System.nanoTime()
    val r = try Some(tracer.fold(body)(_.span(name)(body))) catch {
      case scala.util.control.NonFatal(e) => failed += 1; report(name, e, (System.nanoTime() - t0) / 1e6); None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (timed) { measuredMs += ms; measuredByOp(name) = measuredByOp.getOrElse(name, 0.0) + ms }
    if (r.isDefined) (if (traceNow) tracedSamples else samples).getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    if (traceNow) tracer.get.spans.reverseIterator.find(s => s.name == name && s.parent != 0L)
      .foreach(s => opExtras(s.id) = (Fs.delta(fs0, Fs.snap(data)), Jvm.gcMs - gc0, r.flatMap(a => Option(rows).map(_(a)))))
    r
  }

  /** An output check: a violation marks the run incorrect and counts as a
    * failure; a throw while checking counts as a failure only. */
  def check(what: String)(violation: => Option[String]): Unit = {
    attempted += 1
    try violation.foreach { v =>
      wrong += 1; failed += 1
      errors(s"check $what") = errors.getOrElse(s"check $what", 0L) + 1
      System.err.println(s"[flumebench] CHECK FAILED $what: $v")
    } catch { case scala.util.control.NonFatal(e) => failed += 1; report(s"check $what", e) }
  }

  /** Record a latency measured inside another op. */
  def sample(name: String, ms: Double): Unit =
    (if (tracingOn) tracedSamples else samples).getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms

  def p50(name: String): Option[Double] = samples.get(name).filter(_.nonEmpty).map(s => Stats.median(s.toSeq))
  def p90(name: String): Option[Double] =
    samples.get(name).filter(_.size >= Stats.minP90Samples).map(s => Stats.quantile(s.toSeq, 0.9))
  def count(name: String): Int = samples.get(name).map(_.size).getOrElse(0)
}

/** What a workload hands back to [[Main]]. `endToEnd` are the metrics
  * shared by every workload; `named` are the workload's own metrics,
  * reported by the names the rest of the repo uses. */
final case class Outcome(endToEnd: Map[String, Double], named: Map[String, Any],
    info: Map[String, Any] = Map.empty)

object Ctx {
  /** Set-ups per run. */
  val setups = 3
}

object Main {
  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def session(cpus: Int, tmp: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("flumebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new java.io.File(tmp, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(tmp, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new java.io.File(tmp, "checkpoints").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload = o("workload")
    val cpus = o("cpus").toInt
    val data = new java.io.File(o("data"))
    require(!data.exists(), s"data root $data already exists")
    data.mkdirs()
    val ctx0 = System.nanoTime()
    val spark = session(cpus, data.getParentFile)
    System.err.println(f"[flumebench] session: ${(System.nanoTime() - ctx0) / 1e9}%.2f s")
    val ctx = new Ctx(spark, o("seed").toLong, o("seconds").toDouble, o("trace") == "1", cpus, data)
    val code = try {
      val out = workload match {
        case "serve_mix" => ServeMix.run(ctx)
        case "restart_rebuild" => RestartRebuild.run(ctx)
        case "curate_stream" => CurateStream.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.tracer.foreach(_.close())
      val rss = Jvm.peakRssMb
      val setup = Stats.median(ctx.setupS.toSeq)
      val named = out.named ++ Map("setup_s" -> setup, "peak_rss_mb" -> rss,
        "error_rate" -> ctx.failed.toDouble / math.max(1L, ctx.attempted))
      val metrics: Map[String, Double] =
        if (ctx.traced) Layers.flat(ctx) + ("jvm.peak_rss_mb" -> rss)
        else out.endToEnd + ("setup_s" -> setup)
      val units = Metrics.units
      val detail = Map(
        "named_metrics" -> named, "setup_runs_s" -> ctx.setupS, "info" -> out.info,
        "measured_ms_by_op" -> ctx.measuredByOp,
        "samples" -> (ctx.samples.map { case (k, v) => k -> v.size } ++
          ctx.tracedSamples.map { case (k, v) => s"$k(traced)" -> v.size }),
        "errors" -> ctx.errors) ++
        (if (ctx.traced) Map("layer_table" -> Layers.table(ctx), "spans" -> Layers.spanDump(ctx)) else Map.empty)
      println("FLUMEBENCH_TABLE " + Json(detail))
      val missing = metrics.collect { case (k, v) if v.isNaN || v.isInfinite => k }
      if (missing.nonEmpty) throw new IllegalStateException(s"no value for ${missing.mkString(", ")}: every op failed")
      println("FLUMEBENCH_RESULT " + Json(Map(
        "correct" -> (ctx.wrong == 0L), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> Map("value" -> v, "unit" -> units.getOrElse(k, "?"))
        }.to(collection.immutable.ListMap))))
      0
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        1
    } finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      spark.stop()
    }
    System.exit(code)
  }
}

object Metrics {
  val units: Map[String, String] = Map(
    "setup_s" -> "s", "visible_ms_p50" -> "ms", "read_ms_p50" -> "ms", "rows_per_s" -> "rows/s",
    "store_bytes_per_row" -> "bytes", "jvm.peak_rss_mb" -> "MB") ++ Layers.units
}
