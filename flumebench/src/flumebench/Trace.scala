package flumebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One traced interval. `op` groups the spans of one client operation;
  * `parent` is 0 for an operation's root span. Times are wall-clock
  * milliseconds with microsecond fractions. */
final case class Span(id: Long, name: String, op: Long, parent: Long, start: Double, var end: Double) {
  def dur: Double = end - start
}

/** Spark counters attributed to one span. */
final class SparkCounts {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, inBytes, inRecords, outBytes, shRead, shWrite, spill = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  def add(c: SparkCounts): Unit = {
    jobs += c.jobs; stages += c.stages; tasks += c.tasks; cpuNs += c.cpuNs; runMs += c.runMs
    inBytes += c.inBytes; inRecords += c.inRecords; outBytes += c.outBytes
    shRead += c.shRead; shWrite += c.shWrite; spill += c.spill; jobIntervals ++= c.jobIntervals
  }
}

final case class Progress(at: Double, triggerStart: Double, rows: Long, durations: Map[String, Long])

object Intervals {
  /** Length of the union of `xs`, each clipped to `[lo, hi]`. */
  def coveredWithin(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) { if (!curA.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.dur - coveredWithin(children.map(c => (c.start, c.end)), span.start, span.end)
}

/** Spans, Spark job/stage metrics, streaming progress and since callbacks
  * for the traced run. Spans are recorded by the benchmark around calls
  * into the program's public functions; Spark work is attributed to the
  * innermost open span through a local property set on the client thread
  * (jobs of a streaming query, by their start time). */
final class Tracer(spark: SparkSession) {
  private val prop = "flumebench.span"
  private var nextId = 0L
  private var curOp = 0L
  @volatile var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val counts = new java.util.concurrent.ConcurrentHashMap[Long, SparkCounts]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double)]()
  val progress = mutable.ArrayBuffer.empty[Progress]

  def now: Double = System.nanoTime() / 1e6 - Tracer.nanoOffsetMs

  private def countsOf(span: Long): SparkCounts = counts.computeIfAbsent(span, _ => new SparkCounts)

  private val clientThread = Thread.currentThread()
  /** Jobs of a streaming query run on its own thread, which carries no
    * span property: they are counted under a key of their own and given
    * to the innermost span open at their start time when read. */
  private val streamJobs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  private val streamKeys = new java.util.concurrent.atomic.AtomicLong(-1L)

  private def spanOf(e: SparkListenerJobStart): Long = {
    val p = Option(e.properties)
    p.flatMap(q => Option(q.getProperty(prop))).map(_.toLong).getOrElse {
      if (p.exists(_.getProperty("sql.streaming.queryId") != null)) {
        val k = streamKeys.getAndDecrement(); streamJobs.put(k, e.time.toDouble); k
      } else 0L
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e)
      if (s != 0L) {
        jobSpan.put(e.jobId, (s, e.time.toDouble))
        countsOf(s).synchronized(countsOf(s).jobs += 1)
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) =>
        val c = countsOf(s); c.synchronized(c.jobIntervals += ((t0, e.time.toDouble)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.remove(e.stageInfo.stageId)).foreach { s =>
        val c = countsOf(s); val m = e.stageInfo.taskMetrics
        c.synchronized {
          c.stages += 1; c.tasks += e.stageInfo.numTasks
          if (m != null) {
            c.cpuNs += m.executorCpuTime; c.runMs += m.executorRunTime
            c.inBytes += m.inputMetrics.bytesRead; c.inRecords += m.inputMetrics.recordsRead
            c.outBytes += m.outputMetrics.bytesWritten
            c.shRead += m.shuffleReadMetrics.totalBytesRead; c.shWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val queryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      progress.synchronized(progress += Progress(System.currentTimeMillis().toDouble, start, p.numInputRows, d))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(queryListener)

  /** Wait until every posted listener event has been delivered, then give
    * each streaming job's counts to the innermost span open at its start. */
  def drain(): Unit = {
    org.apache.spark.flumebench.Bus.drain(spark.sparkContext)
    val it = streamJobs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val t = e.getValue.doubleValue
      val open = spans.filter(s => s.start <= t && (s.end.isNaN || t <= s.end))
      if (open.nonEmpty) {
        val target = open.maxBy(_.start)
        Option(counts.remove(e.getKey)).foreach { c => val into = countsOf(target.id); into.synchronized(into.add(c)) }
      }
      it.remove()
    }
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(queryListener)
  }

  /** Only the client thread's jobs are tagged; a since callback may run
    * on a streaming query's thread. */
  private def setProp(): Unit = if (Thread.currentThread() eq clientThread)
    spark.sparkContext.setLocalProperty(prop, stack.headOption.map(_.id.toString).orNull)

  private def open(name: String): Span = synchronized {
    nextId += 1
    val s = Span(nextId, name, curOp, stack.headOption.map(_.id).getOrElse(0L), now, Double.NaN)
    spans += s; stack.push(s); setProp(); s
  }
  private def close(s: Span): Unit = synchronized {
    s.end = now
    while (stack.nonEmpty && (stack.top ne s)) stack.pop().end = s.end
    if (stack.nonEmpty) stack.pop()
    setProp()
  }

  /** Root span of one client operation; a no-op when tracing is off. */
  def op[A](name: String)(body: => A): A =
    if (!on) body else { curOp += 1; val s = open(name); try body finally close(s) }

  def span[A](name: String)(body: => A): A =
    if (!on || stack.isEmpty) body else { val s = open(name); try body finally close(s) }

  /** Close the open phase child of the innermost open `parentName` span
    * and open the next phase (none when `name` is null): for since
    * callbacks that mark phase boundaries inside one program call. */
  def phase(parentName: String, name: String): Unit = synchronized { if (on && stack.exists(_.name == parentName)) {
    while (stack.top.name != parentName) close(stack.top)
    if (name != null) open(name)
  } }

  def countsFor(spanIds: Set[Long]): SparkCounts = {
    val out = new SparkCounts
    spanIds.foreach { id =>
      Option(counts.get(id)).foreach(c => c.synchronized(out.add(c)))
    }
    out
  }

  def descendants(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id).toSeq
    kids ++ kids.flatMap(descendants)
  }
}

object Tracer {
  /** Offsets nanoTime so span times line up with Spark's epoch-ms event times. */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble
}

/** File-system snapshot of a data root: path -> (size, mtime). */
object Fs {
  type Snap = Map[String, (Long, Long)]
  def snap(root: java.io.File): Snap = {
    val b = Map.newBuilder[String, (Long, Long)]
    def walk(f: java.io.File): Unit =
      Option(f.listFiles()).foreach(_.foreach { c =>
        if (c.isDirectory) walk(c) else b += c.getPath -> ((c.length(), c.lastModified()))
      })
    walk(root); b.result()
  }
  def bytes(dir: java.io.File): Long = snap(dir).valuesIterator.map(_._1).sum

  /** `deltaDirs`: per view directory, its `batch=<seq>` delta directories. */
  final case class Delta(created: Int, deleted: Int, bytesWritten: Long, smallFiles: Int,
      deltaDirs: Map[String, Int] = Map.empty)
  val smallFileBytes: Long = 128L * 1024
  def delta(before: Snap, after: Snap): Delta = {
    val created = after.keySet -- before.keySet
    val rewritten = after.collect { case (p, v) if before.get(p).exists(_ != v) => v._1 }
    Delta(created.size, (before.keySet -- after.keySet).size,
      created.iterator.map(after(_)._1).sum + rewritten.sum,
      after.count { case (p, v) => v._1 < smallFileBytes && !p.endsWith(".crc") && !new java.io.File(p).getName.startsWith("_") && !new java.io.File(p).getName.startsWith(".") },
      after.keysIterator.flatMap { p =>
        val parts = p.split("/")
        parts.indices.find(i => i > 0 && parts(i).startsWith("batch=")).map(i => (parts(i - 1), parts.take(i + 1).mkString("/")))
      }.toSeq.distinct.groupBy(_._1).map { case (view, ds) => view -> ds.size })
  }
}

object Jvm {
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
  /** Peak resident set size of this process, from /proc. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
