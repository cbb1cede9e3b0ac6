package flumebench

/** Per-layer numbers of a traced run, derived from its spans. A layer is
  * a module of the program: `core.log`, `core.db`, `views`, `streaming`,
  * `ops`, plus Spark, the JVM and the file system underneath. */
object Layers {
  val units: Map[String, String] = Map(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.driver_gap_ms" -> "ms", "spark.core_util" -> "ratio", "jvm.gc_ms" -> "ms",
    "fs.files_created" -> "count", "fs.bytes_written" -> "bytes", "fs.small_files" -> "count",
    "core.log_ms" -> "ms", "views.sync_ms" -> "ms", "trace.overhead_ratio" -> "ratio")

  /** Layer values of one client op (a child span of an iteration). */
  def opMetrics(ctx: Ctx, t: Tracer, op: Span): Map[String, Double] = {
    val sub = t.descendants(op)
    val c = t.countsFor((sub.map(_.id) :+ op.id).toSet)
    val (fsd, gc, rows) = ctx.opExtras.getOrElse(op.id, (Fs.Delta(0, 0, 0L, 0), 0L, None))
    val phases = sub.groupBy(_.name).map { case (n, ss) => s"$n.ms" -> ss.map(_.dur).sum }
    val phaseJobs = sub.groupBy(_.name).map { case (n, ss) => s"$n.jobs" -> t.countsFor(ss.map(_.id).toSet).jobs.toDouble }
    val progress = t.progress.synchronized(t.progress.filter(p => p.at >= op.start && p.triggerStart <= op.end).toSeq)
    val streaming = if (progress.isEmpty) Map.empty[String, Double] else {
      def sum(keys: String*) = progress.map(p => keys.map(p.durations.getOrElse(_, 0L)).sum).sum.toDouble
      val commit = sub.find(_.name == "core.log.append").map(_.end)
      Map("streaming.plan_ms" -> sum("queryPlanning"), "streaming.add_batch_ms" -> sum("addBatch"),
        "streaming.commit_ms" -> sum("walCommit", "commitOffsets"),
        "streaming.batches_per_append" -> progress.count(_.rows > 0).toDouble) ++
        commit.flatMap(c0 => progress.filter(_.rows > 0).map(_.triggerStart).minOption.map(s => "streaming.trigger_wait_ms" -> math.max(0.0, s - c0)))
    }
    Map(
      "wall_ms" -> op.dur,
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble, "spark.tasks" -> c.tasks.toDouble,
      "spark.executor_cpu_ms" -> c.cpuNs / 1e6, "spark.executor_run_ms" -> c.runMs.toDouble,
      "spark.input_bytes" -> c.inBytes.toDouble, "spark.input_records" -> c.inRecords.toDouble,
      "spark.output_bytes" -> c.outBytes.toDouble,
      "spark.shuffle_read_bytes" -> c.shRead.toDouble, "spark.shuffle_write_bytes" -> c.shWrite.toDouble,
      "spark.spill_bytes" -> c.spill.toDouble,
      "spark.driver_gap_ms" -> (op.dur - Intervals.coveredWithin(c.jobIntervals.toSeq, op.start, op.end)),
      "spark.core_util" -> c.runMs / math.max(1e-9, op.dur * ctx.cpus),
      "jvm.gc_ms" -> gc.toDouble, "fs.files_created" -> fsd.created.toDouble,
      "fs.files_deleted" -> fsd.deleted.toDouble, "fs.bytes_written" -> fsd.bytesWritten.toDouble,
      "fs.small_files" -> fsd.smallFiles.toDouble,
      "self_ms" -> Intervals.selfTime(op, sub.filter(_.parent == op.id))) ++ phases ++ phaseJobs ++ streaming ++
      fsd.deltaDirs.map { case (v, n) => s"views.$v.delta_dirs" -> n.toDouble } ++
      rows.filter(_ > 0).map(n => "views.read.input_rows_per_result_row" -> c.inRecords.toDouble / n)
  }

  private def traced(ctx: Ctx): Seq[(Span, Seq[(Span, Map[String, Double])])] = ctx.tracer.toSeq.flatMap { t =>
    t.drain()
    t.spans.filter(_.parent == 0L).toSeq.map { it =>
      it -> t.spans.filter(s => s.parent == it.id).toSeq.map(s => s -> opMetrics(ctx, t, s))
    }
  }

  /** Per op type, the median of each layer value over the traced ops. */
  def table(ctx: Ctx): Map[String, Map[String, Double]] =
    traced(ctx).flatMap(_._2).groupBy(_._1.name).map { case (name, ops) =>
      name -> ops.flatMap(_._2.keys).distinct.sorted.map { k =>
        k -> Stats.median(ops.map(_._2.getOrElse(k, 0.0)))
      }.to(collection.immutable.ListMap)
    }

  /** The per-layer metrics of a traced run's result line: each layer's
    * total per traced iteration, averaged over the traced iterations. */
  def flat(ctx: Ctx): Map[String, Double] = {
    val its = traced(ctx)
    val n = math.max(1, its.size).toDouble
    def total(k: String) = its.map(_._2.map(_._2.getOrElse(k, 0.0)).sum).sum / n
    def prefixed(p: String) = its.map(_._2.map(_._2.collect { case (k, v) if k.startsWith(p) && k.endsWith(".ms") => v }.sum).sum).sum / n
    val additive = units.keySet.filter(k => k.startsWith("spark.") || k.startsWith("fs.") || k == "jvm.gc_ms") -
      "spark.core_util" - "fs.small_files"
    val run = its.map(_._2.map(_._2.getOrElse("spark.executor_run_ms", 0.0)).sum).sum
    val wall = its.map(_._1.dur).sum
    val overhead = for {
      tr <- ctx.tracedSamples.get(ctx.headline).filter(_.nonEmpty)
      un <- ctx.samples.get(ctx.headline).filter(_.nonEmpty)
    } yield Stats.median(tr.toSeq) / Stats.median(un.toSeq)
    additive.map(k => k -> total(k)).toMap ++ Map(
      "spark.core_util" -> run / math.max(1e-9, wall * ctx.cpus),
      "fs.small_files" -> its.lastOption.flatMap(_._2.lastOption).map(_._2("fs.small_files")).getOrElse(0.0),
      "core.log_ms" -> prefixed("core.log."), "views.sync_ms" -> prefixed("views."),
      "trace.overhead_ratio" -> overhead.getOrElse(Double.NaN)).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
  }

  def spanDump(ctx: Ctx): Seq[Map[String, Any]] = ctx.tracer.toSeq.flatMap { t =>
    val kids = t.spans.groupBy(_.parent)
    t.spans.toSeq.map { s =>
      Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> Intervals.selfTime(s, kids.getOrElse(s.id, Nil).toSeq))
    }
  }
}
