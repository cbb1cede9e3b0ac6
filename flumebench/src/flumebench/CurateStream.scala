package flumebench

import graft.core.ParquetLog
import graft.streaming.StreamingCurator
import graft.views.SignatureTableView
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** curate_stream: the LLM-curation ingest loop. Each step appends a
  * generated document batch to the source log and waits for the
  * streaming curator to reach parity (curated log + signature table),
  * then reads one curated document and its stored signature. Planted
  * exact copies and near-duplicates come from the same batch and from
  * earlier batches. One client, closed loop. */
object CurateStream {
  val minQuality = 0.2
  /** Batches a run measures at least, so its batch median has enough
    * samples when batches are slow. */
  val minBatches = 4

  final class State(val dir: java.io.File, val source: ParquetLog, val curated: ParquetLog,
      val sig: SignatureTableView, val curator: StreamingCurator) {
    var batch = 0L
    var docs = 0L
    var kept = 0L
    val warmKept = mutable.ArrayBuffer.empty[Long]
  }

  def open(ctx: Ctx, k: Int): State = {
    val dir = new java.io.File(ctx.data, s"curate-$k")
    def p(n: String) = new java.io.File(dir, n).getPath
    val source = new ParquetLog(ctx.spark, p("source"), Gen.docSchema)
    val curated = new ParquetLog(ctx.spark, p("curated"), Gen.docSchema)
    val sig = new SignatureTableView(ctx.spark, p("signatures"), 1, "doc_id", "text")
    val curator = new StreamingCurator(source, curated, sig, p("commit"), checkpointDir = Some(p("checkpoint")))
    new State(dir, source, curated, sig, curator)
  }

  def step(ctx: Ctx, st: State, timed: Boolean): Unit = {
    val b = st.batch
    val rows = Gen.docRows(ctx.seed, b)
    val frame = Gen.local(ctx.spark, rows, Gen.docSchema)
    st.batch += 1
    val done = ctx.op("batch", timed) {
      ctx.tracer.foreach(_.phase("batch", "core.log.append"))
      st.source.append(frame)
      st.curator.awaitParity()
    }
    if (done.isEmpty) return
    st.docs += rows.length
    val ids = rows.map(_.getLong(0)).toSet
    val lo = ids.min; val hi = ids.max
    val kept = st.curated.read.where(col("doc_id").between(lo, hi)).select("doc_id").collect().map(_.getLong(0)).toSet
    st.kept += kept.size
    if (!timed) st.warmKept ++= kept.toSeq.sorted
    val passing = frame.where(graft.ops.TextAnalysis.qualityCol(col("text")) >= minQuality)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    ctx.check("curated batch")(Checks.curatedBatch(kept,
      ids.filter(id => Set[Gen.Kind](Gen.ExactSame, Gen.ExactCross).contains(Gen.kind(id))),
      passing.filter(Gen.kind(_) == Gen.Unique)))
    val uniques = ids.toSeq.sorted.filter(Gen.kind(_) == Gen.Unique)
    val r = new java.util.SplittableRandom(ctx.seed * 15485863L + b)
    val pick = uniques(r.nextInt(uniques.size))
    ctx.op("read.curated", timed, (a: Array[Row]) => a.length.toLong)(st.curated.read.where(col("doc_id") === pick).collect()).foreach { got =>
      ctx.check("read.curated")(Checks.sameSet(s"curated doc $pick", Set[Row](Row(pick, Gen.docText(ctx.seed, pick))),
        got.map(g => Row(g.getAs[Long]("doc_id"), g.getAs[String]("text"))).toSet))
    }
    ctx.op("read.signature", timed, (a: Array[Row]) => a.length.toLong)(st.sig.sigs.where(col("id") === pick).select("id").collect()).foreach { got =>
      ctx.check("read.signature")(Checks.sameSet(s"signature of $pick", Set(pick), got.map(_.getLong(0)).toSet))
    }
  }

  def run(ctx: Ctx): Outcome = {
    ctx.headline = "batch"
    val st = ctx.setUp { k => val s = open(ctx, k); step(ctx, s, timed = false); s } { s =>
      s.curator.stop(); Main.delete(s.dir)
    }
    val warmRatio = st.warmKept.size.toDouble / Gen.batchDocs
    ctx.tracer.foreach { t =>
      st.source.onSince(_ => t.phase("batch", "ops.curate.decide"))
      st.curated.onSince(_ => t.phase("batch", "views.signature.absorb"))
    }
    val docs0 = st.docs
    var i = 0
    while (!ctx.deadlineReached || i < minBatches) { ctx.iteration(i % 2 == 0)(step(ctx, st, timed = true)); i += 1 }
    val measuredS = ctx.measuredMs / 1000
    val docs = st.docs - docs0
    st.curator.stop()
    ctx.check("curated in source")(Checks.curatedInSource(st.curated.read, st.source.read, "doc_id"))
    val storeBytes = Fs.bytes(st.dir)
    val reads = Seq("read.curated", "read.signature").flatMap(k => ctx.samples.getOrElse(k, Nil))
    val batchMs = ctx.samples.getOrElse("batch", Nil).sum + ctx.tracedSamples.getOrElse("batch", Nil).sum
    val named = Map[String, Any](
      "curate_batch_ms_p50" -> ctx.p50("batch"), "curate_docs_per_s" -> docs / (batchMs / 1000),
      "read_ms_p50" -> Some(Stats.median(reads)).filterNot(_.isNaN),
      "store_bytes_per_row" -> storeBytes.toDouble / st.docs)
    Outcome(Map(
      "visible_ms_p50" -> ctx.p50("batch").getOrElse(Double.NaN),
      "read_ms_p50" -> Stats.median(reads),
      "rows_per_s" -> docs / measuredS,
      "store_bytes_per_row" -> storeBytes.toDouble / st.docs), named,
      Map("batches" -> i, "measured_s" -> measuredS, "source_docs" -> st.docs, "curated_docs" -> st.curated.read.count(),
        "ops.curate.kept_ratio" -> warmRatio, "warm_curated_digest" -> Checks.idDigest(st.warmKept.toSeq),
        "kept_ratio_timed" -> (st.kept - st.warmKept.size).toDouble / math.max(1L, docs)))
  }
}
