package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Bench-owned tracing: spans around each call the benchmark makes into
  * the program, plus Spark listeners that charge every job, stage and
  * task to the span whose thread submitted it (through a local
  * property, which Spark copies onto the threads it starts for a
  * query). Nothing in the program is instrumented.
  *
  * A span's wall time is split among the layers that ran inside it:
  * each Spark stage is labelled with a layer from the plan operators it
  * runs (see [[Trace.label]]), stages running at once share the wall
  * time evenly, and what no stage covers stays with the span itself
  * (driver work: planning, codegen, scheduling, result handling).
  * Layer self times plus the time outside every span add up to the
  * traced wall time.
  */
final class Trace {
  import Trace._

  private val wall0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def epochMs(nano: Long): Double = wall0Ms + (nano - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val triggerMs = mutable.ArrayBuffer.empty[Double]
  private var planMs = 0.0
  private var rowsEmitted = 0L
  private var approxTracks = 0L
  private var tracedNs = 0L
  private var attachedAt = 0L
  private var gcMs0 = 0L
  private var gcMs = 0L
  private var codegen0 = (0L, 0.0)
  private var codegenCount = 0L
  private var codegenMs = 0.0
  private var session: SparkSession = _
  private val lock = new Object

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = JobRec(span, exec, e.time, e.stageInfos.map(_.stageId))
      e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId, new StageRec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val info = e.stageInfo
      val rec = stages.getOrElseUpdate(info.stageId, new StageRec)
      rec.submitted = info.submissionTime
      rec.completed = info.completionTime
      rec.scopes = SparkInternals.scopeNames(info)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val rec = stages.getOrElseUpdate(e.stageId, new StageRec)
      rec.tasks += 1
      rec.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        rec.runMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        rec.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.recordsRead += m.inputMetrics.recordsRead
        rec.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        planMs += qe.tracker.phases.values.map(_.durationMs).sum
        qe.observedMetrics.get("tracker_stats").foreach { r =>
          rowsEmitted += r.getAs[Long]("rows_emitted")
          approxTracks += r.getAs[Long]("approx_tracks")
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { triggerMs += e.progress.batchDuration.toDouble }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def gcTotalMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private def codegenNow(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  /** Start recording on `spark` (listeners on, clocks started). */
  def attach(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attachedAt = System.nanoTime()
    gcMs0 = gcTotalMs()
    codegen0 = codegenNow()
  }

  /** Stop recording; waits until every event of the traced work arrived. */
  def detach(): Unit = if (session != null) {
    tracedNs += System.nanoTime() - attachedAt
    gcMs += gcTotalMs() - gcMs0
    val (n, ms) = codegenNow()
    codegenCount += n - codegen0._1
    // the histogram keeps every sample until 1028 compiles; past that
    // its sample sum undercounts, so scale the mean instead
    codegenMs += (if (n <= 1028) ms - codegen0._2
      else (n - codegen0._1) * (if (n > 0) ms / math.min(n, 1028L) else 0.0))
    val sc = session.sparkContext
    SparkInternals.drainListenerBus(sc)
    sc.removeSparkListener(sparkListener)
    session.listenerManager.unregister(queryListener)
    session.streams.removeListener(streamListener)
    session = null
  }

  /** Run `body` as a span named `name` of kind `kind` (its layer rule). */
  def span[T](name: String, kind: String)(body: => T): T = {
    if (session == null) return body
    val sc = session.sparkContext
    val id = spans.size
    val t0 = System.nanoTime()
    spans += Span(id, name, kind, epochMs(t0), Double.NaN)
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      sc.setLocalProperty(SpanProp, null)
      spans(id) = spans(id).copy(endMs = epochMs(System.nanoTime()))
    }
  }

  /** Like [[span]] for work done before a session exists to attach to. */
  def spanDetached[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally spans += Span(spans.size, name, "detached", epochMs(t0), epochMs(System.nanoTime()))
  }

  /** Per-layer metrics over everything recorded so far. */
  def metrics(matchRows: Long, artifactBytes: Long, passes: Int, overheadS: Double): Seq[(String, Double, String)] = lock.synchronized {
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    Layers.foreach(self(_) = 0.0)
    val byLayerStages = mutable.Map.empty[String, mutable.ArrayBuffer[StageRec]]
    val jobsBySpan = jobs.toSeq.groupBy(_._2.span)
    var covered = 0.0
    spans.foreach { sp =>
      covered += sp.endMs - sp.startMs
      val spJobs = jobsBySpan.getOrElse(Some(sp.id), Nil).sortBy(_._1)
      val labelled = label(sp.kind, spJobs.map { case (jid, j) =>
        (jid, j.exec, j.stageIds.flatMap(stages.get).filter(_.submitted.isDefined)) })
      labelled.foreach { case (l, recs) => byLayerStages.getOrElseUpdate(l, mutable.ArrayBuffer.empty) ++= recs }
      val shares = wallShares(sp.startMs, sp.endMs,
        labelled.toSeq.flatMap { case (l, recs) => recs.map(r =>
          (l, r.submitted.get.toDouble, r.completed.getOrElse(r.submitted.get).toDouble)) })
      shares.foreach { case (l, ms) => self(l) += ms / 1e3 }
      self(sp.name) += (sp.endMs - sp.startMs - shares.values.sum) / 1e3
    }
    def stagesOf(ls: String*) = ls.flatMap(l => byLayerStages.getOrElse(l, Nil)).distinct
    val kernel = stagesOf("Tracker.kernel")
    val mot = stagesOf("MotCsv.read", "MotCsv.write")
    val evalStages = stagesOf("MotEval.filter", "MotEval.metrics")
    val format = stagesOf("Pipelines.format")
    val evalJobs = jobs.values.count(j => j.stageIds.exists(id => evalStages.exists(_ eq stages(id))))
    val formatJobs = jobs.values.count(j => j.stageIds.exists(id => format.exists(_ eq stages(id))))
    val all = stages.values.toSeq.filter(_.submitted.isDefined)
    // job wall time in which none of its tasks ran
    val schedWaitMs = jobs.values.filter(_.endMs > 0).map { j =>
      val ivs = j.stageIds.flatMap(stages.get).flatMap(_.taskIntervals).sortBy(_._1)
      var busy = 0L; var curS = -1L; var curE = -1L
      ivs.foreach { case (s0, e0) =>
        val s = math.max(s0, j.startMs); val e = math.min(e0, j.endMs)
        if (e > s) {
          if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
      }
      if (curE > curS) busy += curE - curS
      math.max(0L, (j.endMs - j.startMs) - busy)
    }.sum
    val triggers = triggerMs.sorted
    val wallS = spansWallS
    val timeMetrics = self.toSeq.map { case (k, v) => (metricName(k), v, "s") }
    timeMetrics ++ Seq(
      ("ArtifactStore.bytes", artifactBytes.toDouble, "bytes"),
      ("MotCsv.rows", mot.map(s => s.recordsRead + s.recordsWritten).sum.toDouble, "count"),
      ("Tracker.kernel_cpu_s", kernel.map(_.cpuNs).sum / 1e9, "s"),
      ("Tracker.dets", kernel.map(_.shuffleReadRecords).sum.toDouble, "count"),
      ("Tracker.rows_emitted", rowsEmitted.toDouble, "count"),
      ("Tracker.tracks", approxTracks.toDouble, "count"),
      ("MotEval.jobs", evalJobs.toDouble, "count"),
      ("MotEval.stages", evalStages.size.toDouble, "count"),
      ("MotEval.tasks", evalStages.map(_.tasks).sum.toDouble, "count"),
      ("MotEval.match_rows", matchRows.toDouble, "count"),
      ("MotEval.shuffle_bytes", evalStages.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
      ("Pipelines.format_jobs", formatJobs.toDouble, "count"),
      ("streaming.batches", triggers.size.toDouble, "count"),
      ("streaming.trigger_s.p50",
        if (triggers.isEmpty) 0.0 else triggers(triggers.size / 2) / 1e3, "s"),
      ("spark.plan_s", planMs / 1e3, "s"),
      ("spark.codegen_s", codegenMs / 1e3, "s"),
      ("spark.codegen_compiles", codegenCount.toDouble, "count"),
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.stages", all.size.toDouble, "count"),
      ("spark.tasks", all.map(_.tasks).sum.toDouble, "count"),
      ("spark.task_s", all.map(_.runMs).sum / 1e3, "s"),
      ("spark.task_cpu_s", all.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.sched_wait_s", schedWaitMs / 1e3, "s"),
      ("spark.gc_s", gcMs / 1e3, "s"),
      ("spark.shuffle_bytes", all.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
      ("spark.spill_bytes", all.map(_.spillBytes).sum.toDouble, "bytes"),
      ("trace.wall_s", wallS, "s"),
      ("unattributed_s", wallS - covered / 1e3, "s"),
      ("trace.overhead_s", overheadS, "s"),
      ("trace.passes", passes.toDouble, "count"))
  }

  /** Wall time of the traced region: the attached intervals plus the
    * detached spans (the session build). */
  private def spansWallS: Double =
    tracedNs / 1e9 + spans.filter(_.kind == "detached").map(s => s.endMs - s.startMs).sum / 1e3

  /** Overlapping [start, end) stage intervals, clipped to the span; each
    * elementary interval's time is split evenly among the stages active
    * in it. Returns ms per layer. */
  private def wallShares(s: Double, e: Double,
                         ivs: Seq[(String, Double, Double)]): Map[String, Double] = {
    val clipped = ivs.map { case (l, a, b) => (l, math.max(a, s), math.min(b, e)) }
      .filter { case (_, a, b) => b > a }
    val cuts = clipped.flatMap { case (_, a, b) => Seq(a, b) }.distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = clipped.filter { case (_, x, y) => x <= a && y >= b }
      active.foreach { case (l, _, _) => out(l) += (b - a) / active.size }
    }
    out.toMap
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, kind: String, startMs: Double, endMs: Double)
  final case class JobRec(span: Option[Int], exec: Option[Long], startMs: Long,
                          stageIds: Seq[Int]) { var endMs: Long = -1L }
  final class StageRec {
    var submitted: Option[Long] = None
    var completed: Option[Long] = None
    var scopes: Seq[String] = Nil
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadRecords = 0L
    var spillBytes = 0L
    var recordsRead = 0L
    var recordsWritten = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Every span and stage layer that carries self time, in report order. */
  val Layers: Seq[String] = Seq(
    "LocalSession.build", "setup.warmup", "ArtifactStore.build",
    "Run.track", "Run.eval", "MotCsv.read", "MotCsv.write", "Tracker.kernel",
    "Pipelines.track", "MotEval.filter", "MotEval.metrics", "Pipelines.format",
    "Rel", "TextQ.dedup", "TextQ.ann", "TextQ.text", "ExtQ.stream")

  /** `Rel` → `Rel.s`, `MotCsv.read` → `MotCsv.read_s`. */
  def metricName(layer: String): String =
    if (layer.contains('.')) s"${layer}_s" else s"$layer.s"

  private def has(r: StageRec, p: String => Boolean) = r.scopes.exists(p)
  private def isWrite(r: StageRec) =
    has(r, n => n == "WriteFiles" || n.startsWith("Execute InsertIntoHadoopFsRelation"))
  private def isCsvScan(r: StageRec) = has(r, n => n.startsWith("Scan csv"))
  private def isKernel(r: StageRec) = has(r, _ == "MapGroups")

  /** Stage layers inside one span. `Run.track`: CSV scans are MotCsv
    * reads, the MapGroups stage is the tracker kernel, the file write is
    * MotCsv's, the rest (the embedding join) is Pipelines.track.
    * `Run.eval`: the SQL execution that writes eval.txt is the filter
    * pass; of the later executions (the metric-table collects) the first
    * computes MotEval.metrics and the rest are Pipelines.format's extra
    * collects. Other spans keep their whole time. */
  def label(kind: String,
            jobs: Seq[(Int, Option[Long], Seq[StageRec])]): Map[String, Seq[StageRec]] = {
    val out = mutable.Map.empty[String, Seq[StageRec]].withDefaultValue(Nil)
    def put(l: String, r: StageRec): Unit = out(l) = out(l) :+ r
    val seen = mutable.Set.empty[StageRec]
    def fresh(rs: Seq[StageRec]) = rs.filter(r => seen.add(r))
    kind match {
      case "track" =>
        jobs.foreach { case (_, _, rs) => fresh(rs).foreach { r =>
          put(if (isWrite(r)) "MotCsv.write" else if (isKernel(r)) "Tracker.kernel"
            else if (isCsvScan(r)) "MotCsv.read" else "Pipelines.track", r) } }
      case "eval" =>
        val byExec = jobs.groupBy(_._2).toSeq.sortBy(_._2.map(_._1).min)
        val writeExecs = byExec.filter(_._2.exists(_._3.exists(isWrite))).map(_._1).toSet
        var later = 0
        byExec.foreach { case (exec, js) =>
          val rest = if (writeExecs.contains(exec)) "MotEval.filter"
            else { later += 1; if (later == 1) "MotEval.metrics" else "Pipelines.format" }
          js.foreach { case (_, _, rs) => fresh(rs).foreach { r =>
            put(if (isWrite(r)) "MotCsv.write" else if (isCsvScan(r)) "MotCsv.read" else rest, r) } }
        }
      case _ =>
    }
    out.toMap
  }
}
