package perfbench

import scala.collection.mutable

import org.apache.spark.TaskFailedReason
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, recorded by the benchmark around the public
  * function it calls. `id` doubles as the Spark job group set for the
  * call, so jobs submitted from the calling thread attribute exactly. */
final case class Span(id: String, name: String, parent: Option[String],
                      startMs: Long, endMs: Long, wallNs: Long, compiles: Long)

/** Spans plus counts read from Spark's public listener APIs. Off (a plain
  * call-through) until [[start]], so the untraced loop pays nothing. */
final class Tracer(spark: SparkSession) {
  private var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  private var nextId = 0

  private final case class Job(group: Option[String], submitMs: Long)
  private final case class Stage(job: Int, startMs: Long, endMs: Long, runMs: Long,
                                 cpuNs: Long, shuffleBytes: Long, ioBytes: Long)
  private final case class Plan(startMs: Long, ms: Long)
  private final case class Progress(atMs: Long, planning: Long, addBatch: Long,
                                    walCommit: Long, commitOffsets: Long)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val progress = mutable.ArrayBuffer.empty[Progress]
  private var jobsEnded = 0
  private var taskAttempts = 0L
  private var taskFailures = 0L
  @volatile private var lastEventMs = 0L

  private def seen(): Unit = lastEventMs = System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = Job(group, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      seen()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1; seen() }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      for (job <- stageJob.get(i.stageId); t0 <- i.submissionTime; t1 <- i.completionTime)
        stages += Stage(job, t0, t1,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.executorCpuTime,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten)
      seen()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskAttempts += 1
      e.reason match {
        case _: TaskFailedReason => taskFailures += 1
        case _ => ()
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (parts.nonEmpty)
        plans += Plan(parts.map(_.startTimeMs).min, parts.map(_.durationMs).sum)
      seen()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        progress += Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
          d("queryPlanning"), d("addBatch"), d("walCommit"), d("commitOffsets"))
        seen()
      }
  }

  /** Register the listeners and begin recording spans. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Run `f` as one call into layer `name`. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      nextId += 1
      val id = s"pb-$nextId"
      val parent = stack.headOption
      val sc = spark.sparkContext
      sc.setJobGroup(id, name, interruptOnCancel = false)
      stack = id :: stack
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try f
      finally {
        val ns = System.nanoTime() - ns0
        spans += Span(id, name, parent, ms0, System.currentTimeMillis(), ns,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
        stack = stack.tail
        parent match {
          case Some(p) => sc.setJobGroup(p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener bus has delivered every event of the
    * recorded spans: all started jobs ended and the bus quiet for 500 ms. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    def settled = synchronized(jobsEnded >= jobs.size) &&
      System.currentTimeMillis() - lastEventMs > 500
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  private def innermost(atMs: Long, candidates: Seq[Span]): Option[Span] =
    candidates.filter(s => s.startMs <= atMs && atMs <= s.endMs).sortBy(-_.startMs).headOption

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** Per-layer metrics for the recorded spans, each a mean per call (busy
    * cores: task time over span wall), plus run-wide counts. Every name in
    * `layers` is reported; a layer the workload never called reads 0. */
  def metrics(layers: Seq[String]): (Seq[(String, Double, String)], Map[String, Any]) =
    synchronized {
      val bySpan = spans.map(s => s.id -> s).toMap
      def owner(j: Job): Option[Span] =
        j.group.flatMap(bySpan.get).orElse(innermost(j.submitMs, spans.toSeq))
      val stageOwner = stages.flatMap(st => jobs.get(st.job).flatMap(owner).map(_.id -> st))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
      val jobOwner = jobs.values.flatMap(owner).groupBy(_.id).map { case (k, v) => k -> v.size }
      def attributed[T](items: Seq[T])(at: T => Long): Map[String, Seq[T]] =
        items.flatMap(i => innermost(at(i), spans.toSeq).map(_.id -> i))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val planOwner = attributed(plans.toSeq)(_.startMs)
      val progOwner = attributed(progress.toSeq)(_.atMs)
      val children = spans.groupBy(_.parent).collect { case (Some(p), v) => p -> v.toSeq }

      val out = mutable.ArrayBuffer.empty[(String, Double, String)]
      val selfMs = mutable.LinkedHashMap.empty[String, Double]
      for (name <- layers) {
        val ss = spans.filter(_.name == name).toSeq
        val n = ss.size.max(1).toDouble
        val wallS = ss.map(_.wallNs).sum / 1e9
        val st = ss.flatMap(s => stageOwner.getOrElse(s.id, Seq.empty[Stage]))
        val gapMs = ss.map { s =>
          val iv = stageOwner.getOrElse(s.id, Seq.empty[Stage])
            .map(x => (math.max(x.startMs, s.startMs), math.min(x.endMs, s.endMs)))
            .filter(x => x._2 > x._1)
          math.max(0L, (s.endMs - s.startMs) - unionMs(iv))
        }.sum
        out += ((s"$name.wall_s", wallS / n, "s"))
        // streaming micro-batches report their planning in progress, not
        // through the QueryExecutionListener
        val planMs = ss.flatMap(s => planOwner.getOrElse(s.id, Nil)).map(_.ms).sum +
          ss.flatMap(s => progOwner.getOrElse(s.id, Nil)).map(_.planning).sum
        out += ((s"$name.plan_ms", planMs / n, "ms"))
        out += ((s"$name.codegen_compiles", ss.map(_.compiles).sum / n, "count"))
        out += ((s"$name.driver_gap_s", gapMs / 1000.0 / n, "s"))
        out += ((s"$name.jobs", ss.map(s => jobOwner.getOrElse(s.id, 0)).sum / n, "count"))
        out += ((s"$name.task_cpu_s", st.map(_.cpuNs).sum / 1e9 / n, "s"))
        out += ((s"$name.busy_cores", if (wallS > 0) st.map(_.runMs).sum / 1000.0 / wallS else 0.0, "cores"))
        out += ((s"$name.shuffle_bytes", st.map(_.shuffleBytes).sum / n, "bytes"))
        out += ((s"$name.io_bytes", st.map(_.ioBytes).sum / n, "bytes"))
        if (ss.nonEmpty)
          selfMs(name) = ss.map { s =>
            val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
            (s.endMs - s.startMs) - unionMs(kids)
          }.sum.toDouble / n
      }
      val ingest = spans.filter(_.name == "streaming.IncrementalIngest.ingestOnce").toSeq
      val nIngest = ingest.size.max(1).toDouble
      val pr = ingest.flatMap(s => progOwner.getOrElse(s.id, Nil))
      out += (("streaming.IncrementalIngest.ingestOnce.add_batch_ms", pr.map(_.addBatch).sum / nIngest, "ms"))
      out += (("streaming.IncrementalIngest.ingestOnce.wal_commit_ms", pr.map(_.walCommit).sum / nIngest, "ms"))
      out += (("streaming.IncrementalIngest.ingestOnce.commit_offsets_ms", pr.map(_.commitOffsets).sum / nIngest, "ms"))
      out += (("spark.task_retry_ratio",
        if (taskAttempts > 0) taskFailures.toDouble / taskAttempts else 0.0, "ratio"))
      val rootSelf = spans.filter(_.parent.isEmpty).groupBy(_.name).map { case (k, v) =>
        k -> v.map { s =>
          (s.endMs - s.startMs) - unionMs(children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)))
        }.sum.toDouble / v.size
      }
      (out.toSeq, Map(
        "self_ms_per_call" -> (selfMs.toMap ++ rootSelf),
        "calls" -> spans.groupBy(_.name).map { case (k, v) => k -> v.size },
        "jobs" -> jobs.size, "stages" -> stages.size, "task_attempts" -> taskAttempts,
        "unattributed_jobs" -> jobs.values.count(j => owner(j).isEmpty)))
    }

  /** Every recorded span, for the trace file written at exit. */
  def spanRecords: Seq[Span] = synchronized(spans.toSeq)
}
