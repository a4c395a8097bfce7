package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as the times Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans of one benchmark run: name, start, end and the span that caused
  * it. A traced run records one span per operation with a child per
  * phase, tags the operation's Spark jobs with a job group named after
  * the operation span, and keeps Spark's own job, stage and streaming
  * progress events. Everything stays in memory until [[write]].
  *
  * An untraced run uses [[Tracer.off]], which records nothing and sets
  * no job group, so its operations run exactly as they would without
  * the benchmark.
  */
class Tracer private (sc: Option[SparkContext]) {
  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
      attrs: Map[String, Any])

  val on: Boolean = sc.isDefined
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStarts = mutable.Map.empty[Int, (String, Long)]
  private val stageGroups = mutable.Map.empty[(Int, Int), String]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobStarts(e.jobId) = (group.getOrElse(""), e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (group, start) =>
        jobs += Map("job" -> e.jobId, "group" -> group, "start" -> start, "end" -> e.time)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      stageGroups((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = group.getOrElse("")
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val group = stageGroups.remove((i.stageId, i.attemptNumber())).getOrElse("")
      if (m != null) stages += Map(
        "stage" -> i.stageId, "group" -> group, "tasks" -> i.numTasks,
        "end" -> i.completionTime.getOrElse(System.currentTimeMillis()),
        "cpu_ns" -> m.executorCpuTime, "run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "spill" -> (m.diskBytesSpilled + m.memoryBytesSpilled))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += StreamStats.summary(e.progress) }
  }

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = sc.foreach { c =>
    c.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Time `body` as a span under `parent`; the body gets the span's id.
    * Records nothing when tracing is off. */
  def span[T](name: String, parent: Long = 0L, attrs: Map[String, Any] = Map.empty)(
      body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val t0 = Clock.ms()
      try body(id)
      finally {
        val t1 = Clock.ms()
        synchronized { spans += Span(id, parent, name, t0, t1, attrs) }
      }
    }

  /** An operation: a span whose Spark jobs carry the job group `op-<id>`. */
  def op[T](name: String, pass: Int)(body: Long => T): T =
    span(name, 0L, Map("pass" -> pass, "kind" -> "op")) { id =>
      sc.foreach(_.setJobGroup(s"op-$id", name, interruptOnCancel = false))
      try body(id) finally sc.foreach(_.clearJobGroup())
    }

  /** Wait until every listener event posted so far has been delivered:
    * run a marker job and wait for its end event (the listener bus keeps
    * event order). */
  private def drain(): Unit = sc.foreach { c =>
    c.setJobGroup("drain", "drain", interruptOnCancel = false)
    c.parallelize(Seq(1), 1).count()
    c.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!synchronized(jobs.exists(_("group") == "drain")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def write(path: String): Unit = if (on) {
    drain()
    val body = synchronized {
      Json.render(Map(
        "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start" -> s.start, "end" -> s.end) ++ s.attrs).toSeq,
        "jobs" -> jobs.filter(_("group") != "drain").toSeq,
        "stages" -> stages.filter(_("group") != "drain").toSeq,
        "progress" -> progress.toSeq))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

object Tracer {
  def off: Tracer = new Tracer(None)
  def traced(sc: SparkContext): Tracer = new Tracer(Some(sc))
}

/** The fields of a streaming progress report the benchmark uses. Read
  * from `StreamingQuery.recentProgress` in every run, and from a
  * [[StreamingQueryListener]] in traced runs. */
object StreamStats {
  import org.apache.spark.sql.streaming.StreamingQueryProgress
  import scala.jdk.CollectionConverters._

  def summary(p: StreamingQueryProgress): Map[String, Any] = Map(
    "query" -> Option(p.name).getOrElse(""),
    "batch" -> p.batchId,
    "input_rows" -> p.numInputRows,
    "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    "state" -> p.stateOperators.toSeq.map(s => Map(
      "op" -> s.operatorName, "rows" -> s.numRowsTotal, "bytes" -> s.memoryUsedBytes,
      "dropped" -> s.numRowsDroppedByWatermark)))
}

/** JSON for the result and trace files, and for reading the inputs:
  * Jackson with its Scala module, which renders Scala maps, sequences
  * and options as they are. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
