package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Engine

/** The benchmark's JVM: builds one session through [[Engine.configure]]
  * with as many Spark task threads as the machine has processors, runs
  * one workload, and writes its raw samples to `<work>/result.json` (and,
  * when traced, its spans to `<work>/trace.json`). `perfbench/run.py`
  * starts it, turns the samples into metrics and checks the outputs.
  *
  * Arguments (all required): --workload --data --work --seconds --trace,
  * plus --queries for the batch workloads.
  *
  * Shuffle partitions: one per task thread for the batch workload (the
  * `graft.Bench` setting); one for stream_ingest, whose ticks carry a few
  * hundred rows, so that each stateful operator keeps one state store
  * partition instead of paying a task and a state file per partition.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Engine.configure(
        SparkSession.builder().master(s"local[$cpus]")
          .config("spark.local.dir", s"$work/spark-local")
          .config("spark.sql.warehouse.dir", s"$work/warehouse")
          .config("spark.sql.streaming.numRecentProgressUpdates", "100000"),
        shufflePartitions = if (workload == "stream_ingest") 1 else cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (a("trace") == "1") Tracer.traced(spark.sparkContext) else Tracer.off
    tracer.attach(spark)
    val seconds = a("seconds").toDouble
    val result = workload match {
      case "curation_batch" =>
        BatchWorkload.run(spark, tracer, a("data"), work, a("queries").split(',').toSeq,
          seconds)
      case "stream_ingest" =>
        StreamWorkload.run(spark, tracer, a("data"), work, seconds)
      case other => sys.error(s"unknown workload $other")
    }
    val kernels = result.kernelInput.filter(_ => tracer.on)
      .map(Kernels.run(spark, _)).getOrElse(Map.empty)
    val provenance = Map(
      "spark_version" -> spark.version,
      "spark_task_threads" -> cpus,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    Files.writeString(Paths.get(s"$work/result.json"), Json.render(result.fields ++ Map(
      "provenance" -> provenance, "kernels" -> kernels)))
    tracer.write(s"$work/trace.json")
    spark.stop()
  }
}

/** What a workload hands back: its samples and, for the batch
  * workloads, the documents the traced kernel timings run on. */
final case class Outcome(fields: Map[String, Any],
    kernelInput: Option[() => org.apache.spark.sql.DataFrame])

/** The measurement loop shared by the workloads: unmeasured warm-up
  * passes until pass times settle, then whole measured passes until
  * `seconds` have elapsed. Warm-up ends when the last two warm-up passes
  * differ by at most [[SettleTolerance]] of the later one, or after
  * [[MaxWarmup]] passes. Per measured pass it records wall time, the
  * process's CPU time over all threads, and the heap in use after a full
  * collection (taken outside the pass's timing).
  */
object Passes {
  val SettleTolerance = 0.1
  val MaxWarmup = 3

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Heap in use after a full collection: the least of three samples,
    * each taken right after a full GC, so that what threads still winding
    * down after the pass (stopped streaming queries, the context cleaner)
    * hold for a moment does not show. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** `pass(i)` runs pass i (negative during warm-up) and returns its
    * operations as (name, seconds, succeeded). */
  def measure(tracer: Tracer, seconds: Double)(
      pass: Int => Seq[(String, Double, Boolean)]): Map[String, Any] = {
    val warm = mutable.ArrayBuffer.empty[Double]
    def settled = warm.size >= 2 &&
      math.abs(warm.last - warm(warm.size - 2)) <= SettleTolerance * warm.last
    while (!settled && warm.size < MaxWarmup) {
      val t0 = Clock.ms()
      pass(-(warm.size + 1))
      warm += (Clock.ms() - t0) / 1000.0
    }
    val start = Clock.ms()
    val passes = Seq.newBuilder[Map[String, Any]]
    val ops = Seq.newBuilder[Map[String, Any]]
    var i = 0
    while (i == 0 || Clock.ms() - start < seconds * 1000) {
      val c0 = os.getProcessCpuTime
      val t0 = Clock.ms()
      val done = tracer.span("pass", 0L, Map("pass" -> i))(_ => pass(i))
      val wall = (Clock.ms() - t0) / 1000.0
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      passes += Map("pass" -> i, "wall_s" -> wall, "cpu_s" -> cpu, "heap_mb" -> liveHeapMb())
      done.foreach { case (n, s, ok) => ops += Map("pass" -> i, "name" -> n, "s" -> s, "ok" -> ok) }
      i += 1
    }
    Map("warmup_s" -> warm.toSeq, "first_op_ms" -> start, "passes" -> passes.result(),
      "ops" -> ops.result())
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
