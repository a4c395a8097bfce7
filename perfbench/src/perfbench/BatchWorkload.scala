package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** A batch workload: a fixed list of registry queries, each run once per
  * pass and fully materialized to a `noop` sink, with Dataset caches and
  * checkpoint blocks released after every query (the `graft.Bench`
  * discipline). After the measured passes each query runs once more and
  * its result is written as parquet beside its oracle SQL, for the
  * DuckDB comparison in `perfbench/checks.py`.
  */
object BatchWorkload {
  val Tables10: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", "events")

  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(spark: SparkSession, tracer: Tracer, data: String, work: String, names: Seq[String],
      seconds: Double): Outcome = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val qs = names.map(n => byName.getOrElse(n, sys.error(s"no registry query named $n")))

    // the Tables layer: every loader, fully scanned once
    val (_, loadS) = Passes.seconds {
      Tables10.foreach { t =>
        val df = if (t == "events") Tables.events(spark, data) else Tables.table(spark, data, t)
        df.write.format("noop").mode("overwrite").save()
      }
    }

    def op(q: graft.Q, pass: Int): (String, Double, Boolean) = tracer.op(q.name, pass) { id =>
      val t0 = System.nanoTime()
      val ok =
        try {
          val df = tracer.span("build", id)(_ => q.run(spark, data))
          if (tracer.on) tracer.span("plan", id)(_ => df.queryExecution.executedPlan)
          tracer.span("exec", id)(_ => df.write.format("noop").mode("overwrite").save())
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${q.name} failed: $e")
            false
        } finally tracer.span("release", id)(_ => release(spark))
      (q.name, (System.nanoTime() - t0) / 1e9, ok)
    }

    val measured = Passes.measure(tracer, seconds)(pass => qs.map(op(_, pass)))

    // output check: one more run of each query, result beside its oracle
    val checkDir = s"$work/check"
    Files.createDirectories(Paths.get(checkDir))
    qs.foreach { q =>
      try q.run(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/${q.name}")
      catch {
        case e: Throwable => System.err.println(s"[perfbench] check run of ${q.name} failed: $e")
      } finally release(spark)
    }
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      Json.render(qs.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap))

    Outcome(measured ++ Map("load_s" -> loadS),
      Some(() => spark.read.parquet(s"$data/documents.parquet")
        .select(col("doc_id"), col("text"))))
  }
}
