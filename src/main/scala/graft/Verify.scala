package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // (the filter is a local iteration aid; the driver passes two args
    // and gets the full registry)
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.configure(
        SparkSession.builder().master(s"local[$cpus]"),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the literal pinned oracles are only valid for the corpus they were
    // computed from — refuse to dump them against anything else
    PinnedCorpus.assertMatches(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${Engine.jsonString(k)}: ${Engine.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // oracle_sql.json stays a pure query -> SQL map (the compare reads
    // every key as a query); the run's JVM flags go beside it
    Files.writeString(Paths.get(s"$outDir/jvm_args.json"),
      s"""{"jvm_args":${Engine.jvmArgsJson}}""")
    spark.stop()
  }
}
