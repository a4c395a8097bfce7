package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-call cost of the `graft.functions` kernels, called through their
  * SQL names on a fixed cached input (the workload's documents, plus a
  * 64-d vector per document derived from its id). Each kernel is timed
  * as the median of three aggregations over the whole input after one
  * unmeasured run; the input and the document pairs are built and cached
  * before any timing. Traced runs only.
  */
object Kernels {
  private val Offsets = 8 // each document is paired with the next eight

  def run(spark: SparkSession, input: () => DataFrame): Map[String, Any] = {
    val base = input()
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("tokens"))
      .selectExpr("doc_id", "text", "tokens", "graft_shingles(tokens, 3) AS sh")
      .selectExpr("*", "graft_poly_hash_array(sh) AS hs",
        "transform(sequence(1, 64), i -> CAST(hash(doc_id, i) AS DOUBLE) / 2147483648.0) AS vec")
      .cache()
    val docs = base.count()
    val left = base.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
        substring(col("text"), 1, 120).as("a_text"), col("vec").as("a_vec"))
      .withColumn("offset", explode(sequence(lit(1L), lit(Offsets.toLong))))
      .withColumn("b_id", col("a_id") + col("offset"))
    val right = base.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
      substring(col("text"), 1, 120).as("b_text"), col("vec").as("b_vec"))
    val pairs = left.join(right, "b_id").cache()
    val nPairs = pairs.count()
    base.createOrReplaceTempView("perfbench_kdocs")
    pairs.createOrReplaceTempView("perfbench_kpairs")

    def time(sql: String): Double = {
      spark.sql(sql).collect()
      val runs = (1 to 3).map(_ => Passes.seconds(spark.sql(sql).collect())._2).sorted
      runs(1)
    }
    val out = Map(
      "kernel.shingles_s" -> time(
        "SELECT sum(size(graft_shingles(tokens, 3))) FROM perfbench_kdocs"),
      "kernel.minhash_s" -> time(
        "SELECT sum(graft_minhash(hs, 128, 42)[0]) FROM perfbench_kdocs"),
      "kernel.simhash_s" -> time(
        "SELECT sum(graft_simhash(hs, 42) % 1000) FROM perfbench_kdocs"),
      "kernel.intersect_size_s" -> time(
        "SELECT sum(graft_intersect_size(a_sh, b_sh, 1, 10)) FROM perfbench_kpairs"),
      "kernel.levenshtein_s" -> time(
        "SELECT sum(graft_levenshtein(a_text, b_text, 200)) FROM perfbench_kpairs"),
      "kernel.dot_s" -> time("SELECT sum(graft_dot(a_vec, b_vec)) FROM perfbench_kpairs"),
      "kernel.docs" -> docs, "kernel.pairs" -> nPairs)
    pairs.unpersist(blocking = true)
    base.unpersist(blocking = true)
    out
  }
}
