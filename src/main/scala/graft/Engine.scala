package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the reference's environment setup (flink playground
  * `DataStreamJob.java:49-53`: execution environment + table environment)
  * collapsed into Spark's single-session model.
  *
  * Scale notes (100 TB target):
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  *    and dynamic join-strategy switching replace hand-tuned parallelism
  *    (the reference's `setParallelism` / `setMaxParallelism`,
  *    `WithStateTtlJob.java:40-41`).
  *  - `spark.sql.shuffle.partitions` is a *starting* value; on a real
  *    cluster it should be ~2-3x total cores, and AQE coalesces down.
  *  - UTC session timezone so timestamp semantics are reproducible across
  *    drivers/executors and match the DuckDB oracle.
  *  - `parquet.nanosAsLong`: kept for testdata generations whose `events`
  *    table carries TIMESTAMP(NANOS) (read as raw int64 nanos and converted
  *    at the ingest edge). Current generations write TIMESTAMP(MICROS, NTZ),
  *    which [[Tables.events]] detects by schema and casts instead — the
  *    loader branches on the ACTUAL column type, so either encoding works.
  */
object Engine {

  /** Apply graft's common configuration to a builder.
    *
    * `rocksDbState = true` switches streaming state to the RocksDB
    * provider — the beyond-heap path for keep-latest/join state whose
    * key cardinality exceeds executor memory (the reference's global
    * state TTL concern, `WithStateTtlJob.java:43-45`, at 100 TB scale).
    * Default off: heap state is faster at test scale.
    */
  def configure(
      b: SparkSession.Builder,
      shufflePartitions: Int = 32,
      rocksDbState: Boolean = false): SparkSession.Builder = {
    // programmatic extension injection: binds at SESSION build (works on
    // a reused SparkContext, unlike the static spark.sql.extensions
    // conf), so every graft session has the SQL functions and the
    // RangeJoinRewrite optimizer rule without caller ceremony
    val base = b.withExtensions(new graft.functions.GraftExtensions().apply(_))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // guide §3.1/§9 (round-14 A/B): let the planner pick shuffled-hash
      // over sort-merge when its size conditions hold, and let AQE
      // rewrite a planned sort-merge to shuffled-hash when every
      // post-shuffle partition is under the threshold — skips both sort
      // passes on the mid-size equi-joins AQE does not broadcast.
      // Measured TWICE because full-run comparisons are ambient-noisy:
      // the naive full-registry diff read +6 s, but an interleaved ABBA
      // min-of-3 over the 15 apparently-regressed queries (drift
      // cancelled) read the flip 0.9 s FASTER on exactly those queries,
      // and the vector family gained ~1-2 s within-run — accepted.
      // Strategy-only switch: join OUTPUT contents are unchanged (the
      // full oracle gate re-ran green under it); at cluster scale the
      // same flip is the guide's §9 baseline, with SMJ still chosen
      // whenever a build side cannot fit.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (rocksDbState)
      base.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else base
  }

  /** A JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in an oracle's SQL would otherwise
    * make the oracle compare's json.load fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** This JVM's input arguments as a JSON array — every run artifact
    * (Bench, Verify, ScaleBench) records them, so flags injected through
    * SPARK_GRAFT_JAVA_OPTS show in the run's own output.
    */
  def jvmArgsJson: String = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .map(jsonString).mkString("[", ",", "]")
  }

  /** Local session, used by tests and ad-hoc runs. */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val s = configure(SparkSession.builder().master(master), shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Conf key selecting RELIABLE lineage truncation in iterative
    * operators — see [[truncate]]. */
  val ReliableCheckpointKey = "spark.graft.reliableCheckpoint"

  /** Lineage truncation for iterative fixed-point operators (connected
    * components, PageRank, BPE, the curation waterfall): every loop
    * round must cut its plan lineage or Catalyst's tree walks go
    * super-linear (the Components rule).
    *
    * Default: `localCheckpoint` — fastest, but the truncated blocks live
    * on EXECUTORS, so losing one aborts the job (acceptable for a
    * rounds-bounded batch job that simply re-runs). With
    * `spark.graft.reliableCheckpoint=true` every truncation becomes a
    * RELIABLE `checkpoint()` to `SparkContext.setCheckpointDir` (call it
    * first — Spark throws otherwise): files on HDFS/object storage,
    * task-level fault recovery on a real cluster, one distributed write
    * per truncation as the cost. Every caller truncates exact-integer
    * frames, so the two modes are bit-identical (pinned by a regression
    * test in LlmOpsSpec).
    */
  def truncate(df: org.apache.spark.sql.DataFrame,
      eager: Boolean = true): org.apache.spark.sql.DataFrame =
    if (df.sparkSession.conf.get(ReliableCheckpointKey, "false").toBoolean)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Run `body` with AQE disabled, restoring the previous setting after.
    *
    * For ITERATIVE fixed-point operators (PageRank, connected
    * components): their loops submit many tiny pre-partitioned stages,
    * and AQE's per-stage runtime re-planning adds driver latency to every
    * one while having nothing to improve — both join sides are already
    * hash-co-partitioned by construction, and per-round frames are
    * O(|V|) ids, not skew candidates (measured 2x on the q89 loop).
    * One-shot queries keep AQE: coalescing/skew-splitting pay there.
    *
    * Scope caveat: SQL confs are session-global, so jobs submitted
    * CONCURRENTLY on the same session during `body` also run without
    * AQE. Iterative operators call this around their own internal
    * materialization only.
    */
  def withoutAqe[T](spark: SparkSession)(body: => T): T =
    withConfs(spark, "spark.sql.adaptive.enabled" -> "false")(body)

  /** Run `body` with the given SQL confs set, restoring previous values
    * after (the scoped-conf device behind [[withoutAqe]]; same
    * session-global scope caveat). Iterative operators use it to size
    * the LOOP's shuffle partitioning to the graph rather than the
    * corpus: a dedup pair graph is orders of magnitude smaller than its
    * input, and fixed corpus-sized `spark.sql.shuffle.partitions` makes
    * every tiny round pay a full task wave (AQE would coalesce these,
    * but AQE is off in loops — see [[withoutAqe]]).
    */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
