package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{KeepLatest, StreamOps, StreamingIvf}

/** One generated event: a probe (`kind` "p", with `amount`) or a
  * dimension update (`kind` "d", with `label`); `id` is unique and
  * orders dimension versions. */
final case class Ev(kind: String, key: String, ts: Timestamp, id: Long, amount: Long,
    label: String)
final case class Vec(vec_id: Long, v: Seq[Double])

/** The streaming workload: a closed loop that feeds one generated tick at
  * a time and waits until every query has processed it.
  *
  * Per pass, from empty checkpoints and empty index trees:
  *  - events (probes and dimension updates) feed four queries:
  *    [[KeepLatest]] over the dimension updates,
  *    [[StreamOps.enrichLatest]] of the probes against a static dimension,
  *    a [[StreamOps.tumble]] count per key under a watermark, and
  *    [[StreamOps.leftOuterWithin]] of probes and updates;
  *  - vectors feed the [[StreamingIvf]] ingest gate, against a quantizer
  *    trained once, in set-up, on the bootstrap vectors; the gate drops
  *    zero vectors and indexes the rest.
  * A tick (the operation) adds the tick's rows, waits until every query
  * has processed them and reads the growing vector index with
  * [[StreamingIvf.topK]]; every `CompactEvery` ticks it also compacts the
  * vector index (tiered). No processing-time timeouts are used, so
  * outputs are deterministic.
  */
object StreamWorkload {
  val CompactEvery = 3
  val TopK = 10

  private val mapper = Json.mapper
  private def lines(path: String): Seq[JsonNode] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map(mapper.readTree)
  private def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  private def ev(n: JsonNode): Ev = Ev(n.get("kind").asText, n.get("key").asText,
    ts(n.get("ts_us").asLong), n.get("id").asLong, n.get("amount").asLong, n.get("label").asText)
  private def vec(n: JsonNode): Vec =
    Vec(n.get("vec_id").asLong, n.get("v").elements().asScala.map(_.asDouble).toSeq)

  /** Handles of one pass, kept for the output check of the last pass:
    * the memory tables of the append-mode queries, the keep-latest rows
    * emitted per micro-batch, and the vectors each gate batch indexed. */
  final case class PassState(root: String, tables: Map[String, String],
      queries: Map[String, StreamingQuery], emitted: mutable.ArrayBuffer[Seq[Any]],
      admitted: mutable.Map[Long, Int])

  def run(spark: SparkSession, tracer: Tracer, data: String, work: String,
      seconds: Double): Outcome = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = s"$data/stream"
    val ticks = mapper.readTree(Files.readString(Paths.get(s"$dir/manifest.json")))
      .get("ticks").asInt
    def tickFile(kind: String, t: Int) = f"$dir/$kind/tick-$t%04d.jsonl"
    val ((evTicks, vecTicks, bootVecs, bootDims), loadS) = Passes.seconds {
      ((0 until ticks).map(t => lines(tickFile("events", t)).map(ev)),
        (0 until ticks).map(t => lines(tickFile("vecs", t)).map(vec)),
        lines(s"$dir/vecs_boot.jsonl").map(vec),
        lines(s"$dir/dims_boot.jsonl").map(ev))
    }

    val quantizer = s"$work/stream/quantizer"
    StreamingIvf.staticCentroids(bootVecs.toDF(), "vec_id", "v", quantizer,
      stride = 16, refine = 1)
    val nLists = spark.read.parquet(s"$quantizer/centroids").count().toInt
    val probes = bootVecs.take(8).toDF().cache()
    probes.count()
    val staticDim = bootDims.toDF()
      .select(col("key").as("dkey"), col("id").as("ver"), col("label"))
      .cache()
    staticDim.count()

    var last: Option[PassState] = None

    def pass(i: Int): Seq[(String, Double, Boolean)] = {
      val tag = if (i < 0) s"w${-i}" else s"p$i"
      val root = s"$work/stream/$tag"
      copyTree(Paths.get(quantizer), Paths.get(s"$root/ivf"))
      // one source per query: a MemoryStream drops the rows one query
      // commits, so sources cannot be shared between queries
      val evIn = Seq("kl", "enrich", "tumble", "join").map(n => n -> MemoryStream[Ev]).toMap
      val vecIn = MemoryStream[Vec]
      def probe(q: String) = evIn(q).toDF().where(col("kind") === "p")
        .select(col("key").as("pkey"), col("ts").as("pts"), col("id").as("pid"), col("amount"))
      def dim(q: String) = evIn(q).toDF().where(col("kind") === "d")
        .select(col("key").as("dkey"), col("ts").as("dts"), col("id").as("ver"), col("label"))
      val tables = Seq("enrich", "tumble", "join").map(n => n -> s"perfbench_${n}_$tag").toMap
      def start(df: DataFrame, name: String): StreamingQuery =
        df.writeStream.format("memory").queryName(tables(name)).outputMode("append")
          .option("checkpointLocation", s"$root/ckpt/$name")
          .trigger(Trigger.ProcessingTime(0L)).start()
      // keep-latest's rows are kept with their micro-batch id, which the
      // check needs to follow the changelog batch by batch
      val emitted = mutable.ArrayBuffer.empty[Seq[Any]]
      val keep: (DataFrame, Long) => Unit = (df, batchId) => {
        val rows = df.collect().toSeq.map(r => Seq(batchId, r.getString(0), r.getLong(1),
          r.getString(2)))
        emitted.synchronized { emitted ++= rows }
      }
      val admitted = mutable.Map.empty[Long, Int]
      val queries = Map(
        "kl" -> KeepLatest[String, Ev](evIn("kl").toDS().filter(_.kind == "d"), _.key,
            (a, b) => a.id > b.id).toDF().select(col("key"), col("id"), col("label"))
          .writeStream.queryName(s"perfbench_kl_$tag").outputMode("update").foreachBatch(keep)
          .option("checkpointLocation", s"$root/ckpt/kl")
          .trigger(Trigger.ProcessingTime(0L)).start(),
        "enrich" -> start(StreamOps.enrichLatest(probe("enrich"), staticDim, "pkey", "dkey",
          Seq(col("ver"))).select(col("pid"), col("ver"), col("label")), "enrich"),
        "tumble" -> start(StreamOps.tumble(probe("tumble"), "pts", "1 minute", "30 seconds",
          Seq("pkey"), Seq(count(lit(1)).as("n")))
          .select(col("pkey"), unix_micros(col("window_start")).as("ws_us"), col("n")),
          "tumble"),
        "join" -> start(StreamOps.leftOuterWithin(probe("join"), dim("join"), "pkey", "dkey",
          "pts", "dts", "30 seconds", "30 seconds").select(col("pid"), col("ver")),
          "join"),
        "ivf" -> StreamingIvf.run(vecIn.toDF(), "vec_id", "v", s"$root/ivf") { (n, batchId) =>
            admitted.synchronized { admitted(batchId) = n.toInt }
          }
          .queryName(s"perfbench_ivf_$tag")
          .option("checkpointLocation", s"$root/ckpt/ivf")
          .trigger(Trigger.ProcessingTime(0L)).start())
      try {
        (0 until ticks).map { t =>
          tracer.op("tick", i) { id =>
            val t0 = System.nanoTime()
            val ok =
              try {
                tracer.span("ingest", id) { _ =>
                  val offsets = evIn.map { case (n, in) => n -> in.addData(evTicks(t)).json } ++
                    Map("ivf" -> vecIn.addData(vecTicks(t)).json)
                  queries.foreach { case (name, q) => awaitOffset(q, offsets(name)) }
                }
                tracer.span("topk", id) { _ =>
                  StreamingIvf.topK(spark, probes, "vec_id", "v", s"$root/ivf", TopK).collect()
                }
                if ((t + 1) % CompactEvery == 0)
                  tracer.span("compact", id)(_ => StreamingIvf.compact(spark, s"$root/ivf",
                    tiered = true))
                true
              } catch {
                case e: Throwable =>
                  System.err.println(s"[perfbench] tick $t of pass $i failed: $e")
                  false
              }
            ("tick", (System.nanoTime() - t0) / 1e9, ok)
          }
        }
      } finally {
        queries.values.foreach(_.stop())
        last = Some(PassState(root, tables, queries, emitted, admitted))
      }
    }

    val measured = Passes.measure(tracer, seconds)(pass)
    val state = last.get
    val check = writeCheck(spark, state, probes, nLists)
    Outcome(measured ++ Map("load_s" -> loadS, "check" -> check), None)
  }

  /** Outputs of the last measured pass for `perfbench/checks.py`: the
    * append-mode queries' sink tables as parquet, the keep-latest rows as
    * (batch, key, id, label), the vectors each gate
    * batch indexed, Spark's progress reports (with per-operator watermark
    * drops), and a full-probe top-k over the vector index. */
  private def writeCheck(spark: SparkSession, s: PassState, probes: DataFrame,
      nLists: Int): Map[String, Any] = {
    val out = s"${s.root}/check"
    s.tables.foreach { case (name, table) =>
      spark.table(table).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    }
    StreamingIvf.topK(spark, probes, "vec_id", "v", s"${s.root}/ivf", TopK, nprobe = nLists)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/topk_full")
    val progress = s.queries.map { case (name, q) =>
      name -> q.recentProgress.toSeq.map(StreamStats.summary)
    }
    Map("dir" -> out, "root" -> s.root, "topk" -> TopK, "kl" -> s.emitted.toSeq,
      "admitted" -> s.admitted.toSeq.sortBy(_._1).map { case (b, n) => Seq(b, n) },
      "progress" -> progress)
  }

  /** Block until `q` has processed its source up to `offset`.
    * `processAllAvailable` alone can return before a batch that was
    * added while a trigger was already deciding it had no new data. */
  private def awaitOffset(q: StreamingQuery, offset: String): Unit = {
    q.processAllAvailable()
    while (!Option(q.lastProgress).exists(_.sources.exists(_.endOffset == offset))) {
      Thread.sleep(2)
      q.processAllAvailable()
    }
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
}
