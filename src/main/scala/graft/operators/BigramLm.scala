package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bigram-LM perplexity scoring — the CCNet quality-filter device
  * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data"): train a small reference language
  * model on a trusted slice, score every document's cross-entropy under
  * it, and filter the high-perplexity tail. CCNet's reference model is
  * a KenLM n-gram LM trained on Wikipedia; the exact-arithmetic
  * miniature here is an add-one-smoothed bigram LM trained on the
  * corpus's own trusted slice.
  *
  * Determinism is the design constraint (the [[graft.functions.UnigramRuntime]]
  * discipline): every probability lives as a FIXED-POINT integer log2
  * value — floor(log2(x)·2^16) — computed by the exact square-and-compare
  * bit recurrence of [[graft.functions.UnigramRuntime.log2fp]], evaluated
  * per row by the native [[graft.functions.Log2Fp]] scalar inside the
  * count aggregations' projections. No libm, no floats: the DuckDB
  * oracle replays the identical recurrence as the 16-round unrolled
  * HUGEINT program over its bounded distinct-count frame (the
  * [[log2Frame]] shape), and per-token bits sum exactly, so document
  * scores are bit-identical at any parallelism AND across the two
  * evaluation strategies — the parity law is in PropertySpec.
  *
  * Two shapes share that arithmetic. [[train]]/[[score]] build and apply
  * ONE model (q159/q162/q163, the streaming gate). [[trainJoint]]/
  * [[scoreJoint]] build SEVERAL models from one shared count frame and
  * score them in one pass (DSIR's target and raw LMs, q180): each
  * model's bits are exactly what [[train]]/[[score]] would give it.
  */
object BigramLm {

  /** (w1, w2) successor pairs of a token-array column — successor-zip,
    * entirely map-side (the q88 bigram device as a struct stream).
    */
  def bigramPairs(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))

  /** floor(log2(val)·2^16) for a BIGINT column `valCol` ≥ 1:
    * [[graft.functions.UnigramRuntime.log2fp]]'s exact recurrence as
    * unrolled column arithmetic — msb from the binary-string length
    * (`length(bin(val)) - 1`, exact in both engines), the Q32 mantissa
    * squared through DECIMAL(20,0) (y ≤ 2^33, so y² ≤ 2^66 needs more
    * than a BIGINT mid-round), one shift-and-compare per fraction bit.
    *
    * The input frame must be BOUNDED (distinct smoothed counts —
    * vocab-sized at worst): 16 stacked projections over it are cheap,
    * and Catalyst keeps them as separate codegen'd stages because each
    * round's `__z` is referenced more than once (CollapseProject only
    * inlines cheap expressions — the same reason the DuckDB replay
    * marks its round CTEs MATERIALIZED).
    */
  def log2Frame(vals: DataFrame, valCol: String = "val"): DataFrame = {
    var f = vals
      .withColumn("__msb", (length(expr(s"bin($valCol)")) - 1).cast("long"))
      .withColumn("__y", expr(
        s"IF(__msb >= 32, $valCol div shiftleft(CAST(1 AS BIGINT), CAST(__msb - 32 AS INT)), " +
          s"$valCol * shiftleft(CAST(1 AS BIGINT), CAST(32 - __msb AS INT)))"))
      .withColumn("__frac", lit(0L))
    (1 to 16).foreach { _ =>
      f = f
        .withColumn("__z", expr(
          "CAST((CAST(__y AS DECIMAL(20,0)) * CAST(__y AS DECIMAL(20,0))) div 4294967296 AS BIGINT)"))
        .withColumn("__frac", expr("__frac * 2 + IF(__z >= 8589934592, 1, 0)"))
        .withColumn("__y", expr("IF(__z >= 8589934592, __z div 2, __z)"))
        .drop("__z")
    }
    f.select(col(valCol), (col("__msb") * lit(65536L) + col("__frac")).as("l2fp"))
  }

  /** The trained model: per-bigram bits, per-context default bits, and
    * the 1-row unseen-context cost — all fixed-point Q16 log2 values.
    * `pairBits`/`ctxBits` are training-vocab-sized; `unk` is 1 row with
    * an `__k = 1` join key (the q126 constant-attach device).
    */
  final case class Lm(pairBits: DataFrame, ctxBits: DataFrame, unk: DataFrame)

  /** Train the add-one-smoothed bigram LM from trusted-slice (w1, w2)
    * rows. The count frames are persisted (each feeds multiple
    * consumers); the log2 frame runs over the bounded distinct-count
    * set. Call once; [[score]] per corpus slice or per micro-batch.
    *
    * `weightCol`: train from PRE-COUNTED (w1, w2, c) rows instead of one
    * row per bigram occurrence — sum(c) replaces count(*), numerically
    * identical, and lets a caller that already aggregated per-doc gram
    * counts (q162's shared gram frame) skip a second corpus explosion.
    *
    * `minPair`/`minCtx` PRUNE the shipped model (CCNet's production
    * shape — the reference LM is a small fixed-vocab model, not the
    * corpus's full tail): contexts with c1 < minCtx and pairs with
    * c2 < minPair (or a pruned context) are dropped AFTER counting, so
    * every RETAINED entry's bits are exactly the full model's — pruning
    * changes which rows ship, never their values. A pruned pair falls
    * back to its context default at scoring, a pruned context to the
    * unseen-context cost (the disclosed estimator). Pruning also
    * shrinks the log2 frame (only retained counts need bits) and makes
    * the tables broadcastable — see [[score]]'s `broadcastLm`. Defaults
    * (1, 1) keep the full exact model.
    */
  def train(trainPairs: DataFrame, weightCol: Option[String] = None,
      minPair: Long = 1L, minCtx: Long = 1L): Lm = {
    val l2 = graft.functions.UnigramExprs.log2fp _
    val c2 = weightCol.fold(
        trainPairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")))(w =>
        trainPairs.groupBy(col("w1"), col("w2")).agg(sum(col(w)).as("c2")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // c1 and V from the FULL counts — pruning must not change retained
    // values, only drop rows
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vfr = c2.select(col("w1").as("w")).union(c2.select(col("w2").as("w")))
      .distinct().agg(count(lit(1)).as("V")).withColumn("__k", lit(1))
    // Q16 log2 bits per ROW via the native Log2Fp scalar — bit-identical
    // to the unrolled [[log2Frame]] program (the PropertySpec parity
    // law), without the distinct-vals frame's ~10 extra stages; the lg
    // frame remains the ORACLE's replay device (DuckDB has no exact
    // fixed-point log2 — the bounded frame is how it runs the program)
    val ctxBits = c1.withColumn("__k", lit(1))
      .join(broadcast(vfr), Seq("__k")).drop("__k")
      .where(col("c1") >= minCtx)
      .select(col("w1"), l2(col("c1") + col("V")).as("den_fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the den join doubles as context pruning: a pair whose context was
    // pruned loses its pb row too (hierarchical model consistency)
    val pairBits = c2.where(col("c2") >= minPair)
      .join(ctxBits, Seq("w1"))
      .select(col("w1"), col("w2"),
        (col("den_fp") - l2(col("c2") + lit(1L))).as("pb"))
    val unk = vfr.select(l2(col("V").cast("long")).as("unk_fp"))
      .withColumn("__k", lit(1))
    Lm(pairBits, ctxBits, unk)
  }

  /** Per-key cross-entropy (Q16 bits per bigram, truncating div) of
    * already-exploded (w1, w2) rows under a trained LM: per-bigram bits
    * = pair hit, else the context's default, else the unseen-context
    * cost. Pure — works identically on a batch slice and on a
    * foreachBatch micro-batch (the streaming quality gate).
    *
    * `weightCol`: score PRE-COUNTED (key…, w1, w2, c) rows — per-key
    * bits become sum(bits·c) div sum(c), exactly the positional sum
    * (each distinct bigram contributes its bits c times), so scores are
    * bit-identical to the exploded form while the LM joins run over the
    * per-key DISTINCT bigram frame instead of every position. Overflow-
    * safe: bits ≤ ~2^21 (Q16 log2 of any Long count) and sum(c) per key
    * is the key's token count, so sum(bits·c) stays far inside Long.
    *
    * `broadcastLm`: hint both LM tables broadcast — the production path
    * for a PRUNED model (see [[train]]'s minPair/minCtx): scoring
    * becomes two MAP-SIDE hash joins and the corpus pairs never
    * shuffle. Only safe when the model is vocab-capped; the full exact
    * model's tables grow with the trusted slice and stay AQE-decided.
    */
  def score(pairs: DataFrame, keyCols: Seq[String], lm: Lm,
      weightCol: Option[String] = None, broadcastLm: Boolean = false): DataFrame = {
    val pbT = if (broadcastLm) broadcast(lm.pairBits) else lm.pairBits
    val cbT = if (broadcastLm) broadcast(lm.ctxBits) else lm.ctxBits
    val scored = pairs
      .join(pbT, Seq("w1", "w2"), "left")
      .join(cbT, Seq("w1"), "left")
      .withColumn("__k", lit(1))
      .join(broadcast(lm.unk), Seq("__k"))
    weightCol.fold(
      scored
        .select(keyCols.map(col) :+
          coalesce(col("pb"), col("den_fp"), col("unk_fp")).as("bits"): _*)
        .groupBy(keyCols.map(col): _*)
        .agg(expr("sum(bits) div count(1)").as("xent_fp")))(w =>
      scored
        .select(keyCols.map(col) ++ Seq(
          coalesce(col("pb"), col("den_fp"), col("unk_fp")).as("bits"),
          col(w).as("__c")): _*)
        .groupBy(keyCols.map(col): _*)
        .agg(expr("sum(bits * __c) div sum(__c)").as("xent_fp")))
  }

  /** Several pruned LMs trained from one count frame: `pairBits` is
    * (w1, w2, pb_<model>…), `ctxBits` is (w1, den_<model>…) — Q16 bits,
    * a null meaning the model pruned (or never saw) that pair or
    * context — and `unk` each model's unseen-context cost, computed on
    * the driver. Both tables keep only rows some model retains.
    */
  final case class JointLm(pairBits: DataFrame, ctxBits: DataFrame, unk: Seq[(String, Long)])

  /** Train one add-one bigram LM per name in `models` from a shared
    * (w1, w2, c_<model>…) frame of pre-counted rows — the frame may hold
    * several rows per pair (they are summed), and a null or non-positive
    * c_<model> means the row is not in that model's training slice. Each
    * model equals [[train]] (weightCol "c") on its own slice with the
    * same `minPair`/`minCtx`: c1 and V come from the model's full
    * counts, pruning only drops rows.
    *
    * One per-pair aggregation serves every model (persisted: it feeds
    * V, the contexts and the pairs). Every model's V comes from one
    * one-row aggregate read to the driver, so the unseen-context cost
    * and each context's smoothing term are literals — no constant-key
    * joins. A model with an empty slice is refused: its V is 0 and
    * log2(V) is undefined.
    */
  def trainJoint(counts: DataFrame, models: Seq[String],
      minPair: Long = 1L, minCtx: Long = 1L): JointLm = {
    require(models.nonEmpty, "trainJoint needs at least one model")
    // the names are interpolated into scoreJoint's aggregate SQL
    models.foreach(m => require(m.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"joint LM model name must be a plain SQL identifier, got '$m'"))
    val l2 = graft.functions.UnigramExprs.log2fp _
    def c(m: String) = col(s"c_$m")
    val pairSums = models.map(m => sum(when(c(m) > 0, c(m))).as(s"c_$m"))
    val c2 = counts.groupBy(col("w1"), col("w2"))
      .agg(pairSums.head, pairSums.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // V per model: distinct words of the pairs that model counts
    val seen = models.map(m => max(when(c(m).isNotNull, 1L).otherwise(0L)).as(m))
    val vRow = c2.select(explode(array(col("w1"), col("w2"))).as("w") +: models.map(c): _*)
      .groupBy(col("w")).agg(seen.head, seen.tail: _*)
      .agg(sum(col(models.head)), models.tail.map(m => sum(col(m))): _*)
      .head()
    val v = models.zipWithIndex.map { case (m, i) =>
      val n = if (vRow.isNullAt(i)) 0L else vRow.getLong(i)
      require(n > 0L, s"joint LM model '$m' has an empty training slice " +
        s"(no pair with c_$m > 0): its vocabulary V is 0 and log2(V) is undefined")
      m -> n
    }
    val ctxSums = models.map(m => sum(c(m)).as(s"__c1_$m"))
    val ctxBits = c2.groupBy(col("w1"))
      .agg(ctxSums.head, ctxSums.tail: _*)
      .select(col("w1") +: v.map { case (m, n) =>
        when(col(s"__c1_$m") >= minCtx, l2(col(s"__c1_$m") + lit(n))).as(s"den_$m")
      }: _*)
      .where(models.map(m => col(s"den_$m").isNotNull).reduce(_ || _))
    // the inner context join doubles as context pruning, as in [[train]]
    val pairBits = c2.join(broadcast(ctxBits), Seq("w1"))
      .select(col("w1") +: col("w2") +: models.map(m =>
        when(c(m) >= minPair, col(s"den_$m") - l2(c(m) + lit(1L))).as(s"pb_$m")): _*)
      .where(models.map(m => col(s"pb_$m").isNotNull).reduce(_ || _))
    JointLm(pairBits, ctxBits,
      v.map { case (m, n) => m -> graft.functions.UnigramRuntime.log2fp(n) })
  }

  /** Per-key cross-entropy under every model of a [[JointLm]], in one
    * pass over PRE-COUNTED (key…, w1, w2, `weightCol`) rows: two
    * broadcast hash joins and one groupBy. Per model, bits are
    * coalesce(pair, context default, unseen-context cost) and the score
    * is sum(bits·c) div sum(c) — bit-identical to [[score]] with that
    * model and the same weight column. Output: keyCols ++ one Q16
    * `<model>` column per model. Both tables are broadcast: the joint
    * shape serves pruned, vocab-capped models (see [[train]]).
    */
  def scoreJoint(pairs: DataFrame, keyCols: Seq[String], lm: JointLm,
      weightCol: String): DataFrame = {
    val aggs = lm.unk.map { case (m, unk) =>
      expr(s"sum(coalesce(pb_$m, den_$m, ${unk}L) * __c) div sum(__c)").as(m)
    }
    pairs
      .join(broadcast(lm.pairBits), Seq("w1", "w2"), "left")
      .join(broadcast(lm.ctxBits), Seq("w1"), "left")
      .withColumn("__c", col(weightCol))
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
