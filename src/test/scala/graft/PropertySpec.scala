package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators._

/** Property-based laws (SURVEY §5.3): dedup ≡ last-per-key, outer-join
  * row preservation, explode_outer row-count law. Inputs come from
  * scalacheck generators sampled at pinned seeds (the scalatest bridge
  * artifact is not in the offline cache, so sampling is driven directly —
  * deterministic by construction).
  */
class PropertySpec extends SparkSpec {
  import testImplicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val rowsGen: Gen[List[(String, Int, String)]] =
    Gen.listOfN(30, for {
      k <- Gen.oneOf("a", "b", "c", "d")
      v <- Gen.choose(0, 100)
      p <- Gen.listOfN(4, Gen.alphaLowerChar).map(_.mkString)
    } yield (k, v, p))

  test("law: keepLatest == max-by-(order,tiebreak) per key") {
    samples(rowsGen, 8).filter(_.nonEmpty).foreach { rows =>
      // tiebreak on payload so the order is total even with duplicate v
      val df = rows.toDF("k", "v", "p")
      val got = Dedup.keepLatest(df, Seq("k"), Seq(col("v"), col("p")))
        .select("k", "v", "p").as[(String, Int, String)].collect().toSet
      val want = rows.groupBy(_._1).map { case (_, vs) => vs.maxBy(r => (r._2, r._3)) }.toSet
      assert(got === want, s"input: $rows")
    }
  }

  test("law: left outer join preserves every left row at least once") {
    val pairs = samples(rowsGen, 4).zip(samples(rowsGen, 4).reverse)
    pairs.filter(_._1.nonEmpty).foreach { case (l, r) =>
      val lf = l.toDF("k", "v", "p")
      val rf = r.toDF("k2", "v2", "p2")
      val joined = lf.join(rf, col("k") === col("k2"), "left_outer")
      assert(joined.select("k", "v", "p").distinct().count() === lf.distinct().count())
    }
  }

  test("law: explode_outer row count == sum(max(1, |items|))") {
    val arrGen = Gen.listOfN(15, Gen.listOf(Gen.choose(0, 9)).map(_.take(5)))
    samples(arrGen, 8).filter(_.nonEmpty).foreach { arrs =>
      val df = arrs.zipWithIndex.map { case (a, i) => (i, a) }.toDF("id", "items")
      val n = Unnest.outer(df, col("items"), "x").count()
      assert(n === arrs.map(a => math.max(1, a.size)).sum.toLong, s"input: $arrs")
    }
  }

  test("law: JaccardJoin == brute force on random low-vocabulary corpora") {
    // tiny vocabulary = high document-frequency for every shingle = the
    // adversarial case for prefix filtering, and the regime where the
    // PPJoin length/positional filters must stay COMPLETE (they prune
    // candidates, never true pairs). Random thresholds cross the
    // integer-boundary cases.
    val corpusGen: Gen[(List[String], Int, Int)] = for {
      vocab <- Gen.choose(3, 6)
      nDocs <- Gen.choose(2, 18)
      docs <- Gen.listOfN(nDocs, Gen.choose(0, 12).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, vocab - 1).map(i => s"w$i")).map(_.mkString(" "))))
      num <- Gen.choose(1, 10)
    } yield (docs, num, 10)
    samples(corpusGen, 12).foreach { case (texts, num, den) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = JaccardJoin.nearDupPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
          ngram = 2, num = num, den = den)
        .select("id_a", "id_b", "inter_size", "union_size")
        .as[(Long, Long, Long, Long)].collect().toSet
      def sh(t: String): Set[String] =
        if (t.split(" ").length < 2) Set.empty
        else t.split(" ").sliding(2).map(_.mkString(" ")).toSet
      val want = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        sa = sh(ta) if sa.nonEmpty
        sb = sh(tb) if sb.nonEmpty
        inter = (sa & sb).size.toLong
        union = (sa | sb).size.toLong
        if inter * den >= union * num
      } yield (ia, ib, inter, union)).toSet
      assert(got === want, s"num=$num/$den docs=$texts")
    }
  }

  test("law: containmentPairs == brute force on random low-vocabulary corpora") {
    // same adversarial regime as the Jaccard law (every shingle
    // frequent), plus the asymmetric cases that define containment:
    // short queries inside long docs must match at high thresholds
    // where Jaccard would reject them
    val corpusGen: Gen[(List[String], List[String], Int)] = for {
      vocab <- Gen.choose(3, 6)
      nQ <- Gen.choose(1, 6)
      nC <- Gen.choose(2, 14)
      qs <- Gen.listOfN(nQ, Gen.choose(0, 6).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, vocab - 1).map(i => s"w$i")).map(_.mkString(" "))))
      cs <- Gen.listOfN(nC, Gen.choose(0, 14).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, vocab - 1).map(i => s"w$i")).map(_.mkString(" "))))
      num <- Gen.choose(1, 10)
    } yield (qs, cs, num)
    samples(corpusGen, 12).foreach { case (qTexts, cTexts, num) =>
      val den = 10
      val qs = qTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val cs = cTexts.zipWithIndex.map { case (t, i) => (100L + i, t) }
      val got = JaccardJoin.containmentPairs(
          qs.toDF("q_id", "q_text"), "q_id", "q_text",
          cs.toDF("c_id", "c_text"), "c_id", "c_text",
          ngram = 2, num = num, den = den)
        .select("id_q", "id_c", "inter_size", "q_size")
        .as[(Long, Long, Long, Long)].collect().toSet
      def sh(t: String): Set[String] =
        if (t.split(" ").length < 2) Set.empty
        else t.split(" ").sliding(2).map(_.mkString(" ")).toSet
      val want = (for {
        (iq, tq) <- qs; (ic, tc) <- cs
        sq = sh(tq) if sq.nonEmpty
        sc = sh(tc) if sc.nonEmpty
        inter = (sq & sc).size.toLong
        if inter * den >= sq.size.toLong * num
      } yield (iq, ic, inter, sq.size.toLong)).toSet
      assert(got === want, s"num=$num/$den q=$qTexts c=$cTexts")
    }
  }

  test("law: connectedComponents == driver union-find on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(60, for {
        a <- Gen.choose(0L, 39L)
        b <- Gen.choose(0L, 39L)
      } yield (a, b))
    samples(edgeGen, 6).foreach { edges =>
      val real = edges.filter { case (a, b) => a != b }
      if (real.nonEmpty) {
        // driver-side union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        real.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(v => v -> find(v)).toMap
        // min-reachable canonicalization: union-find roots are already
        // the min because we always parent max under min
        // BOTH paths must agree with the reference: the default (these
        // graphs are under the local-edge guard, so the driver fast
        // path) and the distributed loop forced via localEdgeMax=0
        // (round-13 optimization: the loop must stay covered now that
        // small graphs short-circuit it)
        val got = Components.connectedComponents(real.toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toMap
        assert(got === want, s"local path: edges=$real")
        val gotLoop = graft.Engine.withConfs(spark,
            Components.LocalEdgeMaxKey -> "0") {
          Components.connectedComponents(real.toDF("a", "b"), "a", "b")
            .as[(Long, Long)].collect().toMap
        }
        assert(gotLoop === want, s"distributed loop: edges=$real")
      }
    }
  }

  test("connectedComponents labels a long path to its min (pointer jumping)") {
    // a 200-node path: plain 1-hop min propagation needs ~200 rounds;
    // pointer jumping must finish within the default maxIter=30.
    // Loop FORCED via localEdgeMax=0 — this test exists to pin pointer
    // jumping, which the driver fast path would otherwise short-circuit.
    val path = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val got = graft.Engine.withConfs(spark, Components.LocalEdgeMaxKey -> "0") {
      Components.connectedComponents(path, "a", "b")
        .as[(Long, Long)].collect().toMap
    }
    assert(got.size === 200)
    assert(got.values.toSet === Set(0L))
    // and the default (local) path labels it identically
    val gotLocal = Components.connectedComponents(path, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(gotLocal === got)
  }

  test("connectedComponents tolerates an empty edge frame (AQE 0-partition repro)") {
    // q162 regression: an upstream-filtered pair frame can be legitimately
    // empty, and AQE coalesces the empty shuffle output to 0 partitions —
    // the parallelism floor must clamp at 1, not pass 0 to
    // spark.sql.shuffle.partitions (which Spark rejects). The groupBy +
    // impossible filter reproduces the post-shuffle-empty shape.
    val empty = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
      .groupBy(col("a"), col("b")).count()
      .where(col("count") > 5).select(col("a"), col("b"))
    val got = Components.connectedComponents(empty, "a", "b")
    assert(got.columns.toSeq === Seq("id", "comp"))
    assert(got.count() === 0)
  }

  test("law: RangeJoin.pointInInterval == brute force, exactly once (incl. negatives)") {
    val caseGen: Gen[(List[(Long, Long)], List[(Long, Long, Long)], Long)] = for {
      pts <- Gen.listOfN(25, Gen.choose(-100L, 100L))
      ivs <- Gen.listOfN(12, for {
        s <- Gen.choose(-100L, 100L); span <- Gen.choose(0L, 25L)
      } yield (s, s + span))
      w <- Gen.choose(1L, 17L)
    } yield (pts.zipWithIndex.map { case (p, i) => (i.toLong, p) },
      ivs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }, w)
    samples(caseGen, 8).foreach { case (pts, ivs, w) =>
      val got = RangeJoin.pointInInterval(
          pts.toDF("pid", "p"), "p", ivs.toDF("iid", "s", "e"), "s", "e", w)
        .select("pid", "iid").as[(Long, Long)].collect().toList
      val want = for {
        (pid, p) <- pts; (iid, s, e) <- ivs if s <= p && p <= e
      } yield (pid, iid)
      assert(got.size === got.toSet.size, s"duplicate pairs: w=$w pts=$pts ivs=$ivs")
      assert(got.toSet === want.toSet, s"w=$w pts=$pts ivs=$ivs")
      // left_outer: every point survives; unmatched exactly once with null
      val left = RangeJoin.pointInInterval(
          pts.toDF("pid", "p"), "p", ivs.toDF("iid", "s", "e"), "s", "e", w,
          joinType = "left_outer")
        .select("pid", "iid").as[(Long, Option[Long])].collect().toList
      val unmatched = pts.collect {
        case (pid, p) if !ivs.exists { case (_, s, e) => s <= p && p <= e } => (pid, None)
      }
      assert(left.toSet === (want.map { case (p, i) => (p, Some(i)) } ++ unmatched).toSet)
      assert(left.size === want.size + unmatched.size)
    }
  }

  test("law: RangeJoin.intervalOverlap == brute force, exactly once") {
    val ivGen = Gen.listOfN(14, for {
      s <- Gen.choose(-60L, 60L); span <- Gen.choose(0L, 20L)
    } yield (s, s + span))
    val caseGen = for {
      l <- ivGen; r <- ivGen; w <- Gen.choose(1L, 13L)
    } yield (l.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) },
      r.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }, w)
    samples(caseGen, 8).foreach { case (l, r, w) =>
      val want = for {
        (lid, ls, le) <- l; (rid, rs, re) <- r if ls <= re && rs <= le
      } yield (lid, rid)
      // slices must not change the result: every pair still meets in
      // exactly one (first-shared bucket, right slice) cell
      Seq(1, 3).foreach { slices =>
        val got = RangeJoin.intervalOverlap(
            l.toDF("lid", "ls", "le"), "ls", "le",
            r.toDF("rid", "rs", "re"), "rs", "re", w,
            slices = slices)
          .select("lid", "rid").as[(Long, Long)].collect().toList
        assert(got.size === got.toSet.size,
          s"duplicate pairs: w=$w slices=$slices l=$l r=$r")
        assert(got.toSet === want.toSet, s"w=$w slices=$slices l=$l r=$r")
      }
    }
  }

  test("law: native BoundedLevenshtein == Spark builtin (value and -1 threshold), incl. unicode") {
    val strGen = for {
      len <- Gen.choose(0, 14)
      s <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c', 'é', 'ß', '中')).map(_.mkString)
    } yield s
    val caseGen = for { a <- strGen; b <- strGen; d <- Gen.choose(0, 8) } yield (a, b, d)
    val cases = samples(caseGen, 300)
    cases.groupBy(_._3).foreach { case (d, cs) =>
      val df = cs.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      val got = df.select(
          graft.functions.HashExprs.boundedLevenshtein(col("a"), col("b"), d),
          levenshtein(col("a"), col("b"), d))
        .as[(Int, Int)].collect()
      got.zip(cs).foreach { case ((ours, builtin), c) =>
        assert(ours === builtin, s"case=$c d=$d")
      }
    }
  }

  test("law: FuzzyJoin.editDistancePairs == brute force Levenshtein") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val caseGen: Gen[(List[(Long, String, String)], Int)] = for {
      docs <- Gen.listOfN(12, for {
        len <- Gen.choose(0, 10)
        t <- Gen.listOfN(len, Gen.oneOf('a', 'b')).map(_.mkString)
        blk <- Gen.oneOf("x", "y")
      } yield (t, blk))
      d <- Gen.choose(0, 4)
    } yield (docs.zipWithIndex.map { case ((t, blk), i) => (i.toLong, t, blk) }, d)
    samples(caseGen, 8).foreach { case (docs, maxDist) =>
      val df = docs.toDF("doc_id", "text", "blk").withColumn("n", length(col("text")))
      val got = FuzzyJoin.editDistancePairs(df, "doc_id", "text", "n", maxDist, Seq("blk"))
        .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toList
      val want = for {
        (ia, ta, ba) <- docs; (ib, tb, bb) <- docs
        if ia < ib && ba == bb && lev(ta, tb) <= maxDist
      } yield (ia, ib, lev(ta, tb).toLong)
      assert(got.size === got.toSet.size, s"duplicate pairs: d=$maxDist docs=$docs")
      assert(got.toSet === want.toSet, s"d=$maxDist docs=$docs")
      // corpus dedup follows the shared drop rule: higher id of any pair
      val dropped = want.map(_._2).toSet
      val survivors = FuzzyJoin.dedupCorpus(df, "doc_id", "text", "n", maxDist, Seq("blk"))
        .select("doc_id").as[Long].collect().toSet
      assert(survivors === docs.map(_._1).toSet.diff(dropped), s"d=$maxDist docs=$docs")
    }
  }

  test("law: exact dedup is idempotent and keeps one row per key") {
    samples(rowsGen, 6).filter(_.nonEmpty).foreach { rows =>
      val df = rows.toDF("k", "v", "p")
      val once = Dedup.exact(df, Seq("k"), col("v"))
      val twice = Dedup.exact(once, Seq("k"), col("v"))
      assert(once.count() === rows.map(_._1).distinct.size.toLong)
      assert(once.collect().toSet === twice.collect().toSet)
    }
  }

  test("law: HeavyHitters.exact == full groupBy HAVING cnt*(k+1) > n, any partitioning") {
    // skewed generator: zipf-ish weights over a 12-value domain so some
    // runs have hitters above 1/(k+1) and others don't; k varied so the
    // MG capacity is sometimes below and sometimes above the domain size
    val skewGen: Gen[List[String]] = Gen.listOfN(400,
      Gen.frequency((1 to 12).map(i => (i * i, Gen.const(s"v$i"))): _*))
    for (k <- Seq(2, 4, 8, 20); rows <- samples(skewGen, 3)) {
      val counts = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = rows.size.toLong
      val want = counts.filter { case (_, c) => c * (k + 1) > n }.toSeq.sortBy(_._1)
      // partitioning independence: the mergeable-summary bound must hold
      // for any split of the stream across partitions
      for (parts <- Seq(1, 7)) {
        val df = rows.toDF("ev").repartition(parts)
        val got = HeavyHitters.exact(df, "ev", k)
          .as[(String, Long)].collect().toSeq
        assert(got === want, s"k=$k parts=$parts counts=$counts")
      }
    }
  }

  test("fdiv: exact floor division past 2^53 (decimal division, not double)") {
    // (x - pmod(x, w)) is an exact multiple of w, but Column./ is IEEE
    // double division — above 2^53 it rounds and misassigns buckets.
    // Math.floorDiv is the exact reference
    val xs = Seq(0L, 1L, 999L, 1000L, -1L, -999L, -1000L, -1001L,
      1L << 60, (1L << 60) + 999, (1L << 60) + 1000, -(1L << 60) - 1,
      1152921504606847099L, Long.MaxValue - 1000L)
    val got = xs.toDF("x").select(RangeJoin.fdiv(col("x"), 1000L).as("b"))
      .as[Long].collect().toSeq
    assert(got === xs.map(Math.floorDiv(_, 1000L)))
  }

  test("law: Boilerplate.scrubFrequentChunks == in-memory reference on random corpora") {
    // low vocabulary makes chunk collisions common (the interesting
    // regime); chunk size 1 degenerates to token-frequency scrub, size
    // >= doc length to whole-doc dedup — both must still hold
    val gen: Gen[(List[String], Int, Int)] = for {
      vocab <- Gen.choose(2, 4)
      nDocs <- Gen.choose(1, 12)
      docs <- Gen.listOfN(nDocs, Gen.choose(0, 10).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, vocab - 1).map(i => s"w$i")).map(_.mkString(" "))))
      ck <- Gen.choose(1, 4)
      mf <- Gen.choose(2, 4)
    } yield (docs, ck, mf)
    samples(gen, 10).foreach { case (texts, ck, mf) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Boilerplate.scrubFrequentChunks(docs.toDF("doc_id", "text"),
          "doc_id", "text", chunkTokens = ck, maxFreq = mf)
        .select("doc_id", "n_chunks", "kept_chunks", "cleaned_text")
        .as[(Long, Long, Long, String)].collect().toSet
      // reference: split(lower, " ") semantics — empty text is one ""
      // token, short last chunk is its own segment
      def chunks(t: String): Seq[String] =
        t.toLowerCase.split(" ", -1).toSeq.grouped(ck).map(_.mkString(" ")).toSeq
      val freq = docs.flatMap { case (_, t) => chunks(t) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val want = docs.flatMap { case (id, t) =>
        val cs = chunks(t)
        val kept = cs.filter(c => freq(c) < mf)
        if (kept.isEmpty) None
        else Some((id, cs.size.toLong, kept.size.toLong, kept.mkString(" ")))
      }.toSet
      assert(got === want, s"ck=$ck mf=$mf docs=$texts")
    }
  }

  test("law: SemDedup.dedupCorpus == in-memory cluster-then-compare reference") {
    // integer-grid vectors make exact duplicates (cos = 1) common; the
    // reference mirrors the engine's arithmetic order exactly (sequential
    // dot fold, lexicographic (cos, cid) argmax, zero-norm exclusion)
    val gen: Gen[(List[List[Double]], Int, Double)] = for {
      nVec <- Gen.choose(1, 14)
      dim <- Gen.choose(2, 3)
      vecs <- Gen.listOfN(nVec, Gen.listOfN(dim, Gen.choose(-4, 4).map(_.toDouble)))
      stride <- Gen.choose(2, 5)
      thr <- Gen.oneOf(0.3, 0.6, 0.9)
    } yield (vecs, stride, thr)
    samples(gen, 10).foreach { case (vs, stride, thr) =>
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val got = SemDedup.dedupCorpus(rows.toDF("vec_id", "v"), "vec_id", "v", thr, stride)
        .select("vec_id").as[Long].collect().toSet
      def dot(a: Seq[Double], b: Seq[Double]): Double =
        a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      def nrm(a: Seq[Double]): Double = math.sqrt(dot(a, a))
      val cents = rows.filter { case (id, v) => id % stride == 0 && nrm(v) > 0 }
      val ranked = rows.filter { case (_, v) => nrm(v) > 0 }
      val drop: Set[Long] =
        if (cents.isEmpty) Set.empty
        else {
          val asg = ranked.map { case (id, v) =>
            id -> cents.map { case (cid, cv) => (dot(v, cv) / (nrm(v) * nrm(cv)), cid) }.max._2
          }.toMap
          (for {
            (a, va) <- ranked; (b, vb) <- ranked
            if a < b && asg(a) == asg(b)
            if dot(va, vb) / (nrm(va) * nrm(vb)) >= thr
          } yield b).toSet
        }
      val want = rows.map(_._1).toSet -- drop
      assert(got === want, s"stride=$stride thr=$thr vecs=$vs")
    }
  }

  private val corpusGen: Gen[List[(Long, String)]] =
    Gen.listOfN(24, for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
    } yield ws.mkString(" ")).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  test("law: CDC chunking is insertion-robust — chunks away from the edit survive") {
    // the content-defined property fixed-width chunking lacks: inserting
    // a run of tokens changes only the chunk(s) whose boundaries the
    // edit touches; every chunk fully before/after is byte-identical.
    // Verified on the oracle-equivalent driver model of q97's rule
    // (boundary AFTER token with polyhash % 16 == 0, last token never).
    def hash(s: String): Long = {
      var acc = 7L
      s.codePoints().toArray.foreach { cp => acc = (acc * 31L + cp) % 1000000007L }
      acc
    }
    def chunks(toks: Seq[String]): Seq[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[Seq[String]]
      var cur = scala.collection.mutable.ListBuffer.empty[String]
      toks.zipWithIndex.foreach { case (t, i) =>
        cur += t
        if (hash(t) % 16 == 0 && i + 1 < toks.size) { out += cur.toSeq; cur = scala.collection.mutable.ListBuffer.empty }
      }
      if (cur.nonEmpty) out += cur.toSeq
      out.toSeq.map(_.mkString(" ")).filter(_.nonEmpty)
    }
    val toks = (1 to 60).map(i => s"w${i % 17}")
    val base = chunks(toks)
    val inserted = toks.take(30) ++ Seq("xx", "yy", "zz") ++ toks.drop(30)
    val edited = chunks(inserted)
    // every base chunk made ONLY of tokens strictly before/after the
    // edit's enclosing chunk must reappear verbatim
    val baseSet = base.toSet
    val editSet = edited.toSet
    val survived = baseSet.intersect(editSet).size
    // boundaries are content-local: at most the single enclosing chunk
    // (and its possibly-resplit pieces) differ
    assert(baseSet.size - survived <= 1, s"base=$base edited=$edited")
  }

  test("law: classifierScore is additive over concatenation") {
    import graft.functions.HashExprs
    samples(corpusGen, 4).foreach { docs =>
      val df = docs.toDF("id", "text")
        .select(col("id"), TextOps.tokens(col("text")).as("t"))
        .select(col("id"),
          HashExprs.classifierScore(col("t"), 64L, 2654435761L, 1000003L, 500001L).as("s"))
      val scores = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // concat of two docs scores the sum (token-wise linear), with the
      // caveat that "" tokens from joining empty texts contribute too —
      // so only check pairs of non-empty docs
      val nonEmpty = docs.filter(_._2.nonEmpty)
      nonEmpty.take(3).zip(nonEmpty.takeRight(3)).foreach { case ((ia, ta), (ib, tb)) =>
        val cat = Seq((0L, s"$ta $tb")).toDF("id", "text")
          .select(TextOps.tokens(col("text")).as("t"))
          .select(HashExprs.classifierScore(col("t"), 64L, 2654435761L, 1000003L, 500001L).as("s"))
          .collect().head.getLong(0)
        assert(cat === scores(ia) + scores(ib), s"'$ta' + '$tb'")
      }
    }
  }

  test("law: dedupIncrement with empty history == within-batch dedupCorpus") {
    // the incremental policy degenerates to the standard keep-lowest-id
    // corpus dedup when there is no history — same pairs, same drops
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "aa bb cc dd ee ff gg hh"),   // dup of 1
      (3L, "zz yy xx ww vv uu tt ss"),
      (4L, "aa bb cc dd ee ff gg xx"),   // near-dup of 1
      (5L, "mm nn oo pp qq rr"),
      (6L, "")).toDF("doc_id", "text")
    val emptyHistory = docs.where(lit(false))
    val inc = MinHash.dedupIncrement(emptyHistory, docs, "doc_id", "text",
        num = 6, den = 10)
      .select("doc_id").as[Long].collect().toSet
    val full = MinHash.dedupCorpus(docs, "doc_id", "text", num = 6, den = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(inc === full)
    // and with FULL history equal to the batch: a doc's same-id twin is
    // excluded (id_b != id_a), so exactly the docs appearing in ANY
    // cross-id near-dup pair drop — derive the expectation from the
    // deterministic pair set itself (LSH recall is seed-deterministic)
    val incSelf = MinHash.dedupIncrement(docs, docs, "doc_id", "text",
        num = 6, den = 10)
      .select("doc_id").as[Long].collect().toSet
    val pairRows = MinHash.nearDupPairs(docs, "doc_id", "text", num = 6, den = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val paired = pairRows.flatMap(p => Seq(p._1, p._2)).toSet
    assert(incSelf === (1L to 6L).toSet -- paired)
  }

  test("law: capped dedupIncrement drops ⊆ uncapped drops; degenerate buckets lose recall, real pairs survive") {
    // the q105 gate exercises the UNCAPPED path (the cap changes results,
    // so it can't sit under the exact oracle); this law pins the capped
    // path's contract on a degenerate fixture instead: a boilerplate
    // bucket above the cap is dropped WHOLESALE (its batch docs keep —
    // the documented recall trade, boilerplate belongs to exact dedup
    // upstream), while pairs in small buckets are unaffected — so the
    // capped drop set is a SUBSET of the uncapped one
    val boiler = "lorem ipsum dolor sit amet boilerplate text of the empty page"
    val history = ((0 until 20).map(i => (i.toLong, boiler)) :+
      (200L, (100 to 140).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val batch = ((300 until 310).map(i => (i.toLong, boiler)) :+
      (400L, (100 to 139).map(i => s"w$i").mkString(" ") + " w999")).toDF("doc_id", "text")
    def survivors(cap: Option[Int]) =
      MinHash.dedupIncrement(history, batch, "doc_id", "text", maxBucketSize = cap)
        .select("doc_id").as[Long].collect().toSet
    val uncapped = survivors(None)
    val capped = survivors(Some(5))
    // uncapped: every batch boilerplate doc near-dups history boilerplate
    // and drops; 400 near-dups history 200 and drops
    assert(uncapped === Set.empty[Long])
    // capped at 5: the 30-doc boilerplate buckets are dropped wholesale,
    // so batch boilerplate survives; the real near-dup (bucket of 2)
    // still drops — capped drops ⊆ uncapped drops, never extra drops
    assert(capped === (300L until 310L).toSet)
    val batchIds = (300L until 310L).toSet + 400L
    assert((batchIds -- capped).subsetOf(batchIds -- uncapped),
      "capped path dropped a doc the uncapped path kept")
  }

  test("law: tighter-threshold exact pairs == conditional filter of the loosest pass") {
    // the amortization contract of q107 and AmortizedBench: ONE PPJoin
    // pass at the loosest threshold carries exact inter/union counts,
    // so every tighter threshold is a FILTER, not a re-join
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val loose = JaccardJoin.nearDupPairs(docs, "doc_id", "text", ngram = 3, num = 5, den = 10)
    val filtered = loose.where(col("inter_size") * 10 >= col("union_size") * 6)
      .select("id_a", "id_b", "inter_size", "union_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    val direct = JaccardJoin.nearDupPairs(docs, "doc_id", "text", ngram = 3, num = 6, den = 10)
      .select("id_a", "id_b", "inter_size", "union_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(filtered === direct)
    assert(direct.nonEmpty)
  }

  test("law: Bpe.learnMerges == in-memory Sennrich reference on random tiny-alphabet corpora") {
    // tiny alphabet makes self-pair runs (aaaa) common — the subtle
    // case where greedy non-overlapping merging must take every other
    // position; the fold and the oracle's gaps-and-islands must agree
    val rnd = new scala.util.Random(13) // pinned seed
    for (_ <- 1 to 3) {
      val docs = (1 to 25).map { _ =>
        (1 to (1 + rnd.nextInt(8))).map { _ =>
          (1 to (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
        }.mkString(" ")
      }
      // driver-side reference: the literal Sennrich recurrence
      val vocab = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      docs.flatMap(_.toLowerCase.split(" ", -1)).filter(_.nonEmpty).foreach(w => vocab(w) += 1L)
      val words = scala.collection.mutable.Map(vocab.keys.map { w =>
        w -> w.zipWithIndex.map { case (c, i) =>
          if (i == w.length - 1) s"$c</w>" else c.toString }.toVector
      }.toSeq: _*)
      val ref = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var step = 1
      var break = false
      while (step <= 8 && !break) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
        words.foreach { case (w, toks) =>
          toks.sliding(2).filter(_.size == 2).foreach(p => pc((p(0), p(1))) += vocab(w))
        }
        if (pc.isEmpty) break = true
        else {
          val ((a, b), cnt) = pc.minBy { case ((x, y), c) => (-c, x, y) }
          ref += ((step, a, b, cnt))
          words.mapValuesInPlace { (_, toks) =>
            toks.foldLeft(Vector.empty[String]) { (acc, t) =>
              if (acc.nonEmpty && acc.last == a && t == b) acc.init :+ (a + b)
              else acc :+ t
            }
          }
          step += 1
        }
      }
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      // default path (these vocabularies sit under the round-13 driver
      // fast-path guard) AND the distributed loop forced via the conf —
      // both must replay the reference recurrence exactly
      val (gotRules, vocabDf) = Bpe.learnMergesWithVocab(spark, df, "text", 8)
      val got = gotRules.orderBy(col("step")).as[(Int, String, String, Long)].collect().toSeq
      assert(got === ref.toSeq)
      val (loopRules, loopVocab) = graft.Engine.withConfs(spark,
          Bpe.LocalVocabMaxKey -> "0") {
        val (r, v) = Bpe.learnMergesWithVocab(spark, df, "text", 8)
        (r.orderBy(col("step")).as[(Int, String, String, Long)].collect().toSeq,
          v.select(col("w"), col("freq"), col("toks"))
            .as[(String, Long, Seq[String])].collect().toSet)
      }
      assert(loopRules === ref.toSeq, "distributed loop diverged from reference")
      assert(loopVocab === vocabDf.select(col("w"), col("freq"), col("toks"))
        .as[(String, Long, Seq[String])].collect().toSet,
        "loop vocabulary diverged from fast-path vocabulary")
      // encode side: per-doc subword counts match the merged reference vocab
      val refCounts: Map[Long, Long] = docs.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.toLowerCase.split(" ", -1).filter(_.nonEmpty)
          .map(w => words(w).size.toLong).sum
      }.toMap
      val gotCounts = Bpe.tokenizeCounts(df, "id", "text", vocabDf)
        .as[(Long, Long)].collect().toMap
      assert(gotCounts === refCounts.filter(_._2 > 0L))
    }
  }

  test("law: Unigram.train == in-memory Viterbi-EM reference on random tiny-alphabet corpora") {
    // replays the WHOLE training run — seed substring counts, fixed-
    // point log2 scores, Viterbi ties (fewer pieces, longest-first),
    // count-proxy pruning, single-char floors — in plain Scala; any
    // divergence in the distributed dataflow (agg, explode, plan-
    // constant piece table) breaks equality
    val rnd = new scala.util.Random(29) // pinned seed
    val maxLen = 3; val seedSize = 12; val rounds = 3
    for (_ <- 1 to 3) {
      val docs = (1 to 20).map { _ =>
        (1 to (1 + rnd.nextInt(6))).map { _ =>
          (1 to (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
        }.mkString(" ")
      }
      // -------- in-memory reference
      val freq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      docs.flatMap(_.toLowerCase.split(" ", -1)).filter(_.nonEmpty).foreach(w => freq(w) += 1L)
      val subCnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      freq.foreach { case (w, f) =>
        for (i <- 0 until w.length; j <- (i + 1) to math.min(w.length, i + maxLen))
          subCnt(w.substring(i, j)) += f
      }
      val singles = subCnt.filter(_._1.length == 1).toArray
      val multi = subCnt.filter(_._1.length > 1).toArray
        .sortBy { case (p, c) => (-c, p) }.take(seedSize)
      var vocab = (singles ++ multi).sortBy(_._1)
      def viterbi(w: String, scores: Map[String, Long]): Seq[String] = {
        val NegInf = Long.MinValue / 4
        val best = Array.fill(w.length + 1)(NegInf); best(0) = 0L
        val np = new Array[Int](w.length + 1)
        val back = new Array[Int](w.length + 1)
        for (i <- 1 to w.length; len <- math.min(maxLen, i) to 1 by -1) {
          val j = i - len
          if (best(j) > NegInf) scores.get(w.substring(j, i)).foreach { sc =>
            val cand = best(j) + sc
            if (cand > best(i) || (cand == best(i) && np(j) + 1 < np(i))) {
              best(i) = cand; np(i) = np(j) + 1; back(i) = j
            }
          }
        }
        var pos = w.length
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        while (pos > 0) { out.prepend(w.substring(back(pos), pos)); pos = back(pos) }
        out.toSeq
      }
      for (_ <- 1 to rounds) {
        val total = vocab.map(_._2).sum
        val scores = vocab.map { case (p, c) =>
          p -> (graft.functions.UnigramRuntime.log2fp(c)
            - graft.functions.UnigramRuntime.log2fp(total))
        }.toMap
        val cnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        freq.foreach { case (w, f) => viterbi(w, scores).foreach(p => cnt(p) += f) }
        val withCnt = vocab.map { case (p, _) => (p, cnt(p)) }
        val (sgl, ml) = withCnt.partition(_._1.length == 1)
        val keepN = ml.length - ml.length * 1 / 5
        val kept = ml.sortBy { case (p, c) => (-c, p) }.take(keepN).filter(_._2 > 0L)
        vocab = (sgl.map { case (p, c) => (p, math.max(1L, c)) } ++ kept).sortBy(_._1)
      }
      val totF = vocab.map(_._2).sum
      val ref = vocab.map { case (p, c) =>
        (p, c, graft.functions.UnigramRuntime.log2fp(c)
          - graft.functions.UnigramRuntime.log2fp(totF))
      }.toSeq
      // -------- distributed run
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = operators.Unigram.train(spark, df, "text",
          maxPieceLen = maxLen, seedSize = seedSize, emRounds = rounds)
        .orderBy(col("piece")).as[(String, Long, Long)].collect().toSeq
      assert(got === ref)
    }
  }

  test("Validate: planted violations are counted exactly") {
    val child = Seq((1L, Some(10L)), (2L, Some(11L)), (3L, Some(99L)), (4L, Some(10L)), (5L, None: Option[Long]))
      .toDF("id", "fk")
    val parent = Seq(10L, 11L).toDF("pk")
    val fk = Validate.foreignKey(child, "fk", parent, "pk", "fk_check").collect().head
    assert((fk.getString(0), fk.getLong(1), fk.getLong(2)) === (("fk_check", 1L, 5L)))
    val uq = Validate.uniqueKey(child, "uq", Seq("fk")).collect().head
    // values: 10, 11, 99, 10, null -> 4 distinct (null is a key value), 5 rows
    assert((uq.getLong(1), uq.getLong(2)) === ((1L, 5L)))
    val rng = Validate.inRange(child, "fk", lit(10L), lit(50L), "rng").collect().head
    assert(rng.getLong(1) === 1L) // only 99 out of range; null passes
    val nn = Validate.notNull(child, "fk", "nn").collect().head
    assert(nn.getLong(1) === 1L)
  }

  test("law: contaminationScore n_hit>0 ids == contaminatedIds (the binary form)") {
    // the audit and the drop decision must never disagree: a doc scores
    // n_hit > 0 iff the binary decontamination would flag it
    val g: Gen[(List[String], List[String])] = for {
      vocab <- Gen.choose(3, 5)
      corpus <- Gen.listOfN(10, Gen.choose(0, 10).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, vocab - 1).map(i => s"w$i")).map(_.mkString(" "))))
      bench <- Gen.listOfN(3, Gen.choose(0, 8).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, vocab - 1).map(i => s"w$i")).map(_.mkString(" "))))
    } yield (corpus, bench)
    samples(g, 6).foreach { case (corpus, bench) =>
      val c = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val b = bench.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("id", "text")
      val scored = Decontaminate.contaminationScore(c, b, "id", "text", ngram = 3)
        .where(col("n_hit") > 0).select("id").as[Long].collect().toSet
      val flagged = Decontaminate.contaminatedIds(c, b, "id", "text", ngram = 3)
        .as[Long].collect().toSet
      assert(scored === flagged, s"corpus=$corpus bench=$bench")
    }
  }

  test("law: CountMin never undercounts — estimate >= exact count for every key") {
    // low width (16 cells/row) against a 40-key vocabulary forces the
    // collisions the min-over-rows exists to cancel; the one-sided
    // guarantee must hold anyway
    val g = Gen.listOfN(200, Gen.oneOf((1 to 40).map(i => s"w$i")))
    samples(g, 6).filter(_.nonEmpty).foreach { words =>
      val df = words.toDF("w")
      val vocab = df.groupBy("w").agg(count(lit(1)).as("true_count"))
      val est = CountMin.estimate(CountMin.sketch(df, "w", 16), vocab, "w", 16)
        .select("w", "true_count", "est_count").as[(String, Long, Long)].collect()
      val exact = words.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(est.map(_._1).toSet === exact.keySet)
      est.foreach { case (w, t, e) =>
        assert(t === exact(w), s"probe true_count drifted for $w")
        assert(e >= t, s"CMS undercounted $w: est=$e < true=$t")
      }
    }
  }

  test("law: CountMin grids are mergeable — sketch(A ++ B) == cell-wise sum of the two grids") {
    // the property that makes the sketch shuffle fixed-size: partition
    // grids combine by addition, so partial aggregation IS the merge
    val g = Gen.listOfN(120, Gen.oneOf((1 to 30).map(i => s"k$i")))
    val as = samples(g, 3)
    as.zip(as.reverse).foreach { case (a, b) =>
      def cells(ws: Seq[String]): Map[(Int, Long), Long] =
        CountMin.sketch(ws.toDF("w"), "w", 32)
          .as[(Int, Long, Long)].collect().map { case (r, bkt, c) => (r, bkt) -> c }.toMap
      val ga = cells(a)
      val gb = cells(b)
      val merged = (ga.keySet ++ gb.keySet).map(k =>
        k -> (ga.getOrElse(k, 0L) + gb.getOrElse(k, 0L))).toMap
      assert(cells(a ++ b) === merged)
    }
  }

  test("law: Pq.searchTopK == in-memory PQ reference (codes, tables, integer sums) on random vectors") {
    val g: Gen[List[Seq[Double]]] = Gen.listOfN(12,
      Gen.listOfN(4, Gen.choose(-8, 8).map(_.toDouble)).map(_.toSeq))
    samples(g, 5).foreach { vs =>
      val vecs = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val m = 2; val dims = 4; val sub = dims / m; val stride = 4
      val books = Pq.codebooks(vecs, "id", "v", m, dims, stride)
      val enc = Pq.encode(vecs, "id", "v", books, m, dims).select("id", "subspace", "code")
      val got = Pq.searchTopK(enc, vecs, "id", "v", books, m, dims, k = vs.size)
        .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
      // independent reference: plain Scala recurrence over the same math
      val seeds = vs.indices.filter(_ % stride == 0)
      def subv(v: Seq[Double], s: Int) = v.slice(s * sub, (s + 1) * sub)
      // the SAME IEEE op sequence as the Spark expression (in-order dots,
      // x·x − 2·x·c + c·c) — algebraically-equal Σ(x−c)² rounds differently
      def dot(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      def d2(a: Seq[Double], b: Seq[Double]) =
        dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
      def code(v: Seq[Double], s: Int): Int =
        seeds.map(i => (d2(subv(v, s), subv(vs(i), s)), i / stride)).min._2
      def tbl(p: Seq[Double], s: Int, c: Int): Long =
        math.round(d2(subv(p, s), subv(vs(c * stride), s)) * 1048576.0)
      for (p <- vs.indices; n <- vs.indices if p != n) {
        val want = (0 until m).map(s => tbl(vs(p), s, code(vs(n), s))).sum
        assert(got((p.toLong, n.toLong)) === want, s"probe=$p neighbor=$n")
      }
    }
  }

  test("law: QuantileSketch merge is exact — sketch(A ++ B) == merge(sketch(A), sketch(B)), any order") {
    val agg = QuantileSketch.aggregator(width = 64, cellShift = 10)
    def sk(xs: List[Long]): Array[Long] = xs.foldLeft(agg.zero)(agg.reduce)
    val g = Gen.listOf(Gen.choose(0L, 70000L)) // past the universe: clamp path too
    samples(Gen.zip(g, g), 20).foreach { case (a, b) =>
      val m = agg.merge(sk(a), sk(b))
      assert(sk(a ++ b).toSeq === m.toSeq)
      assert(agg.merge(sk(b), sk(a)).toSeq === m.toSeq)
    }
  }

  test("law: QuantileSketch estimate's cell contains the exact order statistic (the q99 rank check)") {
    val width = 64; val shift = 10 // 64 cells of 1024 over [0, 65536)
    val agg = QuantileSketch.aggregator(width, shift)
    val g = Gen.nonEmptyListOf(Gen.choose(0L, 65535L)) // in-universe: the bound's contract
    samples(g, 20).foreach { xs =>
      val cells = xs.foldLeft(agg.zero)(agg.reduce)
      val sorted = xs.sorted
      val n = xs.size.toLong
      for (q <- Seq(50L, 90L, 99L)) {
        val r = (n * q + 99L) / 100L // ceil rank, the query's arithmetic
        val cum = cells.scanLeft(0L)(_ + _).tail
        val cell = cum.indexWhere(_ >= r)
        val est = cell.toLong << shift
        val exact = sorted((r - 1L).toInt)
        assert(est <= exact && exact < est + (1L << shift),
          s"p$q: exact order stat $exact outside estimate cell [$est, ${est + (1L << shift)})")
      }
    }
  }

  test("law: Pq.residualFrame subtracts each vector's assigned (argmax-cosine) centroid exactly") {
    val g: Gen[List[Seq[Double]]] = Gen.listOfN(12,
      Gen.listOfN(4, Gen.choose(-8, 8).map(_.toDouble)).map(_.toSeq))
    samples(g, 4).foreach { vs =>
      val vecs = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val stride = 4
      // refine = 0 so centroids ARE corpus seed vectors — the in-memory
      // reference replays the same argmax-cosine (larger-id tiebreak)
      val cents = Ivf.centroids(vecs, "id", "v", stride, refine = 0)
      val asg = Ivf.assign(vecs, "id", "v", cents, id = "rid")
      val got = Pq.residualFrame(vecs, "id", "v", asg, cents, "rid")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getSeq[Double](2))).toMap
      def dot(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      def nrm(a: Seq[Double]) = math.sqrt(dot(a, a))
      val seeds = vs.indices.filter(i => i % stride == 0 && nrm(vs(i)) > 0)
      for (i <- vs.indices if nrm(vs(i)) > 0 && seeds.nonEmpty) {
        val best = seeds.map(sdx =>
          (dot(vs(i), vs(sdx)) / (nrm(vs(i)) * nrm(vs(sdx))), sdx.toLong)).max
        val expect = vs(i).zip(vs(best._2.toInt)).map { case (x, c) => x - c }
        val (gotCid, gotRes) = got(i.toLong)
        assert(gotCid === best._2, s"vec $i assigned to $gotCid, expected ${best._2}")
        assert(gotRes === expect, s"vec $i residual mismatch")
      }
    }
  }

  test("law: Pq.refineCodebooks never increases total encode distortion (Lloyd descent)") {
    val g: Gen[List[Seq[Double]]] = Gen.listOfN(16,
      Gen.listOfN(4, Gen.choose(-8, 8).map(_.toDouble)).map(_.toSeq))
    samples(g, 4).foreach { vs =>
      val vecs = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val m = 2; val dims = 4
      val seed = Pq.codebooks(vecs, "id", "v", m, dims, stride = 5)
      def total(b: org.apache.spark.sql.DataFrame): Long =
        Pq.encode(vecs, "id", "v", b, m, dims)
          .agg(sum(round(col("dist2") * 1048576.0).cast("long"))).as[Long].collect().head
      val t0 = total(seed)
      val t1 = total(Pq.refineCodebooks(vecs, "id", "v", seed, m, dims, rounds = 1))
      // slack of one fixed-point ulp per (vector, subspace): re-centered
      // means are rounded to 2^-20 before re-encoding
      assert(t1 <= t0 + vs.size * m,
        s"refinement increased total distortion: $t0 -> $t1")
    }
  }

  test("law: Pq.adcScoresResidual regimes agree on refined books with dropped codes") {
    // refined books can lose codes; a candidate whose codes are ALL
    // missing must get no pair in either regime (the broadcast join
    // emits none), never a best-possible adist_fp of 0 in the packed one
    val g: Gen[List[Seq[Double]]] = Gen.listOfN(16,
      Gen.listOfN(4, Gen.choose(-8, 8).map(_.toDouble)).map(_.toSeq))
    samples(g, 3).foreach { vs =>
      val vecs = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val m = 2; val dims = 4
      val cents = Ivf.centroids(vecs, "id", "v", stride = 8, refine = 0)
      val asg = Ivf.assign(vecs, "id", "v", cents, id = "rid")
      val res = Pq.residualFrame(vecs, "id", "v", asg, cents, "rid")
      val refined = Pq.refineCodebooks(res, "rid", "__res",
        Pq.codebooks(res, "rid", "__res", m, dims, stride = 4), m, dims, rounds = 1)
      val enc = Pq.encode(res, "rid", "__res", refined, m, dims)
        .select(col("id"), col("subspace"), col("code"))
        .join(asg.withColumnRenamed("rid", "id"), Seq("id"))
        .localCheckpoint(true)
      // drop every code of the first encoded vector from the books
      val victim = enc.agg(min(col("id"))).as[Long].collect().head
      val books = refined.join(
        enc.where(col("id") === victim).select(col("subspace"), col("code")),
        Seq("subspace", "code"), "left_anti")
      def scores(bt: Boolean): Set[(Long, Long, Long)] =
        Pq.adcScoresResidual(enc, vecs, "id", "v", cents, books, m, dims,
            broadcastTables = bt)
          .as[(Long, Long, Long)].collect().toSet
      val serving = scores(bt = true)
      assert(serving.nonEmpty)
      assert(!serving.exists(_._2 == victim), s"vector $victim has no book code left")
      assert(scores(bt = false) === serving)
    }
  }

  test("law: CountMin estimate of a never-seen key is the min of its collided buckets (0 if clean)") {
    val words = (1 to 5).map(i => s"seen$i").flatMap(w => Seq.fill(10)(w))
    val grid = CountMin.sketch(words.toDF("w"), "w", 4096)
    // wide grid: 5 keys in 4096 cells/row — a fresh key's 4 buckets are
    // almost surely untouched, so the estimate must be exactly 0
    val probe = Seq("never-seen-key-xyz").toDF("w")
    val e = CountMin.estimate(grid, probe, "w", 4096)
      .select("est_count").as[Long].collect().head
    assert(e === 0L)
  }

  test("law: PowerIteration.topTwoEigen replays the exact integer recurrence; PSD spectra decay") {
    // gram built from random integer vectors => symmetric PSD input
    val g: Gen[List[Seq[Long]]] = Gen.listOfN(6,
      Gen.listOfN(4, Gen.choose(-50L, 50L)).map(_.toSeq))
    samples(g, 6).foreach { vs =>
      val d = 4; val rounds = 8; val s = BigInt(1L << 20)
      val gm = Array.tabulate(d, d)((i, j) =>
        vs.map(v => BigInt(v(i)) * BigInt(v(j))).sum)
      val upper = (for (i <- 0 until d; j <- i until d)
        yield (i.toLong, j.toLong, gm(i)(j).toLong)).toDF("i", "j", "gram_fp")
      // independent in-test replay of the defined recurrence
      def iterate(g2: (Int, Int) => BigInt): Array[BigInt] = {
        var x = Array.fill(d)(s)
        for (_ <- 1 to rounds) {
          val y = Array.tabulate(d)(i => (0 until d).map(j => g2(i, j) * x(j)).sum)
          val m = y.map(_.abs).max
          x = y.map(v => v * s / m)
        }
        x
      }
      def ray(g2: (Int, Int) => BigInt, x: Array[BigInt]): BigInt =
        (for (i <- 0 until d; j <- 0 until d) yield x(i) * g2(i, j) * x(j)).sum /
          x.map(v => v * v).sum
      val nonDegenerate = // all-zero matvec (e.g. all vs zero) is a require()d error
        gm.exists(_.exists(_ != 0))
      if (nonDegenerate) {
        val x1 = iterate((i, j) => gm(i)(j))
        val l1 = ray((i, j) => gm(i)(j), x1)
        val vv = x1.map(v => v * v).sum
        def defl(i: Int, j: Int): BigInt = gm(i)(j) - (l1 * x1(i) * x1(j)) / vv
        val x2 = iterate(defl)
        val l2 = ray(defl, x2)
        val got = PowerIteration.topTwoEigen(spark, upper, d, rounds)
          .orderBy(col("i")).collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        assert(got.map(_._1).toSeq === x1.map(_.toLong).toSeq, "v1 mismatch")
        assert(got.map(_._2).toSeq === x2.map(_.toLong).toSeq, "v2 mismatch")
        assert(got.head._3 === l1.toLong && got.head._4 === l2.toLong)
        // PSD spectral decay: the deflated Rayleigh quotient cannot
        // exceed the dominant one (truncation only ever shrinks mass)
        assert(l2 <= l1, s"lambda2 $l2 > lambda1 $l1 on PSD input")
      }
    }
  }

  test("law: compaction binning (q145's recurrence) conserves files and bounds bin overrun") {
    val g: Gen[List[Long]] = Gen.nonEmptyListOf(Gen.choose(1L, 900L))
    val target = 1024L
    samples(g, 8).foreach { sizes =>
      val files = sizes.zipWithIndex.map { case (b, i) => ("s0", i.toLong, b) }
        .toDF("source", "doc_id", "bytes")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val bins = files
        .withColumn("before", coalesce(sum(col("bytes")).over(w), lit(0L)))
        .withColumn("bin", expr(s"before div $target"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("files"), sum(col("bytes")).as("bytes"),
          max(col("bytes")).as("max_file"))
        .collect()
      assert(bins.map(_.getLong(1)).sum === sizes.size.toLong, "files not conserved")
      assert(bins.map(_.getLong(2)).sum === sizes.sum, "bytes not conserved")
      // a bin holds the files whose START offset lies in its window, so
      // it can overrun target only by the tail of its LAST file
      bins.foreach { r =>
        assert(r.getLong(2) < target + r.getLong(3),
          s"bin ${r.getLong(0)} bytes ${r.getLong(2)} >= target + max_file")
      }
    }
  }

  test("law: asOfJoinForward == brute-force nearest-later-within-tolerance reference") {
    val tol = 10L
    val g = Gen.zip(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("u1", "u2", "u3"), Gen.choose(0L, 40L))),
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("u1", "u2", "u3"), Gen.choose(0L, 40L))))
    samples(g, 10).foreach { case (ps, bs) =>
      val probe = ps.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("pid", "k", "pts")
      val build = bs.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("bid", "k", "bts")
      val got = EnrichJoin.asOfJoinForward(probe, build, "k", "pts", "bts",
          carry = Seq("bid"), toleranceUs = tol, buildTie = "bid")
        .select("pid", "bid").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      val want = ps.zipWithIndex.map { case ((k, t), i) =>
        val cands = bs.zipWithIndex
          .filter { case ((bk, bt), _) => bk == k && bt >= t && bt - t <= tol }
          .map { case ((_, bt), bi) => (bt, bi.toLong) }
        i.toLong -> (if (cands.isEmpty) -1L else cands.min._2)
      }.toMap
      assert(got === want, s"probe: $ps build: $bs")
    }
  }

  test("law: Skyline.front2d == brute-force strict-dominance skyline") {
    val g: Gen[List[(Long, Long)]] = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 200L), Gen.choose(0L, 50L)))
    samples(g, 10).foreach { pts =>
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("id", "x", "y")
      val got = Skyline.front2d(df, col("x"), col("y"), bucketWidth = 16)
        .select("id").as[Long].collect().toSet
      val want = pts.zipWithIndex.collect {
        case ((x, y), i) if !pts.exists { case (ox, oy) => ox < x && oy > y } => i.toLong
      }.toSet
      assert(got === want, s"points: $pts")
    }
  }

  test("law: dataset-manifest reducers are abelian — agg(A ++ B) == combine(agg(A), agg(B))") {
    val P = 1000000007L
    val g: Gen[List[Long]] = Gen.nonEmptyListOf(Gen.choose(0L, P - 1))
    def m(xs: List[Long]): (Long, Long, Long) = {
      val r = xs.toDF("fp").agg(
        count(lit(1)),
        expr("CAST(sum(CAST(fp AS DECIMAL(38,0))) % 1000000007 AS BIGINT)"),
        expr("bit_xor(fp)")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    samples(Gen.zip(g, g), 6).foreach { case (a, b) =>
      val (na, sa, xa) = m(a); val (nb, sb, xb) = m(b)
      val combined = (na + nb, (sa + sb) % P, xa ^ xb)
      assert(m(a ++ b) === combined,
        s"manifest not shard-mergeable for a=$a b=$b")
    }
  }

  test("law: BigramLm.log2Frame == UnigramRuntime.log2fp (both mantissa branches)") {
    // the column-wise unrolled program must reproduce the scalar bit
    // recurrence exactly — including msb >= 32 (the div branch), which
    // no count at the gate corpus reaches
    val small = (1L to 300L) ++ Seq(65535L, 65536L, 1048575L, 2000003L)
    val big = Seq(4294967295L, 4294967296L, 4294967297L,
      1L << 40, (1L << 50) + 12345L, Long.MaxValue / 3)
    val vals = (small ++ big).toDF("val")
    val got = operators.BigramLm.log2Frame(vals)
      .as[(Long, Long)].collect().toMap
    (small ++ big).foreach { v =>
      assert(got(v) === graft.functions.UnigramRuntime.log2fp(v),
        s"log2Frame($v) = ${got(v)} != scalar ${graft.functions.UnigramRuntime.log2fp(v)}")
    }
  }

  test("law: BatchIndex reader-visible rows are invariant under ANY schedule of batch writes and tiered/full compactions") {
    // the round-11 central feature under randomized schedules: whatever
    // interleaving of batch commits, tiered folds (any mergeFactor),
    // full folds, and operator-driven upTo folds runs, a reader at
    // beforeBatch = nextId must see EXACTLY the union of written
    // batches — no row lost to a merge, none duplicated by deferred
    // cleanup (superseded dirs still on disk must stay invisible).
    import graft.streaming.BatchIndex
    val schedGen: Gen[List[Int]] = Gen.listOfN(14, Gen.choose(0, 5))
    samples(schedGen, 6).zipWithIndex.foreach { case (sched, si) =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_bi_law_$si").toString
      var next = 0L
      val template = Seq.empty[(Long, Long)].toDF("__id", "__payload")
      sched.foreach { op =>
        if (op <= 2) { // write a batch (weighted: writes are the common op)
          Seq((next, next * 7L), (next + 1000L, next)).toDF("__id", "__payload")
            .coalesce(1).write.mode("overwrite").parquet(s"$root/batch=$next")
          next += 1
        } else if (op == 3)
          BatchIndex.compact(spark, root, tiered = true, mergeFactor = 1 + si % 4)
        else if (op == 4)
          BatchIndex.compact(spark, root, tiered = false)
        else if (next > 0)
          BatchIndex.compact(spark, root, upTo = Some(next - 1), tiered = si % 2 == 0)
        val got = BatchIndex.read(spark, root, template, beforeBatch = next)
          .as[(Long, Long)].collect().toSet
        val want = (0L until next)
          .flatMap(i => Seq((i, i * 7L), (i + 1000L, i))).toSet
        assert(got === want, s"schedule $sched at op $op (next=$next)")
      }
    }
  }

  test("law: per-key count-frame join size (q147's est_out_rows) equals the actual join cardinality") {
    val kv: Gen[List[Long]] = Gen.listOf(Gen.choose(0L, 12L))
    samples(Gen.zip(kv, kv), 8).foreach { case (lks, rks) =>
      val l = lks.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "lv")
      val r = rks.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "rv")
      val actual = l.join(r, Seq("k")).count()
      val lc = l.groupBy(col("k")).agg(count(lit(1)).as("cl"))
      val rc = r.groupBy(col("k")).agg(count(lit(1)).as("cr"))
      val est = lc.join(rc, Seq("k"), "left")
        .agg(coalesce(sum(col("cl") * col("cr")), lit(0L)))
        .as[Long].collect().head
      assert(est === actual, s"est $est != actual $actual")
    }
  }

  test("law: SpanDedup.pairReport == brute-force diagonal scan on random low-vocabulary corpora") {
    // the anchor-join + gaps-and-islands machinery vs a direct O(n²)
    // reference: for every doc pair and alignment offset, walk token
    // positions and take maximal runs where the l-grams match — the
    // operator must reproduce every maximal span exactly (count,
    // longest, total). Low vocabulary forces real shared spans; dfCap
    // is disabled here (its split semantics have their own fixture
    // pin) and separately pinned as a monotone law below.
    val l = 3
    val docsGen: Gen[List[(Long, String)]] =
      Gen.listOfN(8, Gen.choose(3, 28).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("x0", "x1", "x2", "x3")).map(_.mkString(" "))))
        .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    def brute(docs: Seq[(Long, Seq[String])]): Set[(Long, Long, Long, Long, Long)] = {
      val spans = for {
        (ia, wa) <- docs; (ib, wb) <- docs if ia < ib
        ga = wa.indices.dropRight(l - 1).map(i => wa.slice(i, i + l))
        gb = wb.indices.dropRight(l - 1).map(i => wb.slice(i, i + l))
        d <- (-(ga.size - 1) to (gb.size - 1))
        // maximal runs of matching grams along this diagonal
        hits = (0 until ga.size).filter(i =>
          i + d >= 0 && i + d < gb.size && ga(i) == gb(i + d))
        run <- hits.foldLeft(List.empty[List[Int]]) {
          case (h :: t, i) if h.head == i - 1 => (i :: h) :: t
          case (acc, i) => List(i) :: acc
        }
      } yield (ia, ib, run.size.toLong + (l - 1))
      spans.groupBy(s => (s._1, s._2)).map { case ((a, b), ss) =>
        (a, b, ss.size.toLong, ss.map(_._3).max, ss.map(_._3).sum)
      }.toSet
    }
    samples(docsGen, 6).foreach { docs =>
      val df = docs.toDF("doc_id", "text")
      val got = SpanDedup.pairReport(df, "doc_id", "text", l, dfCap = 100000)
        .select("doc_a", "doc_b", "n_spans", "max_span_words", "dup_words")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val want = brute(docs.map { case (i, t) => (i, t.split(" ").toSeq) })
      assert(got === want, s"docs: $docs")
      // df-cap monotone laws: a cap never CREATES pairs (anchors are
      // only ever removed) and never grows a pair's LONGEST span (a
      // capped maximal run is a sub-run of some uncapped run). NOTE
      // dup_words is deliberately NOT monotone: split spans OVERLAP
      // around the dropped gram, and dup_words sums span lengths —
      // the LlmOpsSpec fixture pins exactly that (2×15 > 1×24).
      val capped = SpanDedup.pairReport(df, "doc_id", "text", l, dfCap = 3)
        .select("doc_a", "doc_b", "max_span_words")
        .as[(Long, Long, Long)].collect()
      val byPair = got.map(r => (r._1, r._2) -> r._4).toMap
      capped.foreach { case (a, b, mx) =>
        assert(byPair.contains((a, b)), s"cap created pair ($a,$b)")
        assert(mx <= byPair((a, b)), s"cap grew max span on ($a,$b)")
      }
    }
  }
}
