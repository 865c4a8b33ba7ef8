package graft

import graft.operators.{LlmPack, NearDedup, SimilaritySearch}
import graft.functions.TextFns
import org.apache.spark.sql.functions._

/** B9 LLM-pipeline operators: dedup recall, fingerprint properties.
  * Oracle hash-parity is covered by the driver (check_oracle.py locally);
  * these tests cover what the oracle can't — recall vs brute force and
  * hash-function properties. */
class LlmPackSpec extends SparkSpec {

  test("exact dedup: fixture docs are unique, one representative each") {
    val out = LlmPack.dedupExact(spark, sf0001).collect()
    assert(out.length == 500)
    assert(out.forall(_.getLong(1) == 1L)) // n_copies
  }

  test("near-dup: prefix filter and minhash-LSH find the same pairs as brute force") {
    val docs = Tables.documents(spark, sf0001)
    // Brute-force ground truth: all within-lang pairs, exact 3-gram Jaccard.
    // Fine at n=500 in a test; NEVER in the operators themselves.
    val sets = docs.select(col("doc_id").as("id"), col("lang"),
      TextFns.shingles3(col("text")).as("sh")).where(size(col("sh")) > 0)
    val a = sets.select(col("id").as("a_id"), col("lang"), col("sh").as("a_sh"))
    val b = sets.select(col("id").as("b_id"), col("lang").as("b_lang"), col("sh").as("b_sh"))
    val truth = a.join(b, col("lang") === col("b_lang") && col("a_id") < col("b_id"))
      .withColumn("j", TextFns.jaccard(col("a_sh"), col("b_sh")))
      .where(col("j") >= 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty) // fixture plants near-dup pairs

    val viaPrefix = LlmPack.dedupNear(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaMinhash = LlmPack.dedupMinhash(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPrefix == truth) // 100% recall by construction
    assert(viaMinhash == truth) // p(miss) ~ 5e-8 at tau, ~1e-23 for planted pairs
  }

  test("native shingles3 kernel matches the HOF formulation row-for-row") {
    import spark.implicits._
    // fixture text plus adversarial whitespace/token edges
    val edges = Seq(
      "", " ", "   ", "a", "a b", "a b c", " a b c ", "a  b\tc",
      "\ta b c", "a b c\t", "a b c d e", "a b a b a b", "ä ö ü ß é",
      "x\ny\r\nz w", "a " + "b " * 50 + "c").zipWithIndex
      .map { case (t, i) => (10000L + i, t) }
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .union(edges.toDF("doc_id", "text"))
    def rows(c: org.apache.spark.sql.Column) = docs
      .select(col("doc_id"), c.as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = rows(TextFns.shingles3(col("text")))
    val hof = rows(InterpretedTwins.shingles3Hof(col("text")))
    assert(native.keySet == hof.keySet)
    for ((k, v) <- native)
      assert(v == hof(k), s"doc $k: native=$v hof=${hof(k)}")
  }

  test("native shinglesN kernel (n=5) matches the HOF formulation row-for-row") {
    import spark.implicits._
    val edges = Seq(
      "", " ", "a b c d", "a b c d e", " a b c d e f ", "a  b\tc d e",
      "a b a b a b a b", "ä ö ü ß é ž ð", "x\ny\r\nz w v u",
      "a " + "b " * 50 + "c").zipWithIndex
      .map { case (t, i) => (20000L + i, t) }
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .union(edges.toDF("doc_id", "text"))
    def rows(c: org.apache.spark.sql.Column) = docs
      .select(col("doc_id"), c.as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = rows(TextFns.shinglesN(col("text"), 5))
    val hof = rows(InterpretedTwins.shinglesNHof(col("text"), 5))
    assert(native.keySet == hof.keySet)
    for ((k, v) <- native)
      assert(v == hof(k), s"doc $k: native=$v hof=${hof(k)}")
  }

  test("spanDedup: counts match a driver-side brute-force recomputation") {
    val texts = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams5(t: String): Set[String] = {
      val tk = t.trim.split("\\s+", -1)
      if (tk.length < 5) Set.empty
      else tk.sliding(5).map(_.mkString(" ")).toSet
    }
    val perDoc = texts.map { case (id, t) => id -> grams5(t) }
    val counts = perDoc.values.flatten
      .groupBy(identity).map { case (g, occ) => g -> occ.size }
    val out = LlmPack.spanDedup(spark, sf0001).collect()
    assert(out.length == texts.size)
    out.foreach { r =>
      val gs = perDoc(r.getLong(0))
      val nShared = gs.count(g => counts(g) > 1)
      assert(r.getLong(1) == gs.size.toLong, s"doc ${r.getLong(0)} n_spans")
      assert(r.getLong(2) == nShared.toLong, s"doc ${r.getLong(0)} n_shared")
      val expFrac = if (gs.nonEmpty)
        BigDecimal(nShared.toDouble / gs.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      assert(math.abs(r.getDouble(3) - expFrac) < 1e-9, s"doc ${r.getLong(0)} dup_frac")
    }
    // the regenerated fixture plants genuine near-dup groups → shared spans exist
    assert(out.exists(_.getLong(2) > 0))
  }

  test("dedupIncremental: exactly the brute-force pairs with a new-side member") {
    val docs = Tables.documents(spark, sf0001)
    def isNew(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      ((d(0) >> 4) & 0xf) < 3 // first hex nibble < '3'
    }
    val sets = docs.select(col("doc_id").as("id"), col("lang"),
      TextFns.shingles3(col("text")).as("sh")).where(size(col("sh")) > 0)
    val a = sets.select(col("id").as("a_id"), col("lang"), col("sh").as("a_sh"))
    val b = sets.select(col("id").as("b_id"), col("lang").as("b_lang"), col("sh").as("b_sh"))
    val pairs = a.join(b, col("lang") === col("b_lang") && col("a_id") < col("b_id"))
      .withColumn("j", TextFns.jaccard(col("a_sh"), col("b_sh")))
      .where(col("j") >= 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = pairs.flatMap { case (x, y) =>
      if (isNew(y)) Some((y, x))                 // later/batch side offends vs x
      else if (isNew(x)) Some((x, y))            // x is the new one, y corpus
      else None
    }.toSet
    val got = LlmPack.dedupIncremental(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"got=${got.toSeq.sorted} truth=${truth.toSeq.sorted}")
    assert(truth.nonEmpty, "fixture should plant at least one pair with a new-side member")
  }

  test("embedNorms: fixture vectors are uniformly 64-dim, non-zero, counts conserve") {
    val out = LlmPack.embedNorms(spark, sf0001).collect()
    val total = Tables.embeddings(spark, sf0001).count()
    assert(out.map(_.getLong(1)).sum == total)
    out.foreach { r =>
      assert(r.getInt(2) == 64 && r.getInt(3) == 64, s"label ${r.get(0)} ragged dim")
      assert(r.getDouble(5) > 0.0, s"label ${r.get(0)} zero min norm")
      assert(r.getDouble(5) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(6) + 1e-6)
      assert(r.getLong(7) == 0L)
    }
  }

  test("embedKmeansIter: deterministic across runs, improves mean similarity over one step") {
    val a = LlmPack.embedKmeansIter(spark, sf0001).collect()
    val b = LlmPack.embedKmeansIter(spark, sf0001).collect()
    assert(a.length == 500)
    // byte-for-byte rerun determinism (localCheckpoint must not leak
    // nondeterminism into the assignment loop)
    assert(a.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq ==
      b.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq)
    assert(a.forall(r => r.getInt(1) >= 0 && r.getInt(1) <= 9))
    // three rounds should fit at least as well as the single Lloyd step
    val oneStep = LlmPack.embedKmeans(spark, sf0001).collect()
      .map(_.getDouble(3)).sum / 500
    val threeStep = a.map(_.getDouble(2)).sum / 500
    assert(threeStep >= oneStep - 1e-9, s"3-round $threeStep vs 1-round $oneStep")
  }

  test("graphPagerank: mass conserves (sum npr = N) and matches driver-side recomputation") {
    val emb = Tables.embeddings(spark, sf0001)
    val mutual = SimilaritySearch.mutualKnn(
      SimilaritySearch.knnJoin(emb, emb, idCol = "vec_id",
        vecCol = "embedding", k = 5)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = emb.count()
    val adj = (mutual ++ mutual.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSeq }
    val deg = adj.map { case (v, ns) => v -> ns.size }
    val nd = n - deg.size
    val out = LlmPack.graphPagerank(spark, sf0001).collect()
    assert(out.length == n)
    out.foreach { r =>
      val v = r.getLong(0)
      assert(r.getLong(1) == deg.getOrElse(v, 0).toLong, s"node $v degree")
      val mass = adj.getOrElse(v, Seq.empty).map(u => 1.0 / deg(u)).sum
      val exp = 0.15 + 0.85 * (mass + nd.toDouble / n)
      assert(math.abs(r.getDouble(2) - exp) < 2e-6, s"node $v npr")
    }
    assert(math.abs(out.map(_.getDouble(2)).sum - n.toDouble) < 1e-2,
      "one damped power step from uniform must conserve total mass")
    // the graph should actually discriminate: some hubs, some dangling
    assert(out.exists(_.getLong(1) > 0) && out.exists(_.getLong(1) == 0))
  }

  test("graphPagerankIter: round 1 == the single power step; mass conserves " +
      "every round; successive deltas contract monotonically") {
    val n = Tables.embeddings(spark, sf0001).count().toDouble
    val rounds = (1 to 3).map(i =>
      LlmPack.graphPagerankRounds(spark, sf0001, i).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap)
    // round 1 from the uniform start IS graphPagerank's single power step
    val oneStep = LlmPack.graphPagerank(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rounds(0) == oneStep,
      "iter round 1 must reproduce the single-step key exactly")
    // damped PageRank conserves total rank mass (= N, the scaled start) at
    // every round; tolerance = per-node 6dp rounding × N
    rounds.zipWithIndex.foreach { case (pr, i) =>
      assert(math.abs(pr.values.sum - n) < n * 1e-5,
        s"round ${i + 1} total mass ${pr.values.sum} != $n")
    }
    // the damping factor contracts the iteration: L1 distance between
    // successive iterates shrinks every round (allow rounding slack)
    val start = rounds(0).keys.map(_ -> 1.0).toMap
    val deltas = (start +: rounds).sliding(2).map { case Seq(a, b) =>
      a.map { case (k, v) => math.abs(b(k) - v) }.sum
    }.toSeq
    deltas.sliding(2).foreach { case Seq(d0, d1) =>
      assert(d1 <= d0 * 0.9 + 1e-3, s"deltas not contracting: $deltas")
    }
    // the final key is the 3-round iterate
    val out = LlmPack.graphPagerankIter(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out == rounds(2))
  }

  test("tokenZipf: slope/intercept match a driver-side least-squares fit") {
    val Array(row) = LlmPack.tokenZipf(spark, sf0001).collect()
    val toks = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ranked = toks.groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (w, n) => (-n, w) }.take(100).zipWithIndex
      .map { case ((_, n), i) => (r6(math.log(i + 1.0)), r6(math.log(n.toDouble))) }
    assert(row.getLong(0) == ranked.length.toLong)
    val cnt = ranked.length.toDouble
    val (sx, sy) = (ranked.map(_._1).sum, ranked.map(_._2).sum)
    val sxy = ranked.map(p => p._1 * p._2).sum
    val sxx = ranked.map(p => p._1 * p._1).sum
    val slope = (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx)
    assert(math.abs(row.getDouble(1) - slope) < 1e-3, s"slope ${row.getDouble(1)} vs $slope")
    assert(math.abs(row.getDouble(2) - (sy - slope * sx) / cnt) < 1e-3, "intercept")
    // the synthetic fixture is deliberately non-Zipfian (near-uniform
    // vocabulary) — the diagnostic should REPORT that, not hide it
    assert(row.getDouble(1) > -0.8 && row.getDouble(1) < 0.0,
      s"expected a shallow negative slope on synthetic text, got ${row.getDouble(1)}")
  }

  test("graphTriangles: matches driver-side brute force; coefficient bounded") {
    val emb = Tables.embeddings(spark, sf0001)
    val edges = SimilaritySearch.mutualKnn(
      SimilaritySearch.knnJoin(emb, emb, idCol = "vec_id",
        vecCol = "embedding", k = 5)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nbrs = (edges ++ edges.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val triExp = nbrs.map { case (v, ns) =>
      v -> ns.toSeq.combinations(2).count { case Seq(x, y) =>
        edges.contains((math.min(x, y), math.max(x, y))) }
    }
    val out = LlmPack.graphTriangles(spark, sf0001).collect()
    assert(out.length == emb.count())
    out.foreach { r =>
      val v = r.getLong(0)
      val d = nbrs.get(v).map(_.size).getOrElse(0)
      assert(r.getLong(1) == d.toLong, s"node $v degree")
      assert(r.getLong(2) == triExp.getOrElse(v, 0).toLong, s"node $v triangles")
      val c = r.getDouble(3)
      assert(c >= 0.0 && c <= 1.0 + 1e-9, s"node $v coefficient $c")
      if (d >= 2)
        assert(math.abs(c - 2.0 * triExp.getOrElse(v, 0) / (d.toLong * (d - 1))) < 1e-6)
      else assert(c == 0.0)
    }
    // the semantic graph should contain real triangles
    assert(out.map(_.getLong(2)).sum > 0, "no triangles found in the fixture graph")
  }

  test("qualityDeciles: monotone in score, near-balanced, boundaries are the exact percentiles") {
    val out = LlmPack.qualityDeciles(spark, sf0001).collect()
    assert(out.length == 500)
    // monotone: ordering by score never decreases the decile
    val byScore = out.sortBy(_.getDouble(1))
    assert(byScore.map(_.getLong(2)).sliding(2)
      .forall(p => p.length < 2 || p.head <= p.last))
    // all ten buckets present, each near 10% (ties can skew slightly)
    val sizes = out.groupBy(_.getLong(2)).map { case (d, rs) => d -> rs.length }
    assert(sizes.keySet == (1L to 10L).toSet, sizes.toString)
    sizes.values.foreach(n => assert(n >= 25 && n <= 75, sizes.toString))
    // boundary parity: decile counts against driver-side exact quantiles
    val scores = out.map(_.getDouble(1)).sorted
    def q(p: Double): Double = {
      val rank = (scores.length - 1) * p
      val lo = rank.toInt
      val frac = rank - lo
      // Spark Percentile's exact op order: lower + (higher − lower) · frac
      if (lo + 1 < scores.length) scores(lo) + (scores(lo + 1) - scores(lo)) * frac
      else scores(lo)
    }
    val bounds = (1 to 9).map(i => q(i / 10.0))
    out.foreach { r =>
      val exp = 1 + bounds.count(b => r.getDouble(1) > b)
      assert(r.getLong(2) == exp.toLong, s"doc ${r.getLong(0)}")
    }
  }

  test("qualityGopher: booleans match driver-side recomputation; rules discriminate") {
    val rows = LlmPack.qualityGopher(spark, sf0001).collect()
    val texts = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val tk = texts(r.getLong(0)).trim.split("\\s+").toSeq
      val meanWl = tk.map(_.length).sum.toDouble / tk.size
      val nStop = tk.count(w => w == "a" || w == "the")
      assert(r.getAs[Boolean]("pass_words") == (tk.size >= 25 && tk.size <= 90))
      assert(r.getAs[Boolean]("pass_word_len") == (meanWl >= 4.0 && meanWl <= 10.0))
      assert(r.getAs[Boolean]("pass_stop") == (nStop >= 1))
      assert(r.getAs[Boolean]("pass") == (r.getAs[Boolean]("pass_words") &&
        r.getAs[Boolean]("pass_word_len") && r.getAs[Boolean]("pass_alpha") &&
        r.getAs[Boolean]("pass_stop")))
    }
    val passed = rows.count(_.getAs[Boolean]("pass"))
    assert(passed > 0 && passed < rows.length,
      s"gate should discriminate: $passed/${rows.length} pass")
  }

  test("embedKmeans: assignment is the argmax over embedCentroids' codebook; " +
      "accuracy beats the random-label baseline") {
    val cents = LlmPack.embedCentroids(spark, sf0001).collect()
      .groupBy(_.getInt(0))
      .map { case (l, rs) => l -> rs.sortBy(_.getInt(1)).map(_.getDouble(3)) }
    val out = LlmPack.embedKmeans(spark, sf0001).collect()
    val emb = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.lazyZip(b).map(_ * _).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    out.foreach { r =>
      val v = emb(r.getLong(0))
      // recompute the argmax from the (rounded) published codebook; the
      // operator's tie-break is the smaller label
      val best = cents.toSeq.map { case (l, c) =>
        (math.rint(cos(v, c) * 1e6) / 1e6, l)
      }.maxBy { case (s, l) => (s, -l) }
      assert(r.getInt(2) == best._2,
        s"vec ${r.getLong(0)}: pred ${r.getInt(2)} != recomputed ${best._2}")
    }
    val acc = out.count(r => r.getInt(1) == r.getInt(2)).toDouble / out.length
    assert(acc > 2.0 / cents.size, // >2x random over the label count
      s"nearest-centroid accuracy $acc suspiciously near chance")
  }

  test("simhash: deterministic; near-duplicates closer in Hamming space than unrelated docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different subject matter about spark catalyst optimizer internals")
    ).toDF("id", "text")
    def sigs = docs.select(col("id"), NearDedup.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s1 = sigs
    assert(s1 == sigs) // two plans, same fingerprints
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(s1(1L), s1(2L)) < ham(s1(1L), s1(3L)))
    assert(ham(s1(1L), s1(2L)) <= 8) // one-token edit => few bit flips
  }

  test("winnowing: shared substring of length >= k+w-1 implies shared fingerprint") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog by the riverbank"
    val docs = Seq(
      (1L, s"unrelated prefix text here $shared and some suffix"),
      (2L, s"totally different beginning $shared with another ending"),
      (3L, "no overlap with the others at all in this document text body")
    ).toDF("doc_id", "text")
    def collectFps = NearDedup.winnow(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).toSet }
    val fps = collectFps
    assert(fps(1L).intersect(fps(2L)).nonEmpty) // shared 61-char substring
    // density ~ 2/(w+1): fingerprints are a small fraction of the k-grams
    assert(fps(1L).size < 20)
    // determinism
    assert(collectFps == fps)
  }

  test("winnowing: docs shorter than k emit no (possibly-partial-gram) fingerprints") {
    import spark.implicits._
    val docs = Seq((1L, "tiny"), (2L, ""), (3L, "  a  b  ")).toDF("doc_id", "text")
    assert(NearDedup.winnow(docs, "doc_id", "text").count() == 0)
  }

  test("winnowing: native kernel matches the explode+window formulation on the fixture") {
    val docs = Tables.documents(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val native = rows(NearDedup.winnow(docs, "doc_id", "text"))
    val exploded = rows(NearDedup.winnowExploded(docs, "doc_id", "text"))
    assert(native == exploded)
    assert(native.nonEmpty)
  }

  test("winnowing md5 variant (the oracled q_fingerprint_winnow hash): MOSS " +
      "guarantee holds, values are 60-bit non-negative, short docs empty") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog by the riverbank"
    val docs = Seq(
      (1L, s"unrelated prefix text here $shared and some suffix"),
      (2L, s"totally different beginning $shared with another ending"),
      (3L, "tiny")
    ).toDF("doc_id", "text")
    val rows = NearDedup.winnow(docs, "doc_id", "text", md5Bits = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val fps = rows.groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
    assert(fps(1L).intersect(fps(2L)).nonEmpty) // shared 61-char substring
    assert(!fps.contains(3L))                   // < k chars → no fingerprints
    // oracle-safe value domain: first 15 md5 hex digits = [0, 2^60)
    assert(rows.forall { case (_, fp) => fp >= 0L && fp < (1L << 60) })
  }

  test("vocabCoverage: OOV = tokens outside the top-16 vocab, broadcast plan") {
    val out = LlmPack.vocabCoverage(spark, sf0001)
    // plan: the vocabulary side re-enters broadcast — the corpus-sized
    // exploded side must not exchange on the token key
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val rows = out.collect()
    assert(rows.length == 500)
    // recompute one doc by hand against the independently-derived vocab
    val vocab = Tables.documents(spark, sf0001)
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
      .groupBy("tok").count()
      .orderBy(col("count").desc, col("tok")).limit(16)
      .collect().map(_.getString(0)).toSet
    val doc0 = Tables.documents(spark, sf0001).where(col("doc_id") === 0)
      .select(graft.functions.TextFns.tokens(col("text"))).head.getSeq[String](0)
    val r0 = rows.find(_.getLong(0) == 0L).get
    assert(r0.getLong(1) == doc0.length)
    assert(r0.getLong(2) == doc0.count(!vocab.contains(_)))
    // the audit is non-trivial on the fixture: OOV mass exists both ways
    assert(rows.exists(_.getLong(2) > 0) && rows.forall(r => r.getLong(2) < r.getLong(1)))
  }

  test("language ID: predicts the profile language on real-language text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and looked at the dog that was in the garden"),
      (2L, "el perro corre en el parque y la casa de los vecinos es grande"),
      (3L, "der hund ist von dem haus und das kind ist nicht hier"),
      (4L, "le chat est dans les jardins et un oiseau est pas loin de la maison"),
      (5L, "xyzzy plugh qwerty asdf") // no profile hits anywhere
    ).toDF("doc_id", "text")
    // langId reads Tables.documents, so exercise the scoring core directly
    val tk = graft.functions.TextFns.tokens(lower(col("text")))
    val scored = docs.select(col("doc_id"), array_max(array(
      Seq("de" -> Seq("der", "die", "und", "das", "ist", "von", "ein", "nicht"),
        "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "that"),
        "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se"),
        "fr" -> Seq("le", "la", "les", "de", "et", "un", "est", "pas"),
        "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不")).map { case (l, ws) =>
        struct(size(filter(tk, t => t.isin(ws: _*))).as("hits"), lit(l).as("lang"))
      }: _*)).as("best"))
      .select(col("doc_id"),
        when(col("best.hits") === 0, "und").otherwise(col("best.lang")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scored == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "und"))
  }

  test("hard negatives: labels always differ, ranks contiguous, sims non-increasing") {
    val emb = Tables.embeddings(spark, sf0001)
    val probeLabels = emb.where(col("vec_id") < 16)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = LlmPack.hardNegativesQ(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    assert(out.nonEmpty)
    // every negative's label differs from its probe's
    assert(out.forall { case (p, _, _, negLabel, _) => negLabel != probeLabels(p) })
    out.groupBy(_._1).foreach { case (p, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to rows.length).toSeq, s"probe $p ranks")
      val sims = byRank.map(_._5).toSeq
      assert(sims == sims.sorted.reverse, s"probe $p sims not sorted")
      // parity with a direct per-probe brute force under the same exclusion
      val truth = emb.where(col("label") =!= probeLabels(p) && col("vec_id") =!= p)
        .crossJoin(broadcast(emb.where(col("vec_id") === p)
          .select(col("embedding").cast("array<double>").as("pv"))))
        .select(col("vec_id"),
          round(graft.functions.VectorFns.cosine(
            col("embedding").cast("array<double>"), col("pv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(rows.length).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(byRank.map(t => (t._3, t._5)).toSeq == truth, s"probe $p top-k")
    }
  }

  test("mutual kNN: exactly the symmetric subset of the directed kNN edges") {
    val emb = Tables.embeddings(spark, sf0001)
    val edges = graft.operators.SimilaritySearch
      .knnJoin(emb, emb, "vec_id", "embedding", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val mutual = LlmPack.knnMutual(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(mutual.nonEmpty)
    val expected = edges.keySet
      .filter { case (a, b) => a < b && edges.contains((b, a)) }
    assert(mutual.map(t => (t._1, t._2)).toSet == expected)
    // carried sim is the directed edge's (symmetric) rounded sim
    assert(mutual.forall { case (a, b, s) => edges((a, b)) == s })
  }

  test("lm score: nll bounds and hand-check on the corpus LM") {
    val out = LlmPack.lmScore(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 500)
    // nll = ln(T) - avg ln(c): bounded by the rarest/commonest token
    assert(out.forall(_._3 > 0))
    // recompute one doc directly from token frequencies
    val docs = Tables.documents(spark, sf0001)
    val tok = docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("tok"))
    val freq = tok.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = freq.values.sum.toDouble
    val doc0 = tok.where(col("doc_id") === 0).collect().map(_.getString(1))
    val expect = math.log(total) -
      doc0.map(t => math.log(freq(t).toDouble)).sum / doc0.length
    val got = out.find(_._1 == 0L).get
    assert(got._2 == doc0.length)
    assert(math.abs(got._3 - expect) < 1e-6)
  }

  test("token top-k and text stats agree with direct recomputation") {
    val stats = LlmPack.textStats(spark, sf0001).collect()
    assert(stats.length == 5) // 5 langs
    val totalDocs = stats.map(_.getLong(1)).sum
    assert(totalDocs == 500)
    val topk = LlmPack.tokenTopk(spark, sf0001).collect()
    assert(topk.length == 20)
    // descending counts, ties broken by token
    val ns = topk.map(_.getLong(1)).toSeq
    assert(ns == ns.sorted.reverse)
  }

  test("text normalize: planted decomposed prefix composes; whitespace collapses") {
    val out = LlmPack.textNormalize(spark, sf0001).collect()
    assert(out.length == 500)
    // n = code points of NFC(raw): the plant contributes "Café  STRASSE Å "
    // = 16 code points AFTER composition (18 before); text is NFC-invariant
    // ASCII, so n == 16 + text-code-points for every row.
    val lens = Tables.documents(spark, sf0001)
      .select(col("doc_id"), length(col("text")).cast("long").as("l"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(2) == 16L + lens(r.getLong(0)),
        s"doc ${r.getLong(0)}: NFC length ${r.getLong(2)} != 16 + ${lens(r.getLong(0))}")
    }
    // distinct texts → distinct hashes (md5 of the normalized form)
    assert(out.map(_.getString(1)).distinct.length == 500)
  }

  test("pca power step: unit-norm output, 64 dims, matches driver-side linear algebra") {
    val out = LlmPack.embedPcaPower(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.size == 64 && out.keys.min == 0L && out.keys.max == 63L)
    val norm = math.sqrt(out.values.map(v => v * v).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"|v1| = $norm") // 6dp rounding × 64 comps
    // Reference: v1 ∝ Xᵀ X v0 with v0 = 1/8·1, in plain driver-side doubles.
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val comps = new Array[Double](64)
    vecs.foreach { x =>
      val dot = 0.125 * x.sum
      var d = 0
      while (d < 64) { comps(d) += x(d) * dot; d += 1 }
    }
    val refNorm = math.sqrt(comps.map(v => v * v).sum)
    (0 until 64).foreach { d =>
      assert(math.abs(out(d.toLong) - comps(d) / refNorm) < 1e-5,
        s"dim $d: ${out(d.toLong)} vs ${comps(d) / refNorm}")
    }
    // power step must concentrate mass: Rayleigh quotient of v1 is ≥ that of
    // the isotropic start v0 (strictly, unless the spectrum is flat).
    def rayleigh(v: Array[Double]): Double = {
      var s = 0.0
      vecs.foreach { x =>
        var dot = 0.0
        var d = 0
        while (d < 64) { dot += x(d) * v(d); d += 1 }
        s += dot * dot
      }
      s / v.map(c => c * c).sum
    }
    val v0 = Array.fill(64)(0.125)
    val v1 = (0 until 64).map(d => out(d.toLong)).toArray
    assert(rayleigh(v1) >= rayleigh(v0))
  }
}
