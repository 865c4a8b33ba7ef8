package graft

import graft.operators.NearDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** prefixFilter's skew posture (the r3/r4/r5 verdicts' open item): the
  * df-ranking join must not funnel a hot shingle's occurrences into one
  * reducer. rankedByDf splits the df table at `hotDf` — hot keys go through
  * a broadcast hash join (no shuffle on the shingle key), cold keys through
  * a shuffled join whose per-key fan-in is < hotDf by the split predicate. */
class NearDedupSpec extends SparkSpec {

  import spark.implicits._

  /** A deliberately skewed corpus: `n` docs, HALF of which share one hot
    * trigram ("zz zz zz"), plus a unique tail per doc, and a few planted
    * near-dup pairs. */
  private def skewed(n: Int): DataFrame =
    (0 until n).map { i =>
      val hot = if (i % 2 == 0) "zz zz zz " else ""
      val body =
        if (i < 4) // planted near-dups: long shared body, one unique token
          s"planted pair body shared words alpha beta gamma delta epsilon " +
            s"zeta eta theta iota kappa lambda mu nu xi omicron pi tok$i"
        else s"doc $i unique tail t$i u$i v$i w$i x$i"
      (i.toLong, "en", s"$hot$body")
    }.toDF("doc_id", "lang", "text")

  private def sets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"), col("lang").as("part"),
        graft.functions.TextFns.shingles3(col("text")).as("sh"))
      .where(size(col("sh")) > 0)

  private def collectJoins(plan: SparkPlan): Seq[SparkPlan] = {
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: unwrap(q.plan) // AQE stage wrappers hide their subtree from children
      case other => other +: other.children.flatMap(unwrap)
    }
    unwrap(plan).filter(_.nodeName.toLowerCase.contains("join"))
  }

  test("containment: finds small-in-big verbatim inclusion that Jaccard misses; " +
      "brute-force parity") {
    import graft.operators.NearDedup
    val bigBody = (1 to 200).map(i => s"w$i").mkString(" ")
    val small = (40 to 75).map(i => s"w$i").mkString(" ") // verbatim slice
    val docs = Seq(
      (1L, "en", bigBody),
      (2L, "en", small),
      (3L, "en", (1 to 50).map(i => s"z$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "lang", "text")
    val got = NearDedup.containmentPairs(docs, "doc_id", "text", "lang",
        tauC = 0.9, minShingles = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSeq == Seq((2L, 1L)),
      s"expected exactly the (small ⊂ big) pair, got ${got.toSeq}")
    assert(got.head._3 == 1.0, "a verbatim slice is fully contained")
    // the symmetric family really does miss it
    val jac = NearDedup.prefixFilter(docs, "doc_id", "text", "lang", tau = 0.8)
      .collect()
    assert(jac.isEmpty, "Jaccard at 0.8 must not pair a 36-token slice with a 200-token doc")

    // brute-force parity on the fixture corpus (sf0.001: all-pairs tractable)
    val fix = Tables.documents(spark, sf0001)
    val setsByDoc = fix.select(col("doc_id"), col("lang"),
        graft.functions.TextFns.shingles3(col("text")).as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toSet))
      .filter(_._3.nonEmpty)
    val want = (for {
      a <- setsByDoc; b <- setsByDoc
      if a._2 == b._2 && a._1 != b._1 && a._3.size >= 10 &&
        (a._3.size < b._3.size || (a._3.size == b._3.size && a._1 < b._1))
      c = a._3.intersect(b._3).size.toDouble / a._3.size
      if c >= 0.9
    } yield (a._1, b._1)).toSet
    val gotFix = NearDedup.containmentPairs(fix, "doc_id", "text", "lang",
        tauC = 0.9, minShingles = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotFix == want, s"missing=${want -- gotFix} extra=${gotFix -- want}")
  }

  test("containmentPairsClean: boilerplate cluster collapses the hot join keys; " +
      "the genuine non-boilerplate pair is still found; parity when nothing strips") {
    import graft.operators.NearDedup
    // 20 docs sharing one 60-word boilerplate block (a license header), each
    // with a distinct 40-word body; doc 100's body is verbatim inside doc
    // 101's longer body — the genuine containment signal, NOT boilerplate.
    val boiler = (1 to 60).map(i => s"b$i").mkString(" ")
    // 3-word unique tails keep each cluster doc ~95% boilerplate, so the
    // RAW operator pairs cluster members with each other at τ=0.9
    val cluster = (1 to 20).map { i =>
      (i.toLong, "en", s"$boiler u${i}_1 u${i}_2 u${i}_3")
    }
    val innerBody = (1 to 30).map(i => s"q$i").mkString(" ")
    val outerBody = ((1 to 30).map(i => s"q$i") ++ (1 to 80).map(i => s"r$i")).mkString(" ")
    val docs = (cluster ++ Seq(
      (100L, "en", s"$boiler $innerBody"),
      (101L, "en", s"$boiler $outerBody"))).toDF("doc_id", "lang", "text")

    // (a) the strip collapses the key distribution: before, the boilerplate
    // makes 22-hot shingles; after, no shingle's df exceeds the quotation's 2
    def maxDf(d: org.apache.spark.sql.DataFrame, textCol: String): Long =
      d.select(explode(graft.functions.TextFns.shingles3(col(textCol))).as("sh"))
        .groupBy("sh").count().agg(max("count")).head.getLong(0)
    assert(maxDf(docs, "text") >= 22L, "fixture must be boilerplate-hot")
    val stripped = NearDedup.stripRepeatedSpans(docs, "doc_id", "text", "lang")
    assert(maxDf(stripped.where(length(col("clean_text")) > 0), "clean_text") <= 2L,
      "stripping must remove every boilerplate-cluster shingle from the postings")

    // (b) the genuine quotation pair survives; no boilerplate-only pairs
    val got = NearDedup.containmentPairsClean(docs, "doc_id", "text", "lang",
        tauC = 0.9, minShingles = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 101L)),
      s"expected exactly the residual-content containment pair, got $got")
    // the unstripped operator drowns it in boilerplate cross-pairs
    val raw = NearDedup.containmentPairs(docs, "doc_id", "text", "lang",
        tauC = 0.9, minShingles = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(raw.size > 1, "fixture sanity: boilerplate must create extra raw pairs")

    // (c) parity: on a corpus where no span exceeds the threshold the clean
    // variant returns containmentPairs' result exactly
    val clean = Seq(
      (1L, "en", (1 to 200).map(i => s"w$i").mkString(" ")),
      (2L, "en", (40 to 75).map(i => s"w$i").mkString(" ")),
      (3L, "en", (1 to 50).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "lang", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(NearDedup.containmentPairsClean(clean, "doc_id", "text", "lang",
        tauC = 0.9, minShingles = 10)) ==
      pairs(NearDedup.containmentPairs(clean, "doc_id", "text", "lang",
        tauC = 0.9, minShingles = 10)))
  }

  test("SigStore: probe == recomputing incremental LSH pair-for-pair; " +
      "fingerprint gates rebuilds") {
    import graft.operators.SigStore
    val docs = Tables.documents(spark, sf0001)
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 1) < "3"
    val store = java.nio.file.Files
      .createTempDirectory("graft-sigstore").toString + "/sig"

    assert(SigStore.buildIfNeeded(docs.where(!isNew), store, "fp1",
      "doc_id", "text", "lang"))
    // identical fingerprint: reuse; changed: rebuild
    assert(!SigStore.buildIfNeeded(docs.where(!isNew), store, "fp1",
      "doc_id", "text", "lang"))
    assert(SigStore.buildIfNeeded(docs.where(!isNew), store, "fp2",
      "doc_id", "text", "lang"))

    val viaStore = SigStore.probe(store, docs.where(isNew),
        "doc_id", "text", "lang", tau = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val recomputed = NearDedup.minhashLshIncremental(
        docs.withColumn("is_new", isNew),
        idCol = "doc_id", textCol = "text", partCol = "lang",
        newCol = "is_new", tau = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStore == recomputed,
      s"missing=${recomputed -- viaStore} extra=${viaStore -- recomputed}")
    assert(viaStore.nonEmpty)

    // DELETE: a pruned corpus doc stops vetoing future arrivals, other
    // pairs survive, and re-deletion is a no-op
    val crossPairs = viaStore.filter { case (_, dupOf, _) =>
      !docs.where(isNew).select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet.contains(dupOf)
    }
    assert(crossPairs.nonEmpty, "need a store-side pair to exercise delete")
    val victim = crossPairs.head._2
    assert(SigStore.delete(spark, store, Seq(victim)) > 0L)
    val afterDelete = SigStore.probe(store, docs.where(isNew),
        "doc_id", "text", "lang", tau = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(afterDelete == viaStore.filterNot(_._2 == victim),
      "delete must remove exactly the victim's pairs")
    assert(SigStore.delete(spark, store, Seq(victim)) == 0L)
  }

  test("rankedByDf: hot shingles take the broadcast branch, plan has no hot-key shuffle join") {
    val docs = skewed(100)
    // maxBroadcastVocab=0 forces the at-scale head/tail split branch
    val ranked = NearDedup.rankedByDf(sets(docs), hotDf = 10, maxBroadcastVocab = 0)
    ranked.collect() // materialize so AQE finalizes the plan
    val joins = collectJoins(ranked.queryExecution.executedPlan)
    // the head branch is a broadcast hash join...
    val bhj = joins.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"no broadcast hash join in:\n${ranked.queryExecution.executedPlan}")
    // ...whose build side filters df >= hotDf (the hot head)
    assert(bhj.exists(_.toString.contains(">= 10")),
      s"broadcast build side is not the df>=hotDf head:\n${bhj.mkString("\n")}")
  }

  test("rankedByDf: small vocabulary ranks array-side — no join, no window, " +
      "no exchange in the plan at all (r22: the id-keyed rank exchange is gone)") {
    val docs = skewed(100)
    val ranked = NearDedup.rankedByDf(sets(docs), hotDf = 10) // default: vocab fits
    ranked.collect()
    val plan = ranked.queryExecution.executedPlan
    assert(collectJoins(plan).isEmpty,
      s"small-vocab branch must not join at all:\n$plan")
    val planStr = plan.toString
    assert(planStr.contains("graft_rank_by_df"),
      s"array-side rank kernel missing from plan:\n$planStr")
    assert(!planStr.contains("Exchange hashpartitioning"),
      s"small-vocab rank must be a pure map-side pass:\n$planStr")
    assert(!planStr.contains("Window"),
      s"small-vocab rank must not fall back to the window form:\n$planStr")
  }

  test("a materialized pipeline destroys rankedByDf's vocabulary broadcast " +
      "once its checkpoint has materialized") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.broadcast.Broadcast[_]]
    val ranked = NearDedup.materializedPairs(sets(skewed(60)), Some(true)) {
      (s, track) => NearDedup.rankedByDf(s, hotDf = 5, track = { b => seen += b; track(b) })
    }
    assert(seen.size == 1, "the small-vocab branch broadcasts its vocabulary once")
    val e = intercept[org.apache.spark.SparkException](seen.head.value)
    assert(e.getMessage.contains("destroyed"), e.getMessage)
    // the checkpointed result no longer needs it
    assert(ranked.count() > 0)
  }

  test("rankedByDf ranking is identical to the naive single-join formulation") {
    val s = sets(skewed(60))
    val naive = s
      .select(col("id"), col("part"), size(col("sh")).as("n"), explode(col("sh")).as("sh"))
      .join(s.select(explode(col("sh")).as("sh")).groupBy("sh").agg(count(lit(1)).as("df")), "sh")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("df"), col("sh"))))
    def key(df: DataFrame) = df.select("id", "sh", "df", "rn")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val expected = key(naive)
    // both dispatch branches agree with the naive formulation
    assert(key(NearDedup.rankedByDf(s, hotDf = 5)) == expected) // whole-vocab broadcast
    assert(key(NearDedup.rankedByDf(s, hotDf = 5, maxBroadcastVocab = 0)) == expected)
    // degenerate split thresholds: everything-hot and everything-cold agree too
    assert(key(NearDedup.rankedByDf(s, hotDf = 1, maxBroadcastVocab = 0)) == expected)
    assert(key(NearDedup.rankedByDf(s, hotDf = Int.MaxValue, maxBroadcastVocab = 0)) == expected)
  }

  test("clusterPairs: chains and cliques collapse to min-id components") {
    import spark.implicits._
    // components: chain 1-2-3-4 (diameter 3, forces >1 round), clique
    // {10,11,12}, isolated pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)).toDF("a_id", "b_id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // default dispatch (driver-local union-find at this size)
    val got = graft.operators.NearDedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // distributed min-label propagation path produces the SAME labeling
    val distributed = graft.operators.NearDedup
      .clusterPairs(pairs, localEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == expected)
    // deterministic across runs
    assert(graft.operators.NearDedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == got)
  }

  test("clusterPairs: distributed rounds leave no pinned checkpoint blocks") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = graft.operators.NearDedup.clusterPairs(pairs, localEdgeLimit = 0)
    labels.collect()
    val after = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    // the FINAL round's checkpoint backs the returned DataFrame and must
    // stay; everything else (edges persist + per-round snapshots) is freed
    assert(after.size <= 1,
      s"leaked ${after.size} persisted RDDs: expected at most the final labels")
  }

  test("clusterPairs: a long path exceeding the round cap fails loudly") {
    import spark.implicits._
    // a 2^25-diameter graph is unbuildable here; instead assert the cap via
    // a path long enough that min-label needs > 25 rounds: label moves one
    // hop per round on a path, so 30 edges > 25 rounds. localEdgeLimit=0
    // forces the distributed path (the driver-local union-find has no
    // round cap to hit).
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalArgumentException](
      graft.operators.NearDedup.clusterPairs(path, localEdgeLimit = 0).collect())
    assert(e.getMessage.contains("no fixpoint"))
  }

  test("simhashMd5Pairs: banded result equals brute-force hamming ≤ maxHamming") {
    val docs = skewed(100)
    val got = NearDedup.simhashMd5Pairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force truth over the same fingerprints (all-pairs, test-only):
    // reuse stage 1+2 of the operator via bands=64 slices of 1 bit — every
    // pair shares SOME 1-bit slice, so banding degenerates to all-pairs,
    // making it the exhaustive reference while exercising the same packing.
    val truth = NearDedup.simhashMd5Pairs(docs, "doc_id", "text",
        maxHamming = 7, bands = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(truth.nonEmpty, "skewed fixture should contain hamming≤7 pairs")
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    // planted near-dups (docs 0..3 share a long body) must be found
    assert(got.exists { case (a, b, _) => a < 4 && b < 4 })
  }

  test("SimHashMd5 kernel matches the 64-sum aggregate formulation row-for-row") {
    val docs = skewed(80)
    val viaKernel = docs
      .select(col("doc_id"), graft.functions.TextFns.shingles3(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.HashExprs.simhashMd5(col("sh")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = NearDedup.simhashMd5Agg(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaKernel == viaAgg)
    assert(viaKernel.size == 80)
  }

  test("simhashMd5Pairs rejects parameters that break the pigeonhole recall") {
    val docs = skewed(10)
    intercept[IllegalArgumentException](
      NearDedup.simhashMd5Pairs(docs, "doc_id", "text", maxHamming = 8, bands = 8))
    intercept[IllegalArgumentException](
      NearDedup.simhashMd5Pairs(docs, "doc_id", "text", bands = 7))
  }

  test("prefixFilter on the skewed corpus: exact result, all planted pairs found") {
    val docs = skewed(100)
    val tau = 0.5
    val got = NearDedup.prefixFilter(docs, "doc_id", "text", "lang", tau, hotDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force truth (test-only)
    val s = sets(docs)
    val a = s.select(col("id").as("a_id"), col("sh").as("a_sh"))
    val b = s.select(col("id").as("b_id"), col("sh").as("b_sh"))
    val truth = a.crossJoin(b).where(col("a_id") < col("b_id"))
      .withColumn("j", graft.functions.TextFns.jaccard(col("a_sh"), col("b_sh")))
      .where(col("j") >= tau)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should plant near-dup pairs")
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
  }

  test("r21 strip kernels: SpanKeys / ResidualWords match the HOF formulations " +
      "bit-for-bit on the fixture and adversarial edges") {
    import org.apache.spark.sql.graft.TextExprs
    val spanWords = 5
    // fixture corpus + edges: < spanWords tokens, exactly spanWords,
    // empty text, runs of whitespace (split keeps empty leading fields),
    // and a doc that is pure repetition (self-repeated span)
    val edges = Seq(
      (9001L, "en", "one two three"), // shorter than a span
      (9002L, "en", "a b c d e"), // exactly one span
      (9003L, "en", ""), // empty
      (9004L, "en", "  x   y\tz  w v u t  "), // whitespace runs
      (9005L, "en", Array.fill(30)("rep").mkString(" ")) // self-repetition
    ).toDF("doc_id", "lang", "text")
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text"))
      .unionByName(edges)
      .withColumn("w", graft.functions.TextFns.tokens(col("text")))

    // (a) span keys: kernel vs HOF, every row
    val spanDiff = docs.select(col("doc_id"),
        TextExprs.spanKeys(col("w"), spanWords).as("k"),
        InterpretedTwins.spanKeysHof(col("w"), spanWords).as("h"))
      .where(not(col("k") <=> col("h")))
    assert(spanDiff.isEmpty, s"SpanKeys mismatch: ${spanDiff.collect().toSeq}")

    // (b) residual rebuild: kernel vs HOF under planted start sets —
    // empty, overlapping, out-of-order, covering-everything, past-the-end
    val withStarts = docs.select(col("doc_id"), col("w"),
      array(lit(3), lit(1), lit(4), lit(1), lit(12), lit(200)).as("starts"))
    val resDiff = withStarts.select(col("doc_id"),
        TextExprs.residualWords(col("w"), col("starts"), spanWords).as("k"),
        InterpretedTwins.residualWordsHof(col("w"), col("starts"), spanWords).as("h"))
      .where(not(col("k") <=> col("h")))
    assert(resDiff.isEmpty, s"ResidualWords mismatch: ${resDiff.collect().toSeq}")
    val emptyDiff = docs.select(col("doc_id"),
        TextExprs.residualWords(col("w"),
          array().cast("array<int>"), spanWords).as("k"),
        InterpretedTwins.residualWordsHof(col("w"),
          array().cast("array<int>"), spanWords).as("h"))
      .where(not(col("k") <=> col("h")))
    assert(emptyDiff.isEmpty,
      s"ResidualWords empty-starts mismatch: ${emptyDiff.collect().toSeq}")

    // (c) end-to-end: the strip output is unchanged by the kernel swap
    // (stripRepeatedSpans now runs the kernels; rebuild the pre-r21 HOF
    // pipeline inline and compare full frames)
    val base = docs
      .select(col("doc_id").as("id"), col("lang").as("part"), col("w"))
      .withColumn("spans", InterpretedTwins.spanKeysHof(col("w"), spanWords))
    val occ = base.select(col("id"), posexplode(col("spans")).as(Seq("pos", "h")))
    val hot = occ.groupBy(col("h")).agg(count(lit(1)).as("mult"))
      .where(col("mult") > 8).select(col("h"))
    val covered = occ.join(broadcast(hot), "h")
      .groupBy(col("id")).agg(collect_set(col("pos")).as("starts"))
    val hofStrip = base.join(covered, Seq("id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("clean_text",
        InterpretedTwins.residualWordsHof(col("w"), col("starts"), spanWords))
      .select(col("id"), col("clean_text"))
    val kernelStrip = NearDedup.stripRepeatedSpans(
        docs.select(col("doc_id"), col("lang"), col("text")),
        "doc_id", "text", "lang")
      .select(col("id"), col("clean_text").as("k_clean"))
    val e2eDiff = hofStrip.join(kernelStrip, "id")
      .where(not(col("clean_text") <=> col("k_clean")))
    assert(e2eDiff.isEmpty, s"strip e2e mismatch: ${e2eDiff.collect().toSeq}")
  }

  test("null edges (r21 advice): null-text kernels null-propagate where the " +
      "HOFs yield empty — documented deviation, invisible past the shingle " +
      "gate; null START elements are skipped, not read as 0") {
    import org.apache.spark.sql.graft.TextExprs
    val spanWords = 5
    // (a) null text: tokens() null-propagates; the nullIntolerant kernels
    // then yield null spans / null clean_text where the HOF formulations
    // yield []/"" (their when/concat_ws guards absorb the null). INTENTIONAL:
    // both values shingle to an empty set, so every consumer that gates on
    // size(sh) > 0 — all of them — sees identical results. Pinned here so
    // the deviation cannot drift silently.
    val nullDoc = Seq((9100L, "en")).toDF("doc_id", "lang")
      .withColumn("text", lit(null).cast("string"))
      .withColumn("w", graft.functions.TextFns.tokens(col("text")))
    val r = nullDoc.select(
      TextExprs.spanKeys(col("w"), spanWords).as("k"),
      InterpretedTwins.spanKeysHof(col("w"), spanWords).as("h"),
      TextExprs.residualWords(col("w"), array().cast("array<int>"), spanWords).as("rk"),
      InterpretedTwins.residualWordsHof(col("w"), array().cast("array<int>"), spanWords).as("rh"),
      graft.functions.TextFns.shingles3(col("text")).as("shNull")).head()
    assert(r.isNullAt(0), "kernel spanKeys(null) should be null")
    assert(r.getSeq[String](1).isEmpty, "HOF spanKeys(null) should be []")
    assert(r.isNullAt(2), "kernel residualWords(null, []) should be null")
    assert(r.getString(3) == "", "HOF residualWords(null, []) should be ''")
    // invisible downstream: null text and "" both shingle to an empty set
    assert(r.isNullAt(4) || r.getSeq[String](4).isEmpty)
    // (b) null start elements (public column API only — collect_set never
    // emits nulls): the kernel SKIPS them instead of reading 0/garbage;
    // result equals the same call with the nulls absent.
    val words = Seq((1L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")))
      .toDF("id", "w")
    val got = words.select(
      TextExprs.residualWords(col("w"),
        array(lit(null).cast("int"), lit(3), lit(null).cast("int")), spanWords).as("withNulls"),
      TextExprs.residualWords(col("w"), array(lit(3)), spanWords).as("without")).head()
    assert(got.getString(0) == got.getString(1),
      s"null starts must strip nothing: '${got.getString(0)}' vs '${got.getString(1)}'")
    assert(got.getString(1) == "a b c i j", "start=3, spanWords=5 covers words 3..7")
  }
}
