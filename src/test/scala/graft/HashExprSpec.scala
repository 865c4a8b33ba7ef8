package graft

import graft.operators.NearDedup
import org.apache.spark.sql.functions._

/** Native SimHash64 / HyperplaneKeys expressions vs their interpreted HOF
  * formulations: values must agree bit-for-bit, and the native forms must
  * actually run inside whole-stage codegen (the entire point of having
  * them). */
class HashExprSpec extends SparkSpec {

  test("native simhash64 == HOF simhash64 bit-for-bit on the documents fixture") {
    val d = Tables.documents(spark, sf0001)
      .select(NearDedup.simhash64(col("text")).as("native"),
        InterpretedTwins.simhash64Hof(col("text")).as("hof"))
    assert(d.where(col("native") =!= col("hof")).count() == 0)
    assert(d.count() == 500)
  }

  test("simhash64 edge cases: empty and null-ish token arrays") {
    import spark.implicits._
    val d = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("id", "text")
    val got = d.select(col("id"), NearDedup.simhash64(col("text")).as("s"),
        InterpretedTwins.simhash64Hof(col("text")).as("hs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (_, s, hs) => assert(s == hs) }
  }

  test("simhash64 runs inside whole-stage codegen") {
    val d = Tables.documents(spark, sf0001)
      .select(NearDedup.simhash64(col("text")).as("s"))
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"simhash not codegen-fused:\n$plan")
  }

  test("imperative minhash signature == declarative min(xxhash64(i, h)) columns") {
    import org.apache.spark.sql.graft.AggExprs
    val k = 16
    val hashed = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val imperative = hashed.groupBy(col("doc_id"))
      .agg(AggExprs.minhashSignature(col("h"), k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val declCols = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"s$i"))
    val declarative = hashed.groupBy(col("doc_id"))
      .agg(declCols.head, declCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toSeq).toMap
    assert(imperative == declarative)
    assert(imperative.size == 500)
  }

  test("hyperplane keys: tag isolates tables; expandBits emits the radius-1 ball") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExprs
    val planes = Seq(
      Seq(1.0, 0.0), Seq(0.0, 1.0), // table 0
      Seq(-1.0, 0.0), Seq(0.0, -1.0)) // table 1
    val df = Seq((1L, Seq(3.0, -2.0))).toDF("id", "v")
    val plain = df.select(VectorExprs.hyperplaneKeys(col("v"), planes, 2).as("k"))
      .head.getSeq[Long](0)
    // v = (3,-2): table0 bits = (1,0) -> key (0<<2)|0b10 = 2
    //             table1 bits = (0,1) -> key (1<<2)|0b01 = 5
    assert(plain == Seq(2L, 5L))
    val expanded = df.select(
        VectorExprs.hyperplaneKeys(col("v"), planes, 2, expandBits = true).as("k"))
      .head.getSeq[Long](0)
    // per table: key, key^1, key^2 — tag bits never flipped
    assert(expanded == Seq(2L, 3L, 0L, 5L, 4L, 7L))
  }

  test("per-row minhash == exploded imperative aggregate == declarative mins, bit-for-bit") {
    import org.apache.spark.sql.graft.AggExprs
    import graft.functions.TextFns
    val k = 16
    val sets = Tables.documents(spark, sf0001)
      .select(col("doc_id"), TextFns.shingles3(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
    val perRow = sets
      .select(col("doc_id"), AggExprs.minhashRow(col("sh"), k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val agg = sets
      .select(col("doc_id"), explode(col("sh")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
      .groupBy(col("doc_id"))
      .agg(AggExprs.minhashSignature(col("h"), k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(perRow == agg)
    assert(perRow.size == 500)
    // empty array → the aggregate's empty buffer; codegen fusion holds
    import spark.implicits._
    val empty = Seq(Seq.empty[String]).toDF("sh")
      .select(AggExprs.minhashRow(col("sh"), 4).as("sig"))
    assert(empty.head.getSeq[Long](0) == Seq.fill(4)(Long.MaxValue))
    val plan = sets.select(AggExprs.minhashRow(col("sh"), k))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"minhash row not codegen-fused:\n$plan")
  }

  test("nfc normalize == java.text.Normalizer on decomposed/precomposed/ASCII input") {
    import org.apache.spark.sql.graft.TextExprs
    import spark.implicits._
    val cases = Seq(
      "Café",          // decomposed → composes to Café
      "Café",                // already NFC — must pass through unchanged
      "Å b Á",   // two combining sequences in one string
      "plain ascii text",    // fast path
      "")                    // empty
    val got = cases.toDF("s")
      .select(TextExprs.nfc(col("s")).as("n"))
      .collect().map(_.getString(0))
    val expect = cases.map(
      java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got.toSeq == expect)
    // composition actually happened (code-point count dropped)
    assert(got.head.length == 4 && cases.head.length == 5)
  }

  test("nfc normalize runs inside whole-stage codegen and keeps null semantics") {
    import org.apache.spark.sql.graft.TextExprs
    import spark.implicits._
    // plan assertion needs a real scan — a local Seq constant-folds into a
    // LocalTableScan before the expression ever reaches codegen
    val d = Tables.documents(spark, sf0001)
      .select(TextExprs.nfc(concat(lit("Café "), col("text"))).as("n"))
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"nfc not codegen-fused:\n$plan")
    assert(d.head.getString(0).startsWith("Café "))
    val rows = Seq(Some("Café"), None).toDF("s")
      .select(TextExprs.nfc(col("s")).as("n")).collect()
    assert(rows(0).getString(0) == "Café" && rows(1).isNullAt(0))
  }
}
