package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

object ShingleKernel extends Serializable { // codegen reference object
  // Same regex class Spark's split uses (Java \s = ASCII whitespace).
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Distinct word n-grams in first-occurrence order. Replicates the HOF
    * formulation bit-for-bit:
    * `array_distinct(ngrams(split(trim(text), "\\s+")))` — including its
    * edges: trim strips 0x20 ONLY (Spark's StringTrim), the Java-regex
    * split keeps leading/trailing empty fields (limit −1), and empty
    * tokens participate in grams exactly as they would in zip_with. */
  def shinglesN(text: UTF8String, n: Int): Array[UTF8String] = {
    val full = text.toString
    var b = 0
    var e = full.length
    while (b < e && full.charAt(b) == ' ') b += 1
    while (e > b && full.charAt(e - 1) == ' ') e -= 1
    val toks = Ws.split(full.substring(b, e), -1)
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i + n - 1 < toks.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[UTF8String](seen.size)
    val it = seen.iterator
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    out
  }

  def shingles3(text: UTF8String): Array[UTF8String] = shinglesN(text, 3)
}

/** Native distinct word-3-gram shingles of a string column. The HOF
  * formulation (two zip_with passes + filter + array_distinct) evaluates
  * every lambda interpreted — measured ~0.5 ms/doc on the documents
  * fixture, the single largest cost in the near-dup queries. This kernel
  * is one O(tokens) pass per row inside whole-stage codegen. Parity with
  * the HOF formulation (kept as InterpretedTwins.shingles3Hof in the tests) is asserted in
  * LlmPackSpec over the fixture and adversarial whitespace edges. */
case class Shingles3(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingles3"

  override def nullSafeEval(in: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ShingleKernel.shingles3(in.asInstanceOf[UTF8String])
        .asInstanceOf[Array[AnyRef]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val kernel = ctx.addReferenceObj("shingleKernel", ShingleKernel,
        ShingleKernel.getClass.getName)
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (Object[]) $kernel.shingles3($a));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

/** Native distinct word-N-gram shingles — the generalized sibling of
  * [[Shingles3]] for operators whose span unit is not 3 (q_span_dedup's
  * 5-token spans). Same kernel, same O(tokens) single pass inside
  * whole-stage codegen, same HOF-replicating edge behavior (parity with a
  * zip_with chain asserted in LlmPackSpec for n=5). */
case class ShinglesN(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_shingles$n"

  override def nullSafeEval(in: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ShingleKernel.shinglesN(in.asInstanceOf[UTF8String], n)
        .asInstanceOf[Array[AnyRef]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val kernel = ctx.addReferenceObj("shingleKernel", ShingleKernel,
        ShingleKernel.getClass.getName)
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (Object[]) $kernel.shinglesN($a, $n));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShinglesN =
    copy(child = newChild)
}

object SpanKernel extends Serializable { // codegen reference object
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  /** One MD5 instance per executor thread, reset per window — getInstance
    * allocates (provider lookup + digest state) and was being paid once per
    * ROW in the hottest kernel this file exists to speed up (r21 advice).
    * Transient + lazy re-init: ThreadLocal is not serializable state, and
    * the codegen reference object is shipped into generated classes. */
  @transient private lazy val Md5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Positional span keys: for every word window [i, i+spanWords) the first
    * 16 hex chars of md5 over the space-joined window — bit-identical to
    * the HOF formulation
    * `transform(sequence(0, n-spanWords), i ->
    *    substring(md5(concat_ws(" ", slice(w, i+1, spanWords))), 1, 16))`
    * including concat_ws's skip-null semantics, but one digest per window
    * over reused buffers instead of a per-position array slice + string
    * rebuild + interpreted lambda (measured: the strip pass's dominant
    * cost — see NearDedup.spanBase). Windows shorter than spanWords (docs
    * with < spanWords tokens) produce an empty array, replicating the
    * `when(size(w) >= spanWords, …).otherwise(array())` guard. NULL input
    * (null text upstream) null-propagates via the nullIntolerant
    * expression where the HOF guard yields [] — a DOCUMENTED deviation
    * (r21 advice), invisible past any size(sh) > 0 gate and pinned in
    * NearDedupSpec's null-edges test. */
  def spanKeys(words: org.apache.spark.sql.catalyst.util.ArrayData,
               spanWords: Int): Array[UTF8String] = {
    val n = words.numElements()
    if (n < spanWords) return Array.empty
    val md = Md5.get()
    val out = new Array[UTF8String](n - spanWords + 1)
    var i = 0
    while (i + spanWords <= n) {
      md.reset()
      var j = 0
      var first = true
      while (j < spanWords) {
        val w = words.getUTF8String(i + j)
        if (w != null) { // concat_ws skips nulls without a separator
          if (!first) md.update(' '.toByte)
          md.update(w.getBytes)
          first = false
        }
        j += 1
      }
      val digest = md.digest()
      val hex = new Array[Byte](16)
      var k = 0
      while (k < 8) {
        hex(2 * k) = Hex((digest(k) >> 4) & 0xF)
        hex(2 * k + 1) = Hex(digest(k) & 0xF)
        k += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    out
  }

  /** Words NOT covered by any hot-span start interval [s, s+spanWords),
    * joined with single spaces — bit-identical to the HOF formulation
    * `concat_ws(" ", filter(w, (w, i) -> !exists(starts, s ->
    *    s <= i AND i <= s + spanWords - 1)))`
    * but a sorted sweep: O(W + S log S) instead of the interpreted
    * O(W × S) nested-lambda scan (the q_dedup_contain_clean CPU monster —
    * 626 s of task time at sf0.1 before this kernel). */
  def residualWords(words: org.apache.spark.sql.catalyst.util.ArrayData,
                    starts: org.apache.spark.sql.catalyst.util.ArrayData,
                    spanWords: Int): UTF8String = {
    val nw = words.numElements()
    val nsAll = starts.numElements()
    // Skip NULL start elements (r21 advice): unreachable from stripFromBase
    // (collect_set never emits nulls) but possible via the public
    // TextExprs.residualWords column API, where getInt on a null slot would
    // silently read 0 and strip the document head. A null start constrains
    // nothing here; note the HOF formulation instead null-propagates its
    // exists() and drops every non-covered word — pathological, not worth
    // replicating (documented deviation, covered in NearDedupSpec).
    var ns = 0
    val st = new Array[Int](nsAll)
    var i = 0
    while (i < nsAll) {
      if (!starts.isNullAt(i)) { st(ns) = starts.getInt(i); ns += 1 }
      i += 1
    }
    java.util.Arrays.sort(st, 0, ns)
    val sb = new java.lang.StringBuilder
    var p = 0
    var coveredEnd = -1
    i = 0
    while (i < nw) {
      while (p < ns && st(p) <= i) {
        val e = st(p) + spanWords - 1
        if (e > coveredEnd) coveredEnd = e
        p += 1
      }
      if (i > coveredEnd) {
        val w = words.getUTF8String(i)
        if (w != null) { // concat_ws skips nulls without a separator
          if (sb.length > 0) sb.append(' ')
          sb.append(w.toString)
        }
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Native positional span-key builder — see [[SpanKernel.spanKeys]]. One
  * codegen'd pass per row; parity with the HOF formulation
  * (InterpretedTwins.spanKeysHof, in the tests) asserted in NearDedupSpec. */
case class SpanKeys(child: Expression, spanWords: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(spanWords >= 1, s"span width must be >= 1, got $spanWords")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_span_keys"

  override def nullSafeEval(in: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      SpanKernel.spanKeys(
        in.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        spanWords).asInstanceOf[Array[AnyRef]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val kernel = ctx.addReferenceObj("spanKernel", SpanKernel,
        SpanKernel.getClass.getName)
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (Object[]) $kernel.spanKeys($a, $spanWords));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SpanKeys =
    copy(child = newChild)
}

/** Native residual-text rebuild — see [[SpanKernel.residualWords]]. Parity
  * with the HOF formulation (InterpretedTwins.residualWordsHof, in the tests) asserted in
  * NearDedupSpec. */
case class ResidualWords(left: Expression, right: Expression, spanWords: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  require(spanWords >= 1, s"span width must be >= 1, got $spanWords")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(org.apache.spark.sql.types.IntegerType))
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_residual_words"

  override def nullSafeEval(words: Any, starts: Any): Any =
    SpanKernel.residualWords(
      words.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      starts.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      spanWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val kernel = ctx.addReferenceObj("spanKernel", SpanKernel,
        SpanKernel.getClass.getName)
      s"${ev.value} = $kernel.residualWords($a, $b, $spanWords);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ResidualWords =
    copy(left = newLeft, right = newRight)
}

/** Column-level face. */
object NfcKernel extends Serializable { // codegen reference object
  /** Unicode NFC normalization (canonical composition). `isNormalized` is a
    * cheap scan that short-circuits the common all-ASCII/precomposed case to
    * a zero-copy pass-through — only rows that actually carry decomposed
    * sequences pay the composition. Matches DuckDB's `nfc_normalize` (both
    * implement UAX #15 canonical composition). */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Native NFC normalization of a string column — the canonical first step of
  * any text-cleaning pipeline (fold `e` + COMBINING ACUTE into `é` so
  * hashing/dedup/tokenization see one byte sequence per grapheme). Spark has
  * no builtin for this; a Scala UDF would break whole-stage codegen around
  * every normalize call, so it is a codegen'd UnaryExpression like the other
  * graft text kernels. Cross-engine parity with DuckDB `nfc_normalize` is
  * oracle-checked end-to-end by q_text_normalize. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(in: Any): Any =
    NfcKernel.nfc(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val kernel = ctx.addReferenceObj("nfcKernel", NfcKernel,
        NfcKernel.getClass.getName)
      s"${ev.value} = $kernel.nfc($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object RankByDfKernel extends Serializable { // codegen reference object
  /** A doc's shingles paired with their global document frequency, sorted
    * rarest-first by (df, sh) — the array-side form of rankedByDf's
    * window rank: `row_number() over (partition by id order by df, sh)`
    * becomes `posexplode` position + 1 over this array, with NO id-keyed
    * exchange of the exploded corpus (the r21 "not yet optimized" item).
    * Shingles absent from the vocab are DROPPED, matching the window
    * form's inner join on sh (unreachable from rankedByDf, whose vocab is
    * aggregated over the same sets — public-API callers see join
    * semantics). Null elements are dropped for the same reason (an
    * explode'd null never matches the join key). UTF8String.compareTo is
    * byte-wise unsigned — identical to the exchange's UTF8 binary string
    * ordering, so ranks are bit-identical (NearDedupSpec parity). */
  def rank(sh: org.apache.spark.sql.catalyst.util.ArrayData,
           vocab: java.util.HashMap[UTF8String, java.lang.Long])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = sh.numElements()
    val rows = new Array[org.apache.spark.sql.catalyst.InternalRow](n)
    var m = 0
    var i = 0
    while (i < n) {
      val s = sh.getUTF8String(i)
      if (s != null) {
        val d = vocab.get(s)
        if (d != null) {
          rows(m) = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](s, d.longValue()))
          m += 1
        }
      }
      i += 1
    }
    val trimmed = if (m == n) rows else java.util.Arrays.copyOf(rows, m)
    java.util.Arrays.sort(trimmed, RowCmp)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      trimmed.asInstanceOf[Array[AnyRef]])
  }

  private object RowCmp
      extends java.util.Comparator[org.apache.spark.sql.catalyst.InternalRow]
      with Serializable {
    override def compare(a: org.apache.spark.sql.catalyst.InternalRow,
                         b: org.apache.spark.sql.catalyst.InternalRow): Int = {
      val c = java.lang.Long.compare(a.getLong(1), b.getLong(1))
      if (c != 0) c
      else a.getUTF8String(0).compareTo(b.getUTF8String(0))
    }
  }
}

/** Native array-side df-rank — see [[RankByDfKernel.rank]]. Holds the
  * broadcast vocabulary handle directly (Broadcast.toString is tiny, so
  * plan strings stay readable; the map ships via the broadcast machinery,
  * never the plan). Parity with the window formulation asserted in
  * NearDedupSpec. */
case class RankShinglesByDf(child: Expression,
    vocab: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[UTF8String, java.lang.Long]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sh", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("df",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_rank_by_df"

  override def nullSafeEval(in: Any): Any =
    RankByDfKernel.rank(
      in.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], vocab.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val kernel = ctx.addReferenceObj("rankByDfKernel", RankByDfKernel,
        RankByDfKernel.getClass.getName)
      val bc = ctx.addReferenceObj("vocabBc", vocab,
        "org.apache.spark.broadcast.Broadcast")
      s"""
         |${ev.value} = $kernel.rank($a,
         |  (java.util.HashMap) $bc.value());
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RankShinglesByDf =
    copy(child = newChild)
}

object TextExprs {
  def shingles3(text: Column): Column =
    ExpressionUtils.column(Shingles3(ExpressionUtils.expression(text)))
  def shinglesN(text: Column, n: Int): Column =
    ExpressionUtils.column(ShinglesN(ExpressionUtils.expression(text), n))
  def nfc(text: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(text)))
  def spanKeys(words: Column, spanWords: Int): Column =
    ExpressionUtils.column(SpanKeys(ExpressionUtils.expression(words), spanWords))
  def residualWords(words: Column, starts: Column, spanWords: Int): Column =
    ExpressionUtils.column(ResidualWords(ExpressionUtils.expression(words),
      ExpressionUtils.expression(starts), spanWords))
  def rankByDf(sh: Column, vocab: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[UTF8String, java.lang.Long]]): Column =
    ExpressionUtils.column(RankShinglesByDf(ExpressionUtils.expression(sh), vocab))
}
