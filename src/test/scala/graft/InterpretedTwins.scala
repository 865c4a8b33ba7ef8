package graft

import graft.functions.TextFns
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Interpreted higher-order-function formulations of the native kernels —
  * parity pins only: each spec asserts its native kernel matches the twin
  * here row for row. */
object InterpretedTwins {

  /** Positional span keys (NearDedup's strip): md5 of each `spanWords`
    * window, 16 hex chars. */
  def spanKeysHof(w: Column, spanWords: Int): Column =
    when(size(w) >= spanWords,
      transform(sequence(lit(0), size(w) - spanWords),
        i => substring(md5(concat_ws(" ", slice(w, i + 1, lit(spanWords)))), 1, 16)))
      .otherwise(array().cast("array<string>"))

  /** The words no span starting at `starts` covers, space-joined. */
  def residualWordsHof(w: Column, starts: Column, spanWords: Int): Column = {
    val span1 = lit(spanWords - 1)
    concat_ws(" ",
      filter(w, (_, i) => !exists(starts, s => s <= i && i <= s + span1)))
  }

  /** 64-bit SimHash of the token xxhash64s. */
  def simhash64Hof(text: Column): Column = {
    val hashes = transform(TextFns.tokens(text), t => xxhash64(t))
    // vote[b] = Σ tokens (bit b set ? +1 : −1); fingerprint bit b = vote>0
    val votes = transform(sequence(lit(0), lit(63)), b =>
      aggregate(hashes, lit(0),
        // call_function: the shiftright Scala wrapper only takes Int bits,
        // but here the bit index is a lambda variable
        (acc, h) => acc + when(
          call_function("shiftright", h, b).bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(votes, lit(0L),
      (acc, v) => shiftleft(acc, 1).bitwiseOR(when(v > 0, 1L).otherwise(0L)))
  }

  /** Distinct word 3-grams: zip_with over the tokens and their 1-/2-shifted
    * slices; trailing partial windows null out and drop in the filter. */
  def shingles3Hof(text: Column): Column = {
    val tk = TextFns.tokens(text)
    val pairs = zip_with(tk, slice(tk, lit(2), size(tk)), (a, b) => concat(a, lit(" "), b))
    val tris = zip_with(pairs, slice(tk, lit(3), size(tk)), (p, c) => concat(p, lit(" "), c))
    array_distinct(filter(tris, x => x.isNotNull))
  }

  /** Distinct word n-grams: n−1 zip_with passes over progressively longer
    * prefixes. */
  def shinglesNHof(text: Column, n: Int): Column = {
    val tk = TextFns.tokens(text)
    val grams = (2 to n).foldLeft(tk) { (acc, j) =>
      zip_with(acc, slice(tk, lit(j), size(tk)), (p, c) => concat(p, lit(" "), c))
    }
    array_distinct(filter(grams, x => x.isNotNull))
  }

  /** Dot product of two array<double> columns. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
}
