package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.execution.ColumnarRule
import org.apache.spark.sql.graft.{BackwardAsOfStrategy, CmsEstimate, DotProduct, InProcessLocalFs, MinHashRow, MinHashSignature, NfcNormalize, SimHash64, SimHashMd5, SmallScanSingleTask, StableCodegenLiterals, TopKByScore, WinnowFingerprints}

/** Catalyst extension entry point for the engine's custom operators —
  * deploy with
  * {{{ spark.sql.extensions=graft.plans.GraftExtensions }}}
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`). Injects:
  *
  *   - the planner strategy for the partitioned-merge backward as-of join
  *     (org.apache.spark.sql.graft.BackwardAsOf). `AsOfJoin.backwardMerged`
  *     also self-registers it through `spark.experimental.extraStrategies`
  *     for sessions built without the extension, so the facade works
  *     either way;
  *   - SQL names for the engine's native expressions, so the full custom
  *     surface is reachable from pure SQL:
  *     `graft_dot(a, b)`, `graft_simhash64(token_hashes)`,
  *     `graft_simhash_md5(features)`,
  *     `graft_winnow(text, k, w)` (k, w literal ints),
  *     `graft_minhash_row(tokens, k)`, `graft_nfc(text)`,
  *     `graft_shingles(text, n)` (n literal int),
  *     `graft_cms_estimate(sketch, item)`, and the aggregates
  *     `graft_minhash(hash_col, k)` and `graft_topk(score, id, k)`
  *     (k literal int);
  *   - a physical rule (org.apache.spark.sql.graft.StableCodegenLiterals)
  *     that runs just before `CollapseCodegenStages`, AQE or not, and
  *     turns the numeric/date/timestamp constants of comparisons in
  *     `FilterExec` conditions into runtime parameters of the generated
  *     class, so range reads that differ only in their bounds reuse one
  *     compiled class instead of each Janino-compiling its own. Its scope
  *     is `FilterExec` only: scan partition filters, data filters and
  *     Parquet pushdown keep their literals, so pruning and EXPLAIN text
  *     are unchanged;
  *   - a query-stage preparation rule
  *     (org.apache.spark.sql.graft.SmallScanSingleTask, AQE only) that
  *     turns an `EnsureRequirements` `Exchange SinglePartition` over
  *     TsTable scans of at most `spark.sql.files.openCostInBytes` bytes
  *     into a one-task `Coalesce 1`, so a 1-hour `readRange`, a
  *     `lookupEq` or an as-of read answered by a global aggregate runs
  *     one Spark job instead of two. Larger reads, user repartitions,
  *     V2 connector scans and non-table scans keep their exchanges.
  *
  * Applying the extension also points the active `SparkContext`'s Hadoop
  * conf at the in-process local file system
  * (org.apache.spark.sql.graft.InProcessLocalFs), where the conf still
  * holds Hadoop's defaults, so local commits and streaming checkpoint
  * writes start no `chmod`/`readlink` child processes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def register(ext: SparkSessionExtensions, name: String, usage: String)(
      builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo("graft", name, usage), builder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    InProcessLocalFs.installOnActiveContext()
    ext.injectPlannerStrategy(_ => BackwardAsOfStrategy)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions = StableCodegenLiterals
    })
    ext.injectQueryStagePrepRule(SmallScanSingleTask)
    // SQL UPDATE / MERGE INTO on graft-ts tables → the facade's
    // copy-on-write verbs (GraftDmlRules scaladoc has the contract)
    ext.injectPostHocResolutionRule(session =>
      org.apache.spark.sql.graft.GraftDmlRule(session))
    register(ext, "graft_dot",
      "graft_dot(a, b) - codegen'd dot product of two array<double>") {
      case Seq(a, b) => DotProduct(a, b)
      case args => throw new IllegalArgumentException(
        s"graft_dot takes 2 arguments, got ${args.length}")
    }
    register(ext, "graft_simhash64",
      "graft_simhash64(hashes) - SimHash fingerprint of an array<bigint> of token hashes") {
      case Seq(h) => SimHash64(h)
      case args => throw new IllegalArgumentException(
        s"graft_simhash64 takes 1 argument, got ${args.length}")
    }
    register(ext, "graft_simhash_md5",
      "graft_simhash_md5(features) - md5-bit SimHash fingerprint of an array<string> (oracle-replayable)") {
      case Seq(f) => SimHashMd5(f)
      case args => throw new IllegalArgumentException(
        s"graft_simhash_md5 takes 1 argument, got ${args.length}")
    }
    register(ext, "graft_winnow",
      "graft_winnow(text, k, w) - winnowing fingerprints (k-gram size, window w)") {
      case Seq(t, k, w) =>
        WinnowFingerprints(t, litInt(k, "k"), litInt(w, "w"))
      case args => throw new IllegalArgumentException(
        s"graft_winnow takes 3 arguments, got ${args.length}")
    }
    register(ext, "graft_topk",
      "graft_topk(score, id, k) - aggregate: k best (score, id) pairs, score DESC id ASC") {
      case Seq(s, i, k) => TopKByScore(s, i, litInt(k, "k"))
      case args => throw new IllegalArgumentException(
        s"graft_topk takes 3 arguments, got ${args.length}")
    }
    register(ext, "graft_minhash",
      "graft_minhash(hash, k) - aggregate: k-permutation minhash signature of a bigint column") {
      case Seq(h, k) => MinHashSignature(h, litInt(k, "k"))
      case args => throw new IllegalArgumentException(
        s"graft_minhash takes 2 arguments, got ${args.length}")
    }
    register(ext, "graft_minhash_row",
      "graft_minhash_row(tokens, k) - per-row k-permutation minhash signature of an array<string>") {
      case Seq(t, k) => MinHashRow(t, litInt(k, "k"))
      case args => throw new IllegalArgumentException(
        s"graft_minhash_row takes 2 arguments, got ${args.length}")
    }
    register(ext, "graft_shingles",
      "graft_shingles(text, n) - distinct word n-gram shingles of a string (n literal int)") {
      case Seq(t, n) => org.apache.spark.sql.graft.ShinglesN(t, litInt(n, "n"))
      case args => throw new IllegalArgumentException(
        s"graft_shingles takes 2 arguments, got ${args.length}")
    }
    register(ext, "graft_nfc",
      "graft_nfc(text) - Unicode NFC canonical composition of a string") {
      case Seq(t) => NfcNormalize(t)
      case args => throw new IllegalArgumentException(
        s"graft_nfc takes 1 argument, got ${args.length}")
    }
    register(ext, "graft_cms_estimate",
      "graft_cms_estimate(sketch, item) - point estimate from a count_min_sketch binary") {
      case Seq(s, i) => CmsEstimate(s, i)
      case args => throw new IllegalArgumentException(
        s"graft_cms_estimate takes 2 arguments, got ${args.length}")
    }
  }
}
