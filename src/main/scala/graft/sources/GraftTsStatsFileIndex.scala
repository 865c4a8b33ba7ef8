package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, XxHash64}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.util.sketch.BloomFilter

/** The live V2 file index with MANIFEST-LEVEL file skipping: the standard
  * directory-listing index (membership stays listing-driven — the live
  * read's contract), except that `listFiles` hands the listing to the
  * current manifest's [[GraftTsStatsFileIndex.SkipIndex]], which drops
  * files whose recorded spans or Bloom bits prove they cannot match.
  *
  * Why this matters at 100 TB: partition pruning already skips whole DAYS,
  * and parquet row-group stats skip within a file at read time — but every
  * surviving file still becomes planner work (split enumeration, a task,
  * a footer RPC). A day holding many files with disjoint ts slices
  * (`filesPerDay > 1` writes, pre-compaction append runs) plans them ALL
  * for a narrow in-day range. The span index removes them at PLANNING
  * time, driver-side, zero I/O — the Iceberg/Delta data-skipping argument
  * applied to the one column this format orders by.
  *
  * Soundness: a file missing from the span map is always kept (pre-stats
  * manifests, foreign encodings, orphans not yet committed), and bound
  * extraction is conservative (strict bounds widen to closed; anything
  * unrecognized contributes nothing). Skipping only ever removes files
  * whose recorded [min, max] provably cannot match — and spans never go
  * stale because data files are immutable under UUID names (a rewrite
  * produces NEW names; a restore copies back byte-identical content). */
final class GraftTsStatsFileIndex(
    spark: SparkSession,
    rootPath: Path,
    userSchema: StructType,
    skip: GraftTsStatsFileIndex.SkipIndex)
  extends InMemoryFileIndex(spark, Seq(rootPath), Map.empty[String, String],
    Some(userSchema), FileStatusCache.getOrCreate(spark), None, None) {

  // the listing serves QUALIFIED paths: strip the qualified root back to
  // the manifest's table-relative key
  private lazy val rootPrefix: String = rootPath
    .getFileSystem(spark.sessionState.newHadoopConf())
    .makeQualified(rootPath).toString + "/"

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    skip.skipFiles(super.listFiles(partitionFilters, dataFilters), dataFilters)(
      p => p.toString.stripPrefix(rootPrefix))
}

object GraftTsStatsFileIndex {

  /** The planning-time skip index both V2 file indexes (live and
    * snapshot) hold: one committed version's per-file ts spans and
    * declared-stats spans, keyed by table-relative path, plus that
    * version's Bloom sidecar. The declared Bloom columns and the sidecar
    * are read lazily, once per instance, and only when some data filter
    * is an equality probe ([[hasEqProbe]]), so a range read never pays
    * for either. An index with no entries skips nothing. */
  private[graft] final class SkipIndex(
      tsCol: String,
      spans: Map[String, (Long, Long)],
      colSpans: Map[String, Map[String, graft.ts.ColSpan]],
      declaredBloomCols: () => Seq[String],
      readSidecar: () => Map[String, Map[String, Array[Byte]]]) {

    // every column any file has a recorded span for (statsCols, effectively)
    private lazy val statCols: Seq[String] =
      colSpans.valuesIterator.flatMap(_.keysIterator).toSet.toSeq

    private lazy val bloomCols: Seq[String] = declaredBloomCols()

    // O(#files × bits/8) driver memory while planning
    private lazy val blooms: Map[String, Map[String, BloomFilter]] =
      readSidecar().map { case (rel, cols) =>
        rel -> cols.map { case (c, bytes) =>
          c -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        }
      }

    /** The one per-file keep rule of every table read that skips files:
      * drop a file whose recorded closed ts span misses the pushed ts
      * bounds, whose declared-stats span excludes every value a conjunct
      * on that column allows (each `IN` value tested on its own), or
      * whose Bloom bits reject every hash of some equality conjunct. A
      * file with no entry in an index is kept by that index, and so is a
      * stats span marked `'e'` (harvested, unskippable). `relOf` maps a
      * listed path to its table-relative key. Returns `dirs` itself when
      * the filters imply no bound and no probe. */
    def skipFiles(dirs: Seq[PartitionDirectory], dataFilters: Seq[Expression])(
        relOf: Path => String): Seq[PartitionDirectory] = {
      // only an equality conjunct can use a Bloom probe
      val probeCols = if (hasEqProbe(dataFilters)) bloomCols else Nil
      if (spans.isEmpty && colSpans.isEmpty && probeCols.isEmpty) return dirs
      val (lo, hi) = tsBounds(dataFilters, tsCol)
      // bounds and per-conjunct value sets per stats column, from the
      // same pushed conjuncts
      val colBounds = statCols.flatMap { c =>
        val b = numBounds(dataFilters, c)
        if (b._1.isEmpty && b._2.isEmpty) None else Some((c, b._1, b._2))
      }
      val colPoints = statCols.flatMap(c => numPoints(dataFilters, c).map(c -> _))
      // per-conjunct equality probe hashes on bloom-indexed columns — a
      // file must might-contain at least one hash of EVERY equality conjunct
      val bloomProbes = probeCols.flatMap { c =>
        eqProbeHashes(dataFilters, c).map(c -> _)
      }
      if (lo.isEmpty && hi.isEmpty && colBounds.isEmpty && colPoints.isEmpty &&
          bloomProbes.isEmpty) return dirs
      def statSpan(rel: String, c: String): Option[graft.ts.ColSpan] =
        colSpans.get(rel).flatMap(_.get(c)).filter(_.typ != 'e')
      dirs.map { pd =>
        pd.copy(files = pd.files.filter { f =>
          val rel = relOf(f.getPath)
          spans.get(rel).forall { case (mn, mx) =>
            lo.forall(mx >= _) && hi.forall(mn <= _)
          } && colBounds.forall { case (c, cLo, cHi) =>
            statSpan(rel, c).forall(s0 =>
              cLo.forall(s0.hiBD >= _) && cHi.forall(s0.loBD <= _))
          } && colPoints.forall { case (c, vs) =>
            statSpan(rel, c).forall(s0 => vs.exists(x => x >= s0.loBD && x <= s0.hiBD))
          } && bloomProbes.forall { case (c, hashes) =>
            blooms.get(rel).flatMap(_.get(c)).forall(bf => hashes.exists(bf.mightContainLong))
          }
        })
      }
    }
  }

  /** Closed [lo, hi] µs bounds implied by the scan's top-level ts
    * conjuncts (either operand order). Strict comparisons widen to their
    * closed form — a file whose span touches the bound exactly is kept
    * even though its edge rows may not match; conservative by
    * construction, mirroring [[GraftTsScanBuilder.derivedDateBounds]]. */
  private[sources] def tsBounds(filters: Seq[Expression],
                                tsCol: String): (Option[Long], Option[Long]) = {
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    def tightenLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def tightenHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    def isTs(e: Expression): Boolean = e match {
      case a: AttributeReference =>
        a.name.equalsIgnoreCase(tsCol) && a.dataType == TimestampType
      case _ => false
    }
    filters.foreach {
      case GreaterThanOrEqual(a, Literal(us: Long, TimestampType)) if isTs(a) =>
        tightenLo(us)
      case GreaterThan(a, Literal(us: Long, TimestampType)) if isTs(a) =>
        tightenLo(us)
      case LessThanOrEqual(a, Literal(us: Long, TimestampType)) if isTs(a) =>
        tightenHi(us)
      case LessThan(a, Literal(us: Long, TimestampType)) if isTs(a) =>
        tightenHi(us)
      case EqualTo(a, Literal(us: Long, TimestampType)) if isTs(a) =>
        tightenLo(us); tightenHi(us)
      case EqualTo(Literal(us: Long, TimestampType), a) if isTs(a) =>
        tightenLo(us); tightenHi(us)
      // an IN probe set (static, or a runtime join-key filter) implies the
      // closed [min, max] of its values — conservative: any non-conforming
      // member voids the whole conjunct's contribution
      case In(a, list) if isTs(a) && list.nonEmpty && list.forall {
            case Literal(_: Long, TimestampType) => true; case _ => false } =>
        val us = list.map { case Literal(v: Long, TimestampType) => v }
        tightenLo(us.min); tightenHi(us.max)
      case GreaterThanOrEqual(Literal(us: Long, TimestampType), a) if isTs(a) =>
        tightenHi(us)
      case GreaterThan(Literal(us: Long, TimestampType), a) if isTs(a) =>
        tightenHi(us)
      case LessThanOrEqual(Literal(us: Long, TimestampType), a) if isTs(a) =>
        tightenLo(us)
      case LessThan(Literal(us: Long, TimestampType), a) if isTs(a) =>
        tightenLo(us)
      case _ => ()
    }
    (lo, hi)
  }

  /** Whether some top-level conjunct is an equality (`=`, `IN`) — the
    * only shape [[eqProbeHashes]] derives a Bloom probe from. */
  private[sources] def hasEqProbe(filters: Seq[Expression]): Boolean =
    filters.exists {
      case _: EqualTo | _: In | _: InSet => true
      case _ => false
    }

  /** Equality probe HASH-SETS on `name` implied by the scan's top-level
    * conjuncts, one entry per `=` / `IN` conjunct (each prunes
    * independently: the row set needs every conjunct true, so a file must
    * might-contain at least one value of each). Hashes are xxhash64
    * (seed 42) of the CATALYST-internal literal under the column's own
    * type — exactly the build-side `functions.xxhash64(col)` contract —
    * and only literals already of the column's type participate (a
    * comparison Catalyst chose to cast differently contributes nothing:
    * conservative). Null values never hash (SQL equality with null never
    * matches a stored row); a conjunct left with NO hashable values
    * contributes nothing rather than pruning everything. */
  private[sources] def eqProbeHashes(filters: Seq[Expression],
                                     name: String): Seq[Seq[Long]] = {
    def hash(v: Any, dt: org.apache.spark.sql.types.DataType): Option[Long] =
      if (v == null) None
      else Some(new XxHash64(Seq(Literal(v, dt))).eval(null).asInstanceOf[Long])
    filters.flatMap {
      case EqualTo(a: AttributeReference, l @ Literal(v, _))
          if a.name.equalsIgnoreCase(name) && l.dataType == a.dataType =>
        hash(v, a.dataType).map(Seq(_))
      case EqualTo(l @ Literal(v, _), a: AttributeReference)
          if a.name.equalsIgnoreCase(name) && l.dataType == a.dataType =>
        hash(v, a.dataType).map(Seq(_))
      case In(a: AttributeReference, list)
          if a.name.equalsIgnoreCase(name) && list.forall(e =>
            e.isInstanceOf[Literal] && e.dataType == a.dataType) =>
        val hs = list.flatMap { case Literal(v, _) => hash(v, a.dataType) }
        if (hs.nonEmpty) Some(hs) else None
      case InSet(a: AttributeReference, hset)
          if a.name.equalsIgnoreCase(name) =>
        val hs = hset.toSeq.flatMap(v => hash(v, a.dataType))
        if (hs.nonEmpty) Some(hs) else None
      case _ => None
    }
  }

  /** Closed [lo, hi] BigDecimal bounds implied on a NUMERIC stats column
    * by the scan's top-level conjuncts — the generic sibling of
    * [[tsBounds]] (strict widens to closed, unrecognized shapes
    * contribute nothing; BigDecimal so integral spans never round). */
  private[sources] def numBounds(filters: Seq[Expression], name: String)
      : (Option[BigDecimal], Option[BigDecimal]) = {
    var lo: Option[BigDecimal] = None
    var hi: Option[BigDecimal] = None
    def tightenLo(v: BigDecimal): Unit = lo = Some(lo.fold(v)(_.max(v)))
    def tightenHi(v: BigDecimal): Unit = hi = Some(hi.fold(v)(_.min(v)))
    def isCol(e: Expression): Boolean = isAttr(e, name)
    filters.foreach {
      case GreaterThanOrEqual(a, Literal(v, _)) if isCol(a) => num(v).foreach(tightenLo)
      case GreaterThan(a, Literal(v, _)) if isCol(a) => num(v).foreach(tightenLo)
      case LessThanOrEqual(a, Literal(v, _)) if isCol(a) => num(v).foreach(tightenHi)
      case LessThan(a, Literal(v, _)) if isCol(a) => num(v).foreach(tightenHi)
      case EqualTo(a, Literal(v, _)) if isCol(a) =>
        num(v).foreach { b => tightenLo(b); tightenHi(b) }
      case EqualTo(Literal(v, _), a) if isCol(a) =>
        num(v).foreach { b => tightenLo(b); tightenHi(b) }
      case GreaterThanOrEqual(Literal(v, _), a) if isCol(a) => num(v).foreach(tightenHi)
      case GreaterThan(Literal(v, _), a) if isCol(a) => num(v).foreach(tightenHi)
      case LessThanOrEqual(Literal(v, _), a) if isCol(a) => num(v).foreach(tightenLo)
      case LessThan(Literal(v, _), a) if isCol(a) => num(v).foreach(tightenLo)
      case _ => ()
    }
    (lo, hi)
  }

  /** The value sets of the `IN` conjuncts (static or optimized to
    * `InSet`) on a NUMERIC stats column — a file's span must hold at
    * least one value of each, tested value by value, which prunes more
    * than the list's [min, max] would. All-or-nothing per conjunct: a
    * list with a null or non-numeric member contributes nothing. */
  private[sources] def numPoints(filters: Seq[Expression],
                                 name: String): Seq[Seq[BigDecimal]] = {
    def allNum(vs: Seq[Any]): Option[Seq[BigDecimal]] = {
      val bs = vs.map(num)
      if (bs.nonEmpty && bs.forall(_.isDefined)) Some(bs.map(_.get)) else None
    }
    filters.flatMap {
      case In(a, list) if isAttr(a, name) && list.forall(_.isInstanceOf[Literal]) =>
        allNum(list.map { case Literal(v, _) => v })
      case InSet(a, hset) if isAttr(a, name) => allNum(hset.toSeq)
      case _ => None
    }
  }

  private def isAttr(e: Expression, name: String): Boolean = e match {
    case a: AttributeReference => a.name.equalsIgnoreCase(name)
    case _ => false
  }

  /** A literal's value as an exact BigDecimal (integral spans never
    * round); None for anything non-numeric or non-finite. */
  private def num(l: Any): Option[BigDecimal] = l match {
    case v: Long => Some(BigDecimal(v))
    case v: Int => Some(BigDecimal(v))
    case v: Short => Some(BigDecimal(v.toInt))
    case v: Byte => Some(BigDecimal(v.toInt))
    case v: Double if java.lang.Double.isFinite(v) => Some(BigDecimal(v))
    case v: Float if java.lang.Float.isFinite(v) => Some(BigDecimal(v.toDouble))
    case v: org.apache.spark.sql.types.Decimal => Some(v.toBigDecimal)
    case _ => None
  }
}
