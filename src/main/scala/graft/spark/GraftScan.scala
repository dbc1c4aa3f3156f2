package graft.spark

import graft.storage.ParquetCatalog
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference,
  Expression => VExpression}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey,
  InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns,
  SupportsReportPartitioning, SupportsReportStatistics,
  SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning,
  Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graftbridge.{CatalystFilterPushdownBridge,
  RowIndexBridge}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

/** What one table version's SQL-door scan may do, resolved once per
  * `GraftTable.newScanBuilder`:
  *
  *   - `sidecars`: the version's deletion-vector sidecars — nonempty
  *     makes the scan VECTORED (positional anti-filter, below);
  *   - `keyLayout`: the layout to report for storage-partitioned joins,
  *     set only under Spark's own opt-in
  *     (`spark.sql.sources.v2.bucketing.enabled`) on a partitioned or
  *     bucketed layout;
  *   - `statsPath`: the persisted skipping index, when one exists;
  *   - `partitioned`: whether the layout has partition columns (runtime
  *     partition pruning needs the scan even without an index). */
final case class GraftScanCaps(sidecars: Seq[String],
    keyLayout: Option[GraftKeyLayout], statsPath: Option[java.nio.file.Path],
    partitioned: Boolean)

/** A reported key: identity transforms of `identity`, then an optional
  * trailing `bucket(n, col)` (Iceberg's `days(ts), bucket(16, id)`
  * multi-transform spec). */
final case class GraftKeyLayout(identity: Seq[String],
    bucket: Option[(String, Int)])

/** The registered catalog's one scan builder. It forwards every
  * pushdown the stock `ParquetScanBuilder` exposes (column pruning,
  * catalyst filters with the inner builder's own residual, aggregates),
  * captures the index conjuncts, answers metadata aggregates, and at
  * `build()` picks ONE scan, in priority order:
  *
  *   1. vectored → [[GraftScan]] in vectored mode (correctness first;
  *      carries the key when SPJ reporting applies);
  *   2. SPJ keyLayout → keyed [[GraftScan]] when the key survived
  *      column pruning, else the STOCK scan;
  *   3. indexed, or partitioned with a partition column read →
  *      unkeyed [[GraftScan]];
  *   4. otherwise, or after an inner aggregate pushdown (the scan then
  *      emits partial-agg rows) → the stock `ParquetScan`.
  *
  * METADATA-ONLY aggregates (Delta/Iceberg parity): `COUNT(*)`,
  * `COUNT(col)`, `MIN(col)`, `MAX(col)` — bare, or under filters the
  * inner builder consumed EXACTLY (partition columns only: Spark then
  * drops the Filter node and the file list is the precise slice) —
  * answer from the manifest plus the index as ONE single-row
  * [[GraftCountStarScan]]: footer row counts minus vectored positions,
  * exact per-file null counts and min/max (see
  * [[graft.storage.ParquetCatalog.statsMinMax]] for the refusals).
  * Anything unprovable takes the real scan. */
class GraftScanBuilder(inner: ScanBuilder, caps: GraftScanCaps,
    cat: ParquetCatalog, table: String, version: Long, tableSchema: StructType)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates with CatalystFilterPushdownBridge {

  private val vectored = caps.sidecars.nonEmpty
  private var planned = GraftConjuncts()
  private var sawFilters = false
  private var allConsumed = true
  private var aggPushed = false
  private var metadata: Option[GraftCountStarScan] = None

  override def pruneColumns(requiredSchema: StructType): Unit = inner match {
    case p: SupportsPushDownRequiredColumns => p.pruneColumns(requiredSchema)
    case _ => ()
  }

  /** Vectored: forward only deterministic filters (partition pruning and
    * row-group pushdown are both position-safe under the row-index
    * column) and report ALL as residual, so the full predicate always
    * re-applies above the scan. Otherwise the inner builder's residual
    * passes through, so pushdown is byte-identical to the stock scan. */
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    sawFilters ||= filters.nonEmpty
    if (caps.statsPath.isDefined)
      planned = GraftFileSkipping.conjuncts(filters)
    val residual =
      if (!vectored) CatalystFilterPushdownBridge.pushAll(inner, filters)
      else {
        CatalystFilterPushdownBridge.push(inner, filters.filter(_.deterministic))
        filters
      }
    allConsumed &&= residual.isEmpty
    residual
  }

  override def pushedFilters: Array[Predicate] =
    if (vectored) Array.empty else CatalystFilterPushdownBridge.pushed(inner)

  /** The vectored scan takes no inner aggregate pushdown: partial-agg
    * rows carry no row positions to anti-filter. */
  private def innerAggregates: Option[SupportsPushDownAggregates] = inner match {
    case a: SupportsPushDownAggregates if !vectored => Some(a)
    case _ => None
  }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    metadata = metadataAnswer(aggregation)
    aggPushed = metadata.isDefined ||
      innerAggregates.exists(_.pushAggregation(aggregation))
    aggPushed
  }

  /** Partial, not complete: the metadata row carries aggregate PARTIALS
    * and Spark's final aggregation folds it. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    metadata.isEmpty &&
      innerAggregates.exists(_.supportCompletePushDown(aggregation))

  private def metadataAnswer(agg: Aggregation): Option[GraftCountStarScan] = {
    def field(e: VExpression): Option[StructField] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        tableSchema.fields.find(_.name.equalsIgnoreCase(r.fieldNames.head))
      case _ => None
    }
    val shapes: Seq[Option[(String, Option[StructField])]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(("count_star", None))
        case c: Count if !c.isDistinct => field(c.column).map(f => ("count", Some(f)))
        case m: Min => field(m.column).map(f => ("min", Some(f)))
        case m: Max => field(m.column).map(f => ("max", Some(f)))
        case _ => None
      }
    if (agg.groupByExpressions.nonEmpty || shapes.isEmpty ||
        shapes.contains(None) || (sawFilters && !allConsumed)) return None
    // a filtered aggregate folds over the surviving files only; the
    // bare forms use the whole version (count via the O(1) index path)
    val files = if (sawFilters) survivingFiles() match {
      case None => return None
      case some => some
    } else None
    lazy val scope = files.getOrElse(cat.dataFilesAbs(table, version))
    val resolved: Seq[Option[(Any, StructField)]] = shapes.flatten.map {
      case (_, None) =>
        val n = files.fold(cat.exactRowCount(table, version))(
          cat.exactRowCountFor(table, version, _))
        Some((n, StructField("count_star", LongType, nullable = false)))
      case ("count", Some(f)) =>
        cat.statsNonNullCount(table, version, f.name, scope).map(n =>
          (n, StructField(s"count_${f.name}", LongType, nullable = false)))
      case (side, Some(f)) =>
        // per SIDE: min can answer while max refuses (a vectored file
        // may attain only one extreme)
        val (mn, mx) = cat.statsMinMax(table, version, f.name, f.dataType, scope)
        (if (side == "max") mx else mn).map(v =>
          (v, StructField(s"${side}_${f.name}", f.dataType)))
    }
    if (resolved.contains(None)) None
    else Some(new GraftCountStarScan(StructType(resolved.flatten.map(_._2)),
      resolved.flatten.map(_._1)))
  }

  /** The data files the real scan would read (post partition pruning) —
    * None when its partitions are not file-shaped. */
  private def survivingFiles(): Option[Seq[String]] = {
    val files = scan().toBatch.planInputPartitions().toSeq.map {
      case fp: FilePartition => Some(fp.files.toSeq)
      case k: GraftKeyedPartition => Some(k.delegate.files.toSeq)
      case _ => None
    }
    if (files.contains(None)) None
    else Some(files.flatten.flatten
      .map(f => GraftFileSkipping.plainPath(f.filePath.toString)).distinct)
  }

  override def build(): Scan = metadata.getOrElse(scan())

  private def scan(): Scan = inner.build() match {
    case p: ParquetScan if vectored &&
        !p.readSchema().fieldNames.contains(RowIndexBridge.TemporaryColumnName) =>
      new GraftScan(p.copy(readDataSchema = p.readDataSchema
        .add(StructField(RowIndexBridge.TemporaryColumnName, LongType))),
        caps.sidecars, keyOf(p), caps.statsPath, planned)
    case other if vectored => throw new IllegalStateException(
      "GraftScan wraps Spark's ParquetScan (a column named " +
        s"'${RowIndexBridge.TemporaryColumnName}' also conflicts); got " +
        other.getClass.getName)
    case p: ParquetScan if !aggPushed && caps.keyLayout.isDefined =>
      keyOf(p).fold[Scan](p)(k =>
        new GraftScan(p, Nil, Some(k), caps.statsPath, planned))
    case p: ParquetScan if !aggPushed && (caps.statsPath.isDefined ||
        caps.partitioned && p.readPartitionSchema.nonEmpty) =>
      new GraftScan(p, Nil, None, caps.statsPath, planned)
    case other => other
  }

  /** The key the pruned scan can report: a bucket layout keys only when
    * its bucketed DATA column survived pruning (plus every identity
    * prefix column that did — fewer key components is always sound:
    * splits differing only in a dropped component share a key and Spark
    * groups them into one task); an identity layout only when EVERY
    * partition column survived (keys the plan cannot resolve would
    * break planning). */
  private def keyOf(p: ParquetScan): Option[GraftKeyLayout] = {
    def reads(s: StructType, c: String) = s.fieldNames.exists(_.equalsIgnoreCase(c))
    caps.keyLayout.flatMap {
      case GraftKeyLayout(ids, b @ Some((c, _))) =>
        if (!reads(p.readSchema(), c)) None
        else Some(GraftKeyLayout(ids.filter(reads(p.readPartitionSchema, _)), b))
      case k => if (k.identity.forall(reads(p.readPartitionSchema, _))) Some(k) else None
    }
  }
}

/** The one SQL-door scan over Spark's stock `ParquetScan`. Its split
  * pipeline: the stock scan's planned splits → index/bloom pass over the
  * planned conjuncts (the PLANNED state, frozen) → per runtime-filter
  * state, runtime partition keep → runtime bucket ids → index/bloom pass
  * over the runtime conjuncts → binned splits (unkeyed, unvectored) or
  * one split per file, keyed or not. Each state is computed once. Every
  * drop is whole-file and only removes rows the predicate excludes, so
  * key-grouped alignment and vectored row positions are unaffected; the
  * full predicate still evaluates above the scan.
  *
  *   - KEYED (storage-partitioned joins, SPARK-37377 — the mechanism
  *     Iceberg uses): each split carries its partition values (and, in
  *     bucket mode, the bucket id from its `_gbucket=<id>` dir) and the
  *     scan reports [[KeyGroupedPartitioning]]. A co-partitioned join or
  *     a GROUP BY on the key needs no shuffle; Spark groups same-key
  *     splits one task per key VALUE. The reported key count is the
  *     planned state's, so the partitioning stays stable across the
  *     runtime re-plan (`BatchScanExec` verifies the filtered keys).
  *   - VECTORED (Delta's row-index filter in V2 terms): each row's file
  *     position rides the parquet readers' generated row-index column
  *     (appended by the builder, projected away here), one file per
  *     split so the reader knows which file's vector applies, and the
  *     vectors ride a broadcast to row readers that drop vectored
  *     positions.
  *   - Runtime filters (stock DSv2 file scans have none): `IN`/`=` over
  *     partition columns drop splits by partition value, over the
  *     bucketed column hash to allowed bucket ids, and over INDEXED data
  *     columns ride the min/max + bloom pass (dynamic file pruning). */
class GraftScan(inner: ParquetScan, sidecars: Seq[String],
    key: Option[GraftKeyLayout], statsPath: Option[java.nio.file.Path],
    planned: GraftConjuncts)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering with SupportsReportPartitioning {

  private val vectored = sidecars.nonEmpty
  /** Reports [[KeyGroupedPartitioning]]. */
  def keyed: Boolean = key.isDefined

  private val pSchema = inner.readPartitionSchema
  private val keyOrdinals: Seq[Int] = key.toSeq.flatMap(_.identity).map(c =>
    pSchema.fieldNames.indexWhere(_.equalsIgnoreCase(c)))
  private val innerSchema = inner.readSchema()
  private val ridxOrdinal =
    innerSchema.fieldNames.indexOf(RowIndexBridge.TemporaryColumnName)

  override def readSchema(): StructType =
    if (vectored) StructType(innerSchema.fields.filterNot(
      _.name == RowIndexBridge.TemporaryColumnName))
    else innerSchema
  override def toBatch: Batch = this

  /** kept/total surfaces in EXPLAIN — the SQL-door queries' and tests'
    * pin; `total` is always the planned file count. */
  override def description(): String =
    if (vectored) s"GraftDvScan(${inner.description()})"
    else if (keyed && statsPath.isEmpty) s"GraftSpjScan(${inner.description()})"
    else {
      val (label, kept) =
        if (keyed) ("GraftSpjScan", plannedState._2) else ("GraftSkipScan", state._2)
      s"$label(kept=$kept of $totalFiles files, ${inner.description()})"
    }

  // memoized: re-requested at each AQE re-optimization, conjuncts fixed
  private lazy val tightened =
    GraftFileSkipping.tightenedStatistics(inner, statsPath, planned)
  override def estimateStatistics(): Statistics = tightened

  private lazy val plannedSplits: Array[PartitionedFile] =
    inner.toBatch.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"GraftScan expected file partitions, got $other")
    }
  private def paths(splits: Array[PartitionedFile]): Seq[String] =
    splits.map(f => GraftFileSkipping.plainPath(f.filePath.toString)).distinct.toSeq
  private lazy val totalFiles = paths(plannedSplits).size

  /** (kept splits, kept file count) after the index/bloom pass. */
  private def indexPass(splits: Array[PartitionedFile],
      c: GraftConjuncts): (Array[PartitionedFile], Int) = statsPath match {
    case Some(sp) if !c.isEmpty =>
      val cand = GraftFileSkipping.candidates(SparkSession.active, Some(sp),
        paths(splits), c).toSet
      (splits.filter(f =>
        cand.contains(GraftFileSkipping.plainPath(f.filePath.toString))), cand.size)
    case _ => (splits, paths(splits).size)
  }
  private lazy val plannedState = indexPass(plannedSplits, planned)

  override def filterAttributes(): Array[NamedReference] = {
    val indexed = statsPath.toSeq
      .flatMap(graft.storage.SkippingIndex.columnsAtCached)
      .filter(c => inner.readDataSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    (pSchema.fieldNames.toSeq ++ key.flatMap(_.bucket).map(_._1) ++ indexed)
      .distinct.map(Expressions.column).toArray
  }

  private var runtime = Array.empty[Predicate]
  private var current: Option[(Array[PartitionedFile], Int)] = None
  override def filter(predicates: Array[Predicate]): Unit =
    synchronized { runtime = predicates; current = None }

  private def state: (Array[PartitionedFile], Int) = synchronized {
    current.getOrElse {
      val s = if (runtime.isEmpty) plannedState else {
        val keep = GraftFileSkipping.runtimeKeep(runtime, pSchema)
        val buckets = GraftScan.allowedBuckets(runtime, inner.readSchema(),
          key.flatMap(_.bucket))
        val files = plannedState._1.filter(f => keep(f) &&
          buckets.forall(_.contains(GraftScan.bucketIdOf(f.filePath.toString))))
        indexPass(files, GraftFileSkipping.conjuncts(
          GraftFileSkipping.runtimeFilters(runtime, inner.readDataSchema),
          GraftFileSkipping.RuntimeBloomValues))
      }
      current = Some(s)
      s
    }
  }

  private def keyValues(f: PartitionedFile): Seq[Any] =
    keyOrdinals.map(o => f.partitionValues.get(o, pSchema(o).dataType)) ++
      key.flatMap(_.bucket).map(_ => GraftScan.bucketIdOf(f.filePath.toString))

  private lazy val distinctKeys = plannedState._1.map(keyValues).distinct.length

  override def outputPartitioning(): Partitioning = key match {
    case Some(k) => new KeyGroupedPartitioning((k.identity.map(Expressions.identity) ++
      k.bucket.map { case (c, n) => Expressions.bucket(n, c) }).toArray[VExpression],
      distinctKeys)
    case None => new UnknownPartitioning(0)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val files = state._1
    if (!vectored && !keyed) {
      val spark = SparkSession.active
      FilePartition.getFilePartitions(spark, files.toSeq,
        FilePartition.maxSplitBytes(spark, files.map(_.length).sum))
        .toArray[InputPartition]
    } else files.zipWithIndex.map { case (f, i) =>
      val fp = FilePartition(i, Array(f))
      if (keyed) GraftKeyedPartition(fp, new GenericInternalRow(keyValues(f).toArray))
      else fp
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (!vectored) new GraftUnwrapReaderFactory(inner.toBatch.createReaderFactory())
    else {
      val spark = SparkSession.active
      // the positions load onto the DRIVER once per scan — bounded, like
      // the engine read path's broadcast cap: a table that accumulated
      // more vector bytes than this needs compaction, not a driver OOM
      val bytes = sidecars.map(p =>
        java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum
      require(bytes <= GraftScan.MaxDriverVectorBytes,
        s"this table's deletion vectors total $bytes bytes — too large to " +
          "apply on the SQL scan path. Run OPTIMIZE (compaction " +
          "materializes the deletes and sheds the vectors), then re-query.")
      val dv: Map[String, Array[Long]] =
        graft.storage.FooterSchema.parquet(spark, sidecars: _*)
          .select("file", "pos").collect()
          .groupBy(r => GraftScan.baseName(r.getString(0)))
          .map { case (b, rows) => b -> rows.map(_.getLong(1)).distinct.sorted }
      new GraftDvReaderFactory(inner.toBatch.createReaderFactory(),
        spark.sparkContext.broadcast(dv), readSchema(), ridxOrdinal,
        innerSchema.length)
    }
}

object GraftScan {

  /** Bucket ids the runtime IN/= values over the bucketed DATA column
    * allow. None when any predicate shape/type is unrecognized, or the
    * spec's type has no bucket function (pre-validation tables) — then
    * nothing prunes; pruning is sound because a file in bucket b holds
    * ONLY values hashing to b. */
  private[spark] def allowedBuckets(runtimePreds: Array[Predicate],
      readSchema: StructType,
      bucketOf: Option[(String, Int)]): Option[Set[Int]] = bucketOf.flatMap {
    case (c, n) =>
      import org.apache.spark.sql.connector.expressions.{Literal => VLiteral}
      val colType = readSchema.fields
        .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        .getOrElse(return None)
      // a spec over a type the bucket function cannot hash (possible
      // only on tables written before the write-side validation) must
      // degrade to no-pruning, never crash the runtime re-plan
      if (!GraftBucketFunction.supports(colType)) return None
      val bucketer = new GraftBoundBucket(colType)
      val sets = runtimePreds.toSeq.map { p =>
        p.children().toSeq match {
          case Seq(ref: NamedReference, lits @ _*)
              if (p.name() == "IN" || p.name() == "=") &&
                ref.fieldNames.length == 1 &&
                ref.fieldNames.head.equalsIgnoreCase(c) && lits.nonEmpty &&
                lits.forall(_.isInstanceOf[VLiteral[_]]) =>
            val vs = lits.map(_.asInstanceOf[VLiteral[_]])
            if (vs.forall(l => l.dataType == colType && l.value != null))
              Some(vs.map(l => bucketer.produceResult(
                new GenericInternalRow(Array[Any](n, l.value))).toInt).toSet)
            else None
          case _ => None
        }
      }
      // conjunction: intersect the recognized predicates' bucket sets
      val known = sets.flatten
      if (known.isEmpty) None else Some(known.reduce(_ intersect _))
  }

  private val BucketDir =
    ("/" + java.util.regex.Pattern.quote(ParquetCatalog.BucketPartCol) +
      "=(\\d+)/").r

  /** Bucket id from a bucketed layout's file path — loud on anything
    * else (a bucket-declared table whose files lack the dir is a
    * corrupted layout; silently keying it 0 would mis-align a join). */
  private[spark] def bucketIdOf(path: String): Int =
    BucketDir.findFirstMatchIn(path).map(_.group(1).toInt).getOrElse(
      throw new IllegalStateException(
        s"bucketed table file carries no ${
          ParquetCatalog.BucketPartCol}=<id> component: $path"))

  private[spark] def baseName(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  /** Same order as the engine path's broadcast cap
    * (`ParquetCatalog.dvBroadcastBytes`). DOCUMENTED DIVERGENCE: above
    * this, the engine read path degrades to a shuffled anti-join while
    * the vectored SQL-door scan REFUSES loudly — a DSv2 reader factory
    * must materialize the positions driver-side (there is no shuffle to
    * degrade to), and a silent driver OOM would be worse than the
    * refusal. The remedy (OPTIMIZE / REORG PURGE) restores both doors. */
  private[spark] val MaxDriverVectorBytes: Long = 64L << 20
}

/** One stock file split plus the partition-value key Spark's
  * key-grouped exec aligns on. */
case class GraftKeyedPartition(delegate: FilePartition, key: InternalRow)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

/** Unwraps [[GraftKeyedPartition]] back to the stock split before
  * delegating — reads (row AND columnar) are the stock readers'. */
class GraftUnwrapReaderFactory(inner: PartitionReaderFactory)
  extends PartitionReaderFactory {

  private def unwrap(p: InputPartition): InputPartition = p match {
    case k: GraftKeyedPartition => k.delegate
    case other => other
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    inner.createReader(unwrap(p))

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    inner.createColumnarReader(unwrap(p))
}

class GraftDvReaderFactory(inner: PartitionReaderFactory,
    dv: Broadcast[Map[String, Array[Long]]], outSchema: StructType,
    ridxOrdinal: Int, innerWidth: Int) extends PartitionReaderFactory {

  /** Row readers only: the positional wrapper filters row by row. */
  override def supportColumnarReads(p: InputPartition): Boolean = false

  /** SPJ-keyed partitions unwrap back to their one-file split. */
  private def unwrap(p: InputPartition): FilePartition = p match {
    case k: GraftKeyedPartition => k.delegate
    case fp: FilePartition => fp
    case other => throw new IllegalStateException(
      s"GraftDvReaderFactory expected a file partition, got $other")
  }

  override def createReader(p0: InputPartition): PartitionReader[InternalRow] = {
    val p = unwrap(p0)
    val r = inner.createReader(p)
    val file = p.files.head.filePath.toString
    val pos = dv.value.getOrElse(GraftScan.baseName(file), Array.emptyLongArray)
    // project the wrapper-internal row-index column away (a mutable
    // view, the standard reader row-reuse contract)
    val out = ProjectingInternalRow(outSchema,
      (0 until innerWidth).filterNot(_ == ridxOrdinal))
    new PartitionReader[InternalRow] {
      override def next(): Boolean = {
        while (r.next()) {
          if (pos.isEmpty ||
              java.util.Arrays.binarySearch(pos,
                r.get().getLong(ridxOrdinal)) < 0) return true
        }
        false
      }
      override def get(): InternalRow = { out.project(r.get()); out }
      override def close(): Unit = r.close()
    }
  }
}
