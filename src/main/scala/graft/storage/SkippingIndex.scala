package graft.storage

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** File-level min/max data-skipping index — the Delta/Iceberg stats-file
  * pattern (reference surface: the lakehouse scan tier of SURVEY.md
  * §2.1) over explicit lists of Parquet files, persisted at an explicit
  * stats path ([[ParquetCatalog]] keeps one per table, next to its
  * manifests).
  *
  * Parquet already stores per-row-group column statistics in each file
  * FOOTER, so building the index reads metadata only — never data
  * pages. The footer reads are distributed (one Spark task per file
  * batch); what returns to the driver is index-sized (one row of
  * min/max per file·column), the same boundedness class as a probed
  * ANN list set. At 100 TB with ~1 GB files that is ~10⁵ tiny JSON
  * rows — driver-trivial — while the saved data scan is the whole
  * point: a range query over a [[ParquetCatalog.compact]]
  * `clusterBy`/`zorderBy` layout opens only the files whose [min,max]
  * intersects the predicate.
  *
  * Readers ([[ParquetCatalog.readRange]]) prune with the index, then
  * re-apply the predicate — the index is a file FILTER, never a truth
  * source, so a stale index can only over-read (and `writeAt` is atomic
  * via temp-file rename).
  */
object SkippingIndex {

  /** One file's stats for one column (values carried as strings with a
    * type tag so the JSON stays dependency-free). `nulls` is the EXACT
    * per-file null count when every chunk recorded one, −1 when
    * unknown (pre-r18 index files, or chunks without the stat) — what
    * lets a metadata `COUNT(col)` answer as rows − nulls. */
  final case class ColStats(column: String, typ: String, min: String, max: String,
      hasNulls: Boolean, nulls: Long = -1L) {
    // parsed ONCE per index generation (driver-side planning hot path
    // at ~10⁶ entries compares primitives, never re-parses strings per
    // query); NaN = unparseable, and every NaN comparison below is
    // false, so the conservative-keep shape `!(maxD < lo || minD > hi)`
    // keeps such files
    @transient lazy val minD: Double =
      try min.toDouble catch { case _: NumberFormatException => Double.NaN }
    @transient lazy val maxD: Double =
      try max.toDouble catch { case _: NumberFormatException => Double.NaN }
  }
  final case class FileStats(file: String, rows: Long, cols: Seq[ColStats])

  /** The SESSION's Hadoop configuration, the same resolution the stock
    * scan path uses — a bare `new Configuration()` would miss
    * filesystem settings (object-store credentials, custom schemes) and
    * silently turn every footer/bloom probe into a conservative miss.
    * Serializable-wrapped so the distributed passes can ship it. */
  private def hconf(spark: SparkSession): SerializableConfiguration =
    new SerializableConfiguration(spark.sessionState.newHadoopConf())

  /** The one distributed footer pass: `f` over each file's opened
    * footer reader, at most 32 tasks, with the session's Hadoop conf.
    * Results come back in `files` order; no job for an empty list. */
  private def footerPass[T: scala.reflect.ClassTag](spark: SparkSession,
      files: Seq[String])(f: (String, ParquetFileReader) => T): Seq[T] = {
    if (files.isEmpty) return Nil
    val conf = hconf(spark)
    spark.sparkContext.parallelize(files, math.max(1, math.min(files.size, 32)))
      .map { file =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new HPath(file), conf.value))
        try f(file, reader) finally reader.close()
      }.collect().toSeq
  }

  /** Footer-only row counts for explicit files (the REORG PURGE
    * deleted-fraction denominator) — one distributed footer read, no
    * data pages touched. */
  def rowCounts(spark: SparkSession, files: Seq[String]): Map[String, Long] =
    footerPass(spark, files)((f, reader) =>
      f -> reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum).toMap

  /** Footer-only stats for one file: per requested column, min of
    * row-group mins / max of row-group maxes. Runs inside a task. */
  private def readFooter(file: String, reader: ParquetFileReader,
      cols: Set[String]): FileStats = {
    val footer = reader.getFooter
    val blocks = footer.getBlocks.asScala
    val rows = blocks.map(_.getRowCount).sum
    val byCol = blocks.flatMap(_.getColumns.asScala)
      .filter(c => cols.contains(c.getPath.toDotString))
      .groupBy(_.getPath.toDotString)
    val stats = byCol.toSeq.sortBy(_._1).flatMap { case (name, chunks) =>
      val ss = chunks.map(_.getStatistics).filter(s =>
        s != null && s.hasNonNullValue)
      if (ss.isEmpty) None
      else {
        // The recorded type gates numeric pruning later: annotate
        // logical types (DECIMAL stores unscaled ints, DATE/TIME/
        // TIMESTAMP store epoch offsets) so a raw-physical-value
        // numeric compare against a user-unit predicate can never
        // wrongly prune — overlaps() only trusts plain INT32/INT64/
        // FLOAT/DOUBLE. The FULL annotation is kept (unit AND
        // isAdjustedToUTC for timestamps — `TIMESTAMP(MICROS,true)`,
        // never truncated at '('): a MILLIS- or NANOS-stored file, or
        // an NTZ one, must NOT be prunable by an epoch-micros
        // instant literal, and the pruners opt in per exact variant.
        val prim = ss.head.`type`()
        val ann = Option(prim.getLogicalTypeAnnotation)
          .map(a => ":" + a.toString).getOrElse("")
        val typ0 = prim.getPrimitiveTypeName.name() + ann
        // genericGetMin/Max are Comparable within one physical type
        val mins = ss.map(_.genericGetMin.asInstanceOf[Comparable[Any]])
        val maxs = ss.map(_.genericGetMax.asInstanceOf[Comparable[Any]])
        val mn = mins.reduce((a, b) => if (a.compareTo(b) <= 0) a else b)
        val mx = maxs.reduce((a, b) => if (a.compareTo(b) >= 0) a else b)
        // STRING stats are only PRUNABLE (and metadata-MIN/MAX-
        // answerable) when the UTF-8 decode round-trips byte-exactly:
        // Spark string columns can carry invalid UTF-8 (e.g.
        // CAST(binary AS STRING)), whose decode substitutes U+FFFD
        // and can shift the recorded min UP or max DOWN — a
        // byte-intersect against such bounds could wrongly drop files
        // holding real extreme values. Lossy stats demote to a tag no
        // pruner matches, so the files conservatively keep.
        val typ =
          if (typ0 == "BINARY:STRING" && !(utf8Exact(mn) && utf8Exact(mx)))
            "BINARY:STRING(lossy)"
          else typ0
        // conservative: a chunk with absent statistics or an unset
        // null count is UNKNOWN → treat as possibly-null
        val nulls = chunks.exists { c =>
          val st = c.getStatistics
          st == null || !st.isNumNullsSet || st.getNumNulls > 0
        }
        // exact null count only when EVERY chunk recorded one
        val exactNulls =
          if (chunks.forall { c =>
              val st = c.getStatistics; st != null && st.isNumNullsSet })
            chunks.map(_.getStatistics.getNumNulls).sum
          else -1L
        Some(ColStats(name, typ, render(mn), render(mx), nulls, exactNulls))
      }
    }
    FileStats(file, rows, stats)
  }

  private def render(v: Any): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other.toString
  }

  /** True when a footer Binary stat decodes to UTF-8 and re-encodes to
    * the SAME bytes — the condition under which the string-rendered
    * min/max preserve the column's unsigned-byte order. */
  private def utf8Exact(v: Any): Boolean = v match {
    case b: org.apache.parquet.io.api.Binary =>
      val bytes = b.getBytes
      java.util.Arrays.equals(bytes,
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ => false
  }

  /** Footer stats for EXPLICIT files WITHOUT touching any persisted
    * index: one distributed footer pass, zero data pages. The reader
    * behind [[writeAt]] and [[refreshAt]], and the
    * metadata-aggregate fallback for files the reconciled index no
    * longer covers (time-traveled versions). */
  def collectFor(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): Seq[FileStats] = {
    val wanted = cols.toSet
    footerPass(spark, files)((f, reader) => readFooter(f, reader, wanted))
      .sortBy(_.file)
  }

  /** Build + atomically persist the index for `cols` of EXPLICIT files
    * at an explicit stats-file location ([[ParquetCatalog]] keeps one
    * stats file per table next to its manifests, covering exactly the
    * current manifest's files). */
  def writeAt(spark: SparkSession, statsPath: java.nio.file.Path,
      files: Seq[String], cols: Seq[String]): Seq[FileStats] = {
    val stats = collectFor(spark, files, cols)
    persist(statsPath, stats)
    stats
  }

  /** Atomically persist PRE-COMPUTED stats (callers that already hold
    * footer stats — index migration, the planning rehearsal). */
  def persistStats(statsPath: java.nio.file.Path, stats: Seq[FileStats]): Unit =
    persist(statsPath, stats)

  private def persist(statsPath: java.nio.file.Path, stats: Seq[FileStats]): Unit = {
    val bytes = statsToBinary(stats)
    val tmp = statsPath.resolveSibling(
      s"._graft_stats-${System.nanoTime()}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, statsPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- compact binary encoding (r19) ---------------------------------
  //
  // The rehearsal (docs/SKIP_REHEARSAL.md) measured the cold JSON parse
  // at ~13 µs/entry — ~13 s for a 1M-file (under-compacted 100 TB)
  // table. This length-prefixed binary form decodes roughly an order
  // of magnitude faster and is ~40 % smaller; readers SNIFF the first
  // byte ('[' = legacy JSON, the magic otherwise), so indexes written
  // by earlier rounds — including /tmp scratch caches — stay readable
  // with no scratch-prefix rename. The filename keeps its historical
  // `.json` suffix; the suffix is a path contract, not a format one.

  private val BinMagic: Array[Byte] = "GFSTATS2".getBytes("UTF-8")

  private def statsToBinary(stats: Seq[FileStats]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(stats.size * 128 + 64)
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(bos, 1 << 16))
    def str(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b)
    }
    out.write(BinMagic)
    out.writeInt(stats.size)
    stats.foreach { fs =>
      str(fs.file)
      out.writeLong(fs.rows)
      // writeShort truncates silently past 65535 and would desync the
      // decode cursor, corrupting the whole persisted index — refuse
      // loudly at write time (no real table indexes 64k columns)
      require(fs.cols.size <= 0xFFFF,
        s"cannot persist skipping index: ${fs.file} carries " +
          s"${fs.cols.size} indexed columns (max 65535)")
      out.writeShort(fs.cols.size)
      fs.cols.foreach { c =>
        str(c.column); str(c.typ); str(c.min); str(c.max)
        out.writeBoolean(c.hasNulls); out.writeLong(c.nulls)
      }
    }
    out.flush()
    bos.toByteArray
  }

  /** Manual-cursor decode (no stream indirection): the cold path at
    * 10⁶ entries is dominated by string decoding, and `new String(…,
    * UTF_8)` over a length-prefixed slice uses the JDK's vectorized
    * decoder where `DataInputStream.readUTF` walks char by char. */
  private def binaryToStats(bytes: Array[Byte]): Seq[FileStats] = {
    var p = BinMagic.length
    def i32(): Int = {
      val v = ((bytes(p) & 0xff) << 24) | ((bytes(p + 1) & 0xff) << 16) |
        ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
      p += 4; v
    }
    def i64(): Long = { val hi = i32().toLong; val lo = i32().toLong & 0xffffffffL
      (hi << 32) | lo }
    def i16(): Int = {
      val v = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff); p += 2; v }
    def bool(): Boolean = { val v = bytes(p) != 0; p += 1; v }
    def str(): String = {
      val len = i32()
      val s = new String(bytes, p, len, java.nio.charset.StandardCharsets.UTF_8)
      p += len; s
    }
    val n = i32()
    // column names and type tags repeat across every file — intern them
    // so a 1M-entry index holds one string per distinct value
    val interned = new java.util.HashMap[String, String]()
    def intern(s: String): String = {
      val prev = interned.putIfAbsent(s, s); if (prev == null) s else prev
    }
    val out = Vector.newBuilder[FileStats]
    out.sizeHint(n)
    var i = 0
    while (i < n) {
      val file = str()
      val rows = i64()
      val nc = i16()
      val cols = new scala.collection.immutable.VectorBuilder[ColStats]
      var j = 0
      while (j < nc) {
        cols += ColStats(intern(str()), intern(str()), str(), str(),
          bool(), i64())
        j += 1
      }
      out += FileStats(file, rows, cols.result())
      i += 1
    }
    out.result()
  }

  /** Decode a persisted index in EITHER format: the r19 binary form
    * (magic-prefixed) or the legacy JSON array. */
  private def decodeStats(bytes: Array[Byte]): Seq[FileStats] =
    if (bytes.length >= BinMagic.length &&
        java.util.Arrays.equals(bytes, 0, BinMagic.length,
          BinMagic, 0, BinMagic.length))
      binaryToStats(bytes)
    else jsonToStats(new String(bytes, "UTF-8"))

  /** True when a persisted index exists at an explicit location. */
  def existsAt(statsPath: java.nio.file.Path): Boolean = Files.exists(statsPath)

  /** Incremental index maintenance for append-shaped writes (catalog
    * appends, streaming `foreachBatch` sinks) over an explicit file
    * list + stats location: entries for files still in the list
    * survive verbatim, files the index has not seen are footer-read,
    * entries for files no longer listed drop out. Cost tracks the
    * increment, never the table — the property that lets a micro-batch
    * sink keep the index fresh. With no index at `statsPath` yet, a
    * full [[writeAt]] over `cols`. */
  def refreshAt(spark: SparkSession, statsPath: java.nio.file.Path,
      files: Seq[String], cols: Seq[String] = Nil): Seq[FileStats] = {
    if (!Files.exists(statsPath)) {
      require(cols.nonEmpty, s"no index at $statsPath and no columns given")
      return writeAt(spark, statsPath, files, cols)
    }
    val prior = readAtCached(statsPath) // generation-cached: one parse per index rewrite
    // explicit columns UNION the prior index's set — a later
    // `graft.indexFor` declaration naming only B must not silently
    // stop collecting engine-indexed column A's stats for new files
    val useCols =
      (cols ++ prior.flatMap(_.cols.map(_.column))).distinct.sorted
    val currentSet = files.toSet
    val known = prior.filter(fs => currentSet.contains(fs.file))
    val knownSet = known.map(_.file).toSet
    val fresh = collectFor(spark, files.filterNot(knownSet.contains), useCols)
    // the file set did not move (a metadata-only commit): the persisted
    // index is already exact, so keep it and its generation
    if (fresh.isEmpty && known.size == prior.size) return prior
    val stats = (known ++ fresh).sortBy(_.file)
    persist(statsPath, stats)
    stats
  }

  /** Files whose footers carry NO parquet field ids at all — the files
    * a metadata-only column rename cannot cover (an id-mapped read
    * schema over a zero-id file is a loud reader error, so the rename
    * verb refuses until these are rewritten). One distributed footer
    * pass, no data pages. */
  def filesWithoutFieldIds(spark: SparkSession, files: Seq[String]): Seq[String] =
    footerPass(spark, files)((f, reader) => Option.when(
      !reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .exists(_.getId != null))(f)).flatten.sorted

  /** Files whose footers PHYSICALLY contain any of `cols` (top-level
    * name match, case-insensitive like Spark's resolution) — the files
    * that make a metadata-only re-add of a previously DROPPED column
    * unsound under by-name resolution: their old bytes would resurrect
    * as the "new" column's values. One distributed footer pass, no
    * data pages. */
  def filesContainingColumns(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): Seq[String] = {
    if (files.isEmpty || cols.isEmpty) return Nil
    val wanted = cols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    footerPass(spark, files)((f, reader) => Option.when(
      reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .exists(t => wanted.contains(t.getName.toLowerCase(java.util.Locale.ROOT))))(f))
      .flatten.sorted
  }

  /** Re-key one column's stats after a METADATA-ONLY column rename —
    * the files are untouched, so the recorded min/max stay valid under
    * the new name. */
  def renameColumn(statsPath: java.nio.file.Path, from: String, to: String): Unit = {
    val moved = readAt(statsPath).map { fs =>
      fs.copy(cols = fs.cols.map(c =>
        if (c.column == from) c.copy(column = to) else c))
    }
    persist(statsPath, moved)
  }

  /** Rewrite recorded file paths after a table-directory move —
    * metadata-only, no footer reads. Entries outside `from` pass
    * through unchanged (they drop out at the next reconcile). */
  def relocate(statsPath: java.nio.file.Path, from: String, to: String): Unit = {
    val moved = readAt(statsPath).map { fs =>
      if (fs.file.startsWith(from + "/"))
        fs.copy(file = to + fs.file.stripPrefix(from))
      else fs
    }
    persist(statsPath, moved)
  }

  /** The persisted index at an explicit stats location. */
  def readAt(statsPath: java.nio.file.Path): Seq[FileStats] = {
    require(Files.exists(statsPath),
      s"no skipping index at $statsPath — run SkippingIndex.writeAt first")
    decodeStats(Files.readAllBytes(statsPath))
  }

  /** Parsed-index cache keyed by (path, size, mtime). Sound because
    * data files are IMMUTABLE (version-nonce names): a stale snapshot
    * can only be stale in the direction the index contract already
    * covers (files it has not seen are unconditional candidates, files
    * no longer listed drop out at reconcile) — and every real index
    * rewrite lands via atomic rename, changing the mtime key anyway.
    * The JSON parse is the dominant per-query planning cost at scale
    * (~1 s at 100k files, docs/SKIP_REHEARSAL.md); paying it once per
    * INDEX GENERATION instead of once per query keeps the SQL door's
    * driver-side planning flat. Bounded at [[CacheCap]] generations. */
  private val CacheCap = 32
  /** One column's stats across the generation's files, COLUMNAR: the
    * candidate pass at 10⁶ entries is a tight primitive loop over
    * these, not a per-file walk of per-column objects. Missing stats
    * leave NaN bounds / null typ / nullOrAbsent=true — every gap reads
    * as "keep". */
  private final case class ColArrays(minD: Array[Double], maxD: Array[Double],
      typ: Array[String], numeric: Array[Boolean], nullOrAbsent: Array[Boolean],
      // UTF-8 bytes of min/max, populated ONLY for `BINARY:STRING`
      // stats (null elsewhere) — the r19 string-skipping channel;
      // unsigned byte order is both Spark's UTF8String order and
      // parquet's declared STRING sort order
      minB: Array[Array[Byte]], maxB: Array[Array[Byte]])
  /** One parsed generation: stats (API form), the file → array-row
    * index, per-file row counts, the distinct indexed column names,
    * and the columnar planning arrays — all built once per index
    * rewrite, amortized over every query against the generation. The
    * row index is what makes per-query planning O(caller's files):
    * a partition-pruned split list looks its files up directly, never
    * walking all n index entries (the r19 1M-file warm residual). */
  private final case class CachedIndex(stats: Seq[FileStats],
      rowIndex: java.util.HashMap[String, Integer], rows: Array[Long],
      columns: Seq[String],
      cols: java.util.HashMap[String, ColArrays])
  private val parsedCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), CachedIndex]()

  private def cachedIndex(statsPath: java.nio.file.Path): CachedIndex = {
    require(Files.exists(statsPath),
      s"no skipping index at $statsPath — run SkippingIndex.writeAt first")
    val key = (statsPath.toString, Files.size(statsPath),
      Files.getLastModifiedTime(statsPath).toMillis)
    val hit = parsedCache.get(key)
    if (hit != null) return hit
    val parsed = decodeStats(Files.readAllBytes(statsPath))
    val n = parsed.size
    val rowIndex = new java.util.HashMap[String, Integer](n * 2)
    val rows = new Array[Long](n)
    val cols = new java.util.HashMap[String, ColArrays]()
    var i = 0
    parsed.foreach { s =>
      rowIndex.put(s.file, i)
      rows(i) = s.rows
      s.cols.foreach { cs =>
        var ca = cols.get(cs.column)
        if (ca == null) {
          ca = ColArrays(Array.fill(n)(Double.NaN), Array.fill(n)(Double.NaN),
            new Array[String](n), new Array[Boolean](n), Array.fill(n)(true),
            new Array[Array[Byte]](n), new Array[Array[Byte]](n))
          cols.put(cs.column, ca)
        }
        ca.minD(i) = cs.minD; ca.maxD(i) = cs.maxD; ca.typ(i) = cs.typ
        ca.numeric(i) = numericType(cs.typ); ca.nullOrAbsent(i) = cs.hasNulls
        // the U+FFFD guard covers PRE-r20 persisted entries, written
        // before lossy decodes were demoted at build time: a stat that
        // may have passed through replacement-substitution cannot bound
        // the column's byte order (a real string containing U+FFFD just
        // keeps its files — conservative only)
        if (cs.typ == "BINARY:STRING" &&
            cs.min.indexOf('�') < 0 && cs.max.indexOf('�') < 0) {
          ca.minB(i) = cs.min.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          ca.maxB(i) = cs.max.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
      }
      i += 1
    }
    val columns = {
      val ks = new java.util.ArrayList(cols.keySet())
      java.util.Collections.sort(ks)
      ks.asScala.toSeq
    }
    val entry = CachedIndex(parsed, rowIndex, rows, columns, cols)
    // evict superseded generations of the same path, then cap hard —
    // by SINGLE victims, never clear(): dropping every hot table's
    // parsed arrays at once would re-pay the full decode+array build
    // per table on its next query (a latency cliff in sessions
    // scanning many indexed tables)
    parsedCache.keySet.removeIf(k => k._1 == key._1 && k != key)
    if (parsedCache.size >= CacheCap) {
      val it = parsedCache.keySet().iterator()
      while (parsedCache.size >= CacheCap && it.hasNext) {
        val k = it.next(); if (k != key) it.remove()
      }
    }
    parsedCache.put(key, entry)
    entry
  }

  /** [[readAt]] through the generation cache. */
  def readAtCached(statsPath: java.nio.file.Path): Seq[FileStats] =
    cachedIndex(statsPath).stats

  /** Physical types whose raw min/max ARE the logical values, so a
    * double-range intersect is sound. Everything else — BINARY/string
    * (lexicographic order, "10" < "9"), DECIMAL (unscaled ints),
    * DATE/TIMESTAMP (epoch offsets), FIXED_LEN_BYTE_ARRAY —
    * conservatively keeps the file: the index may only over-read,
    * never wrongly prune. An INT(width,signed) annotation is still the
    * raw value, so it stays prunable. */
  private def numericType(typ: String): Boolean = typ match {
    case "INT32" | "INT64" | "FLOAT" | "DOUBLE" => true
    case t => (t.startsWith("INT32:INT") || t.startsWith("INT64:INT"))
  }

  private def overlaps(cs: ColStats, lo: Double, hi: Double): Boolean =
    if (!numericType(cs.typ)) true
    // NaN (unparseable) compares false on both sides → conservative keep
    else !(cs.maxD < lo || cs.minD > hi)

  /** Files whose [min,max] intersects every `(column, lo, hi)`
    * predicate's range (numeric compare for numeric physical types;
    * files without stats for a column are conservatively KEPT). Over a
    * [[ParquetCatalog.compact]] `zorderBy` layout each file is a
    * hypercube in bucket space, so every predicated dimension prunes —
    * the property a single-column lexicographic cluster only has for
    * its leading column (SkippingSpec measures the difference).
    * Reconciles the index against the live list: files the index
    * has not seen are unconditional candidates (conservative keep — a
    * stale index must over-read, never drop rows), and indexed files no
    * longer listed drop out entirely. With `keepNullsOf` set, files
    * whose stats flag possible NULLs of that column (or carry no stats
    * for it) are kept regardless of range — the merge match probe's
    * requirement, since NULL keys fall outside every [lo,hi]. */
  def candidateFilesAt(statsPath: java.nio.file.Path, files: Seq[String],
      preds: Seq[(String, Double, Double)],
      keepNullsOf: Option[String] = None): Seq[String] =
    candidateFilesTyped(statsPath, files,
      preds.map(p => (p._1, p._2, p._3, Set.empty[String])), keepNullsOf)

  /** [[candidateFilesAt]] for predicates that ADDITIONALLY name the
    * exact stats types they may prune beyond the plain numerics — the
    * catalyst-literal path: a `DATE`/`TIMESTAMP` literal is already in
    * the column's raw physical units (epoch days / micros), so a
    * raw-value compare against `INT32:DATE` / `INT64:TIMESTAMP`
    * min/max is sound THERE, while engine callers passing user-unit
    * doubles keep the conservative refusal. */
  def candidateFilesTyped(statsPath: java.nio.file.Path, files: Seq[String],
      preds: Seq[(String, Double, Double, Set[String])],
      keepNullsOf: Option[String] = None,
      strPreds: Seq[(String, Option[String], Option[String])] = Nil): Seq[String] = {
    val entry = cachedIndex(statsPath)
    // O(caller's files) planning (r20): iterate the (already
    // partition-pruned) live list and look each file up in the
    // generation's row index — never a pass over all n index entries.
    // A 1-of-200-partitions query over a 1M-file table plans in
    // O(kept) — the complexity a per-partition index shard would give,
    // without giving up the single atomically-replaced stats file.
    // Semantics unchanged: a column the generation never indexed
    // constrains nothing, a file without stats has NaN bounds (NaN
    // compares false → keep), unindexed files are unconditional
    // candidates, and a nullKeep-flagged file skips range pruning.
    val nullKeep: Array[Boolean] = keepNullsOf match {
      case Some(c) =>
        val ca = entry.cols.get(c)
        if (ca == null) null // column never indexed → every file keeps
        else ca.nullOrAbsent
      case None => null
    }
    val constrained = keepNullsOf.isEmpty || nullKeep != null
    // resolve each predicate's column arrays ONCE, outside the file loop
    val numPreds =
      if (!constrained) IndexedSeq.empty
      else preds.flatMap { case (column, lo, hi, rawTypes) =>
        Option(entry.cols.get(column)).map(ca => (ca, lo, hi, rawTypes))
      }.toIndexedSeq
    // string ranges: unsigned UTF-8 byte intersect against
    // `BINARY:STRING` stats ONLY (raw binary/decimal stats stay
    // unprunable); missing bytes (absent stats, other types) keep
    val strP =
      if (!constrained) IndexedSeq.empty
      else strPreds.flatMap { case (column, lo, hi) =>
        Option(entry.cols.get(column)).map(ca => (ca,
          lo.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          hi.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      }.toIndexedSeq
    val out = Vector.newBuilder[String]
    files.foreach { f =>
      val idx = entry.rowIndex.get(f)
      if (idx == null) out += f // unindexed → unconditional candidate
      else {
        val j = idx.intValue
        var keep = true
        if (nullKeep == null || !nullKeep(j)) {
          var i = 0
          while (keep && i < numPreds.length) {
            val (ca, lo, hi, rawTypes) = numPreds(i)
            val t = ca.typ(j)
            if (t != null && (ca.numeric(j) || rawTypes.contains(t)) &&
                (ca.maxD(j) < lo || ca.minD(j) > hi)) keep = false
            i += 1
          }
          i = 0
          while (keep && i < strP.length) {
            val (ca, loB, hiB) = strP(i)
            if (ca.typ(j) == "BINARY:STRING" && ca.minB(j) != null) {
              val below = loB.exists(b =>
                java.util.Arrays.compareUnsigned(ca.maxB(j), b) < 0)
              val above = hiB.exists(b =>
                java.util.Arrays.compareUnsigned(ca.minB(j), b) > 0)
              if (below || above) keep = false
            }
            i += 1
          }
        }
        if (keep) out += f
      }
    }
    out.result().sorted
  }

  // ---- O(1)/O(kept) cached per-generation views (r20) -----------------
  //
  // The scan wrappers used to rebuild O(n) structures PER QUERY from
  // `readAtCached` (a 1M-entry rows map for estimates, a full column
  // flatMap for runtime-filter attributes, a full file→stats map for
  // the metadata folds). These accessors serve the same answers from
  // the generation cache in O(1) per file / O(1) per call.

  /** The generation's distinct indexed column names (sorted). */
  def columnsAtCached(statsPath: java.nio.file.Path): Seq[String] =
    cachedIndex(statsPath).columns

  /** One RESOLVED generation for bulk per-file lookups: the
    * (path, size, mtime) cache key — three filesystem calls — is
    * computed ONCE here, then every lookup is a single hash probe. A
    * metadata COUNT fold over a 1M-file version must not pay the key
    * computation per file. */
  final class GenerationView private[SkippingIndex] (entry: CachedIndex) {
    /** One file's footer row count, when the generation indexes it. */
    def rowCount(file: String): Option[Long] = {
      val idx = entry.rowIndex.get(file)
      if (idx == null) None else Some(entry.rows(idx.intValue))
    }
    /** One file's full index entry, when the generation indexes it. */
    def fileStats(file: String): Option[FileStats] = {
      val idx = entry.rowIndex.get(file)
      if (idx == null) None else Some(entry.stats(idx.intValue))
    }
  }

  /** Bulk-lookup view of the cached generation at `statsPath`. */
  def viewAtCached(statsPath: java.nio.file.Path): GenerationView =
    new GenerationView(cachedIndex(statsPath))

  // ---- point-lookup pruning via parquet's NATIVE bloom filters ------
  //
  // min/max stats cannot prune an equality probe on a high-cardinality
  // column under a random (non-clustered) layout: every file's range
  // spans the key space. Parquet's own bloom filters (written when the
  // writer sets `parquet.bloom.filter.enabled#<col>`,
  // [[ParquetCatalog]]'s `bloomFor`) answer "might this file contain
  // value v" from a footer-adjacent structure — no data pages. At
  // 100 TB a point lookup on a bloom-indexed key opens ~1 file + false
  // positives instead of the table. Advisory like the min/max index: a
  // kept file is re-filtered, a missing/unreadable filter keeps the
  // file, so pruning can only over-read.

  /** Driver-side probe: does `file` carry a bloom filter for `column`
    * in ANY row group? One footer read — what lets a read path decide
    * whether a distributed [[bloomCandidatesAny]] pass can pay off before
    * launching it (files written by the same `bloomFor` catalog all
    * carry the filter; a bloom-less table skips the job entirely).
    * Reads with the SESSION's Hadoop conf, like the scan path — any
    * probe failure degrades to false (no bloom pass), never an error. */
  def hasBloomFilter(spark: SparkSession, file: String, column: String): Boolean =
    try {
      val in = HadoopInputFile.fromPath(new HPath(file),
        spark.sessionState.newHadoopConf())
      val reader = ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.asScala.exists { block =>
          block.getColumns.asScala.find(_.getPath.toDotString == column)
            .exists(cmd =>
              reader.getBloomFilterDataReader(block).readBloomFilter(cmd) != null)
        }
      } finally reader.close()
    } catch { case _: Exception => false }

  /** Files whose bloom filter (any row group) might contain ANY of
    * `values` in `column` — distributed footer+bloom reads (footers
    * open once per file, all values checked against the same filters),
    * sorted candidate list back. Files without a bloom filter for the
    * column are KEPT. */
  def bloomCandidatesAny(spark: SparkSession, files: Seq[String],
      column: String, values: Seq[Any]): Seq[String] =
    if (values.isEmpty) files
    else footerPass(spark, files)((f, reader) =>
      Option.when(bloomMightContainAny(reader, column, values))(f)).flatten.sorted

  /** One file's verdict: false ONLY when every row group has a bloom
    * filter for the column and none might contain any of the values.
    * Runs inside a task. */
  private def bloomMightContainAny(reader: ParquetFileReader, column: String,
      values: Seq[Any]): Boolean =
    reader.getFooter.getBlocks.asScala.exists { block =>
      block.getColumns.asScala.find(_.getPath.toDotString == column) match {
        case None => true // column absent from this file: keep
        case Some(cmd) =>
          val bf = reader.getBloomFilterDataReader(block).readBloomFilter(cmd)
          if (bf == null) true // no filter written: keep
          else values.exists(v => bloomHash(cmd, bf, v).forall(bf.findHash))
      }
    }

  /** A decimal point-lookup value: the UNSCALED long plus the (p,s) it
    * was scaled under. [[bloomHash]] probes it only against a column
    * chunk whose DECIMAL annotation matches variant-exactly — a file
    * with a different scale (absorbed external parquet carrying its own
    * blooms) stores different unscaled values for the same logical
    * number, and probing it with mis-scaled longs would wrongly prune;
    * the mismatch keeps the file, mirroring the min/max tag gate. */
  final case class DecimalPoint(unscaled: Long, precision: Int, scale: Int)

  /** The hash must be computed over the column's PHYSICAL type —
    * hashing a Long against an INT32 column would wrongly prune — so
    * coerce, or return None (= keep the file) when impossible. Plain
    * numeric probes additionally refuse DECIMAL-annotated chunks (their
    * ints are unscaled values in different units). */
  private def bloomHash(
      cmd: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      value: Any): Option[Long] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      DecimalLogicalTypeAnnotation => DecAnn}
    val ann = cmd.getPrimitiveType.getLogicalTypeAnnotation
    (cmd.getPrimitiveType.getPrimitiveTypeName, value) match {
      case (pt, dp: DecimalPoint) => ann match {
        case d: DecAnn
            if d.getPrecision == dp.precision && d.getScale == dp.scale =>
          pt match {
            case INT64 => Some(bf.hash(dp.unscaled))
            case INT32 if dp.unscaled.isValidInt =>
              Some(bf.hash(dp.unscaled.toInt))
            case _ => None
          }
        case _ => None
      }
      case (_, _: Number) if ann.isInstanceOf[DecAnn] => None
      case (INT64, n: Number) => Some(bf.hash(n.longValue()))
      case (INT32, n: Number)
          if n.longValue().isValidInt => Some(bf.hash(n.intValue()))
      case (DOUBLE, n: Number) => Some(bf.hash(n.doubleValue()))
      case (FLOAT, n: Number) => Some(bf.hash(n.floatValue()))
      case (BINARY, s: String) =>
        Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(s)))
      case _ => None
    }
  }

  // ---- legacy JSON reader ----

  /** Minimal parser for the legacy JSON index (pre-r19 writers): an
    * array of `{"file","rows","cols":[{"column","typ","min","max",
    * "hasNulls","nulls"}]}` objects. */
  private def jsonToStats(json: String): Seq[FileStats] = {
    // split objects at top level of the array by tracking depth/strings
    def splitObjects(s: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var depth = 0; var start = -1; var inStr = false; var escp = false
      s.zipWithIndex.foreach { case (ch, i) =>
        if (inStr) {
          if (escp) escp = false
          else if (ch == '\\') escp = true
          else if (ch == '"') inStr = false
        } else ch match {
          case '"' => inStr = true
          case '{' => depth += 1; if (depth == 1) start = i
          case '}' => depth -= 1; if (depth == 0) { out += s.substring(start, i + 1) }
          case _ =>
        }
      }
      out.result()
    }
    def field(obj: String, name: String): String = {
      val k = "\"" + name + "\":"
      val i = obj.indexOf(k)
      require(i >= 0, s"missing $name in $obj")
      val rest = obj.substring(i + k.length)
      if (rest.startsWith("\"")) {
        // string value with escapes
        val sb = new StringBuilder; var j = 1; var done = false
        while (!done) {
          rest.charAt(j) match {
            case '\\' =>
              rest.charAt(j + 1) match {
                case 'n' => sb += '\n'; case 'r' => sb += '\r'
                case 't' => sb += '\t'
                case 'u' =>
                  sb += Integer.parseInt(rest.substring(j + 2, j + 6), 16).toChar
                  j += 4
                case c => sb += c
              }
              j += 2
            case '"' => done = true
            case c => sb += c; j += 1
          }
        }
        sb.toString()
      } else rest.takeWhile(c => c != ',' && c != '}' && c != ']').trim
    }
    // file-level objects contain a nested "cols" array; isolate it first
    splitObjects(json).flatMap { outer =>
      // only top-level file objects have a "rows" field
      if (!outer.contains("\"rows\":")) None
      else {
        val colsStart = outer.indexOf("\"cols\":")
        val colsJson = outer.substring(colsStart)
        val cols = splitObjects(colsJson).map { c =>
          ColStats(field(c, "column"), field(c, "typ"),
            field(c, "min"), field(c, "max"), field(c, "hasNulls") == "true",
            // absent in pre-r18 index files → unknown
            if (c.contains("\"nulls\":")) field(c, "nulls").toLong else -1L)
        }
        Some(FileStats(field(outer.substring(0, colsStart), "file"),
          field(outer.substring(0, colsStart), "rows").toLong, cols))
      }
    }
  }
}
