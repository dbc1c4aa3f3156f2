package graft.storage

import graft.operators.Upsert
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructType}
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Partitioned-Parquet table catalog — the storage module of SURVEY.md
  * §7.1: named tables as partitioned directories, the reference's Delta
  * lakehouse surface (K1 partitioned overwrite
  * `bronze_to_silver_transformation.py:935-941`, S6/S7 catalog scans,
  * S8 latest-partition reads) without a Delta jar.
  *
  * One table format, like Delta's: every table is a chain of manifest
  * snapshots under `<root>/.versions/<table>`. Every committed version
  * is an immutable MANIFEST — a file list over a shared, write-once
  * `data/` tree — and committing is atomically creating `vN.manifest`
  * with a create-exclusive primitive. Writes stage into
  * `<root>/.tmp-<table>-<nonce>` and move their files into `data/`
  * before the commit. This single mechanism provides
  *   - time travel (any retained manifest resolves to a consistent
  *     file set; data files are write-once),
  *   - zero-copy version sharing (a partition-scoped merge's new
  *     manifest RE-REFERENCES the untouched partitions' files — no
  *     links, no copies: pure metadata, which is also the only form
  *     object storage supports),
  *   - optimistic concurrency (two writers that both read version N
  *     race to create `v(N+1).manifest`; exactly one wins, the loser
  *     gets [[ConcurrentWriteException]] instead of silently clobbering
  *     — Delta's commit protocol, which the reference's MERGE surface
  *     sits on).
  * Locally the create-exclusive primitive is a hard link of a
  * fully-written temp file (atomic, content-complete, fails on
  * collision); on object storage the same call maps to a conditional
  * PUT (S3 If-None-Match, GCS if-generation-match:0, ABFS
  * create-exclusive). No symlinks, no inode sharing — the layout is
  * substrate-portable by construction.
  *
  * A plain hive directory at `<root>/<table>` (the layout older builds
  * wrote) becomes version 1 of a manifest table, op `migrate`, the
  * first time anything touches the name ([[migrateIfPlain]]).
  *
  * Superseded files stay on disk until [[vacuum]] drops the versions
  * that list them, as in Delta.
  *
  * At 100 TB: partition columns make every downstream equality filter a
  * partition-pruned scan; a merge that touches one of 365 partitions
  * commits a manifest re-listing the other 364 partitions' files
  * untouched — O(delta) data written, O(files) metadata lines. Tables
  * are written zstd-compressed by default — ~2× the ratio of Spark's
  * snappy default at comparable scan speed; override `codec` for hot
  * tables where decode CPU dominates.
  *
  * Metadata amortization: APPEND commits (the high-rate verb — the
  * streaming sink) write DELTA manifests (`base=N` + added entries,
  * O(delta) bytes) with a self-contained snapshot every
  * [[ParquetCatalog.SnapshotInterval]] commits bounding the resolution
  * chain — Delta's add-actions-between-checkpoints trade. Rewriting
  * verbs (overwrite, merge, delete) stay self-contained: their file
  * lists change wholesale, so a delta buys nothing. Readers always see
  * snapshot semantics ([[manifest]] resolves the chain); `vacuum`
  * materializes a retained delta in place before dropping its base.
  */
/** One touched partition: its typed values (for a partition-pruned
  * predicate) and its hive relative path (the partition component its
  * files carry in the manifest). */
private[storage] final case class PartSlot(values: Seq[Any], relPath: String)

final class ParquetCatalog(spark: SparkSession, root: String,
    codec: String = "zstd", bloomFor: Seq[String] = Nil,
    bloomNdv: Long = 100000L) {
  import ParquetCatalog.{Append, Carry, FastForward, FileSet, Listed, Restage, Staged}

  /** Every catalog parquet read goes through here: column mapping
    * rides parquet FIELD IDs, resolved by
    * [[graft.spark.GraftParquetFileFormat]] — the flag is scoped to
    * the catalog's own relations, never set on the session, so
    * non-graft reads keep their default by-name semantics. Inert for
    * schemas without ids. The schema is `schema` (a manifest's recorded
    * one) when given, else the footer schema Spark's inference would
    * find, resolved on the driver without a job ([[FooterSchema]]);
    * `basePath` keeps hive partition columns on leaf-file reads. */
  private def catLoad(schema: Option[StructType], paths: Seq[String],
      basePath: Option[Path] = None): DataFrame = {
    val reader = schema.orElse(FooterSchema.resolve(spark, paths))
      .fold(spark.read)(spark.read.schema)
      .format(classOf[graft.spark.GraftParquetFileFormat].getName)
    basePath.fold(reader)(b => reader.option("basePath", b.toString))
      .load(paths: _*)
  }

  /** The `basePath` a table's leaf-file reads need. */
  private def partBase(name: String, m: TableManifest): Option[Path] =
    if (m.partitionBy.isEmpty) None else Some(dataDir(name))

  /** Where an older build kept the table as a plain directory — read
    * by [[migrateIfPlain]] only. */
  private def tableDir(name: String): Path = {
    ParquetCatalog.requireValidName(name)
    Paths.get(root, name)
  }

  /** Writer options every catalog write carries: compression, plus
    * parquet NATIVE bloom filters for `bloomFor` columns (sized by the
    * expected per-file distinct count `bloomNdv`) — the point-lookup
    * skipping structure [[readPoint]] prunes with. Table-aware: the
    * constructor knobs are unioned with the TABLE's own
    * `graft.bloomFor` / `graft.bloomNdv` TBLPROPERTIES, the SQL-door
    * spelling (`CREATE TABLE ... TBLPROPERTIES` + `INSERT INTO` yields
    * bloomed files with zero engine API). */
  private def writeOpts[T](name: String,
      w: org.apache.spark.sql.DataFrameWriter[T]):
      org.apache.spark.sql.DataFrameWriter[T] = {
    val (cols, ndv) = effectiveBlooms(name)
    cols.foldLeft(w.option("compression", codec)
      // pin footer-statistics truncation OFF for every graft-staged
      // file (a session hadoop conf could otherwise enable it): this
      // is what lets [[statsMinMax]] treat a graft-staged file's
      // BINARY stats as EXACT values, never adjusted bounds
      .option("parquet.statistics.truncate.length",
        Integer.MAX_VALUE.toString)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
  }

  /** Bloom columns/NDV in effect for `name`: constructor settings ∪
    * the table's declared properties. */
  private def effectiveBlooms(name: String): (Seq[String], Long) = {
    val props = tableProperties(name)
    val extra = props.get(ParquetCatalog.BloomForProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val ndv = props.get(ParquetCatalog.BloomNdvProp)
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(bloomNdv)
    ((bloomFor ++ extra).distinct, ndv)
  }

  /** True when `name` has a committed version. */
  def exists(name: String): Boolean =
    ParquetCatalog.isValidName(name) && versions(name).nonEmpty

  /** ALTER TABLE RENAME: a metadata-only move of the table's
    * directory — manifests reference data files RELATIVE to the
    * versions dir, so ZERO bytes rewrite and the full version history,
    * time travel, txn registry, and constraints carry over under the
    * new name. The skipping index records absolute paths; those are
    * relocated textually (no footer reads). NOT safe against
    * concurrent writers (same contract as DROP TABLE — an in-flight
    * commit's staging moves out from under it): quiesce writers
    * first. */
  def renameTable(from: String, to: String): Unit = {
    // a dotted destination would create a table the registered V2
    // catalog can never address (it parses 'a.b' as namespace + name)
    require(!to.contains('.'),
      s"rename destination '$to' must be a bare table name (no '.')")
    ParquetCatalog.requireValidName(to)
    // CRASH ATOMICITY: the rename is a Files.move plus an index
    // relocation — a crash between them leaves the index pointing at
    // the old name. A JOURNAL written before the move makes the verb
    // resumable: re-running the SAME rename completes the move (only
    // while its source still exists) and the relocation, and the
    // journal is removed last. Without a matching
    // journal, an existing destination is a genuine collision and
    // refuses as before.
    val journal = Paths.get(root, ".rename-journal")
    // ONE journal snapshot: exists-then-read (and a re-read inside the
    // error message) would surface a concurrent resume's delete as an
    // unhandled NoSuchFileException instead of the collision message
    val journalContent: Option[String] =
      try Some(Files.readString(journal))
      catch { case _: java.io.IOException => None }
    val resuming =
      journalContent.exists(_.linesIterator.toSeq == Seq(from, to))
    require(exists(from) || resuming, s"no table $from")
    require(!exists(to) || resuming, s"table $to already exists")
    require(journalContent.isEmpty || resuming,
      "another rename's journal is pending at " + journal +
        s" (${journalContent.get.linesIterator.mkString(" -> ")}); " +
        "re-run that rename to complete it first")
    if (!resuming) {
      // create-exclusive claim (same primitive as the manifest CAS): a
      // concurrent rename racing this one must LOSE loudly, not replace
      // the journal and leave the first rename unrecoverable
      val tmp = Paths.get(root, s".rename-tmp-${nonce()}")
      Files.writeString(tmp, s"$from\n$to")
      try Files.createLink(journal, tmp)
      catch {
        case _: FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          throw new ConcurrentWriteException(
            s"another rename claimed $journal concurrently; re-run after it completes")
      }
      Files.deleteIfExists(tmp)
      ()
    }
    if (Files.exists(versionsDir(from))) {
      Files.createDirectories(versionsDir(to).getParent)
      Files.move(versionsDir(from), versionsDir(to), StandardCopyOption.ATOMIC_MOVE)
    }
    if (SkippingIndex.existsAt(statsPath(to)))
      SkippingIndex.relocate(statsPath(to),
        versionsDir(from).toString, versionsDir(to).toString)
    Files.deleteIfExists(journal)
    ()
  }

  /** Every table name under the root, sorted. Metadata-only: one
    * directory listing. */
  def tableNames: Seq[String] = {
    val p = Paths.get(root, ".versions")
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).filterNot(_.startsWith(".")).toList.sorted
      finally s.close()
    }
  }

  def read(name: String): DataFrame = readVersion(name, currentVersion(name))

  // ---- skipping-index lifecycle -------------------------------------
  //
  // Once a table is indexed (`index`), every catalog mutation keeps the
  // stats fresh automatically: appends/upserts/deletes run an
  // INCREMENTAL refresh (footer reads only for files the index has not
  // seen), and a full overwrite re-collects over the new files. The
  // index stays advisory — scans reconcile against the live file set
  // and re-apply predicates — so a missed refresh can only cost speed,
  // never rows. The stats live NEXT TO the manifests (one stats file per
  // table, reconciled against the current manifest's file list), so they
  // survive version commits and cover carried-over files without
  // re-reading their footers.

  /** Build (or rebuild) the file-level min/max skipping index for
    * `cols` — one distributed parquet-FOOTER pass, no data pages. */
  def index(name: String, cols: Seq[String]): Unit = {
    require(exists(name), s"no table $name")
    SkippingIndex.writeAt(spark, statsPath(name), manifestFilesAbs(name), cols)
    ()
  }

  /** The table's stats-file location. */
  def statsPath(name: String): Path =
    versionsDir(name).resolve("_graft_stats.json")

  private def manifestFilesAbs(name: String): Seq[String] = {
    val m = currentManifest(name)
    m.files.map(f => versionsDir(name).resolve(f).toString)
  }

  /** Columns the table's index covers (empty when unindexed). */
  private def indexCols(name: String): Seq[String] = {
    val stats =
      if (SkippingIndex.existsAt(statsPath(name)))
        SkippingIndex.readAt(statsPath(name)) else Nil
    stats.flatMap(_.cols.map(_.column)).distinct.sorted
  }

  /** Incrementally reconcile the index with the table's current files
    * — [[commit]] runs it after every version it creates.
    * No-op for unindexed tables UNLESS the table declares
    * `graft.indexFor` — then the first reconcile CREATES the index on
    * the declared columns, making a pure-SQL table lifecycle
    * (`CREATE TABLE ... TBLPROPERTIES('graft.indexFor'='id')` +
    * `INSERT INTO`) self-indexing with zero engine API. The declared
    * set also feeds incremental refreshes, so later property changes
    * pick up new columns for files indexed from then on. */
  private def refreshIndex(name: String): Unit = {
    val declared = declaredCols(name, ParquetCatalog.IndexForProp)
    if (SkippingIndex.existsAt(statsPath(name)) || declared.nonEmpty) {
      SkippingIndex.refreshAt(spark, statsPath(name),
        manifestFilesAbs(name), declared); ()
    }
  }

  /** Index-accelerated range read: conjunctive `(column, lo, hi)`
    * predicates open only the files whose [min,max] intersects (plus
    * any not-yet-indexed files, conservatively) — the Delta/Iceberg
    * stats-pruned scan. Unindexed tables fall back to a plain scan with
    * the same predicates applied, so callers never branch. */
  def readRange(name: String, preds: Seq[(String, Double, Double)]): DataFrame =
    preds.foldLeft(prunedRead(name, preds, keepNullsOf = None)) {
      case (df, (c, lo, hi)) => df.filter(col(c) >= lo && col(c) <= hi)
    }

  /** The current version's files the skipping index cannot exclude for
    * `preds` (all of them when the table is unindexed), read WITHOUT
    * re-applying the predicates. With `keepNullsOf`, files that may hold
    * NULLs of that column are kept too (the merge match probe must see
    * null-keyed rows). */
  private def prunedRead(name: String, preds: Seq[(String, Double, Double)],
      keepNullsOf: Option[String]): DataFrame = {
    val m = currentManifest(name)
    val sp = statsPath(name)
    if (!SkippingIndex.existsAt(sp)) return readVersion(name, m.version)
    val abs = m.files.map(f => versionsDir(name).resolve(f).toString)
    val cand = SkippingIndex.candidateFilesAt(sp, abs, preds, keepNullsOf)
    // the SAME snapshot the candidates came from supplies the vectors —
    // a dv commit landing mid-call must not version-skew the read
    if (cand.isEmpty) readVersion(name, m.version).limit(0)
    else dvFilter(name, m, catLoad(recordedSchema(m), cand, partBase(name, m)))
  }

  /** A scoped op's `partitionBy` must agree with the manifest's
    * recorded layout (vacuously true when either side is unstated or
    * the table is empty): writing differently-shaped files into a
    * table would mix layouts a scoped rewrite cannot address. A layout
    * change is the explicit full `overwriteVersioned`. */
  private def requireManifestLayout(name: String, partitionBy: Seq[String],
      m: TableManifest): Unit =
    require(partitionBy.isEmpty || m.partitionBy.isEmpty ||
      m.files.isEmpty || partitionBy == m.partitionBy,
      s"$name's manifest records layout (${m.partitionBy.mkString(",")}) " +
        s"but the operation was given (${partitionBy.mkString(",")}); a " +
        "layout change requires a full overwriteVersioned")

  /** Names + types must match (order and nullability are free) — except
    * PARTITION columns, whose types may differ when (and only when) the
    * difference is a hive round-trip artifact: partition values live in
    * dir names, so a string-typed date column reads back as DATE
    * (Spark's partition-type inference), and an exact-type check would
    * reject a frame identical to the one that built the table. The
    * exemption is NARROW ([[partitionRenderCompatible]]): pairs whose
    * dir renderings diverge (timestamp vs date, double vs int) still
    * fail loudly, because writing them would silently split logical
    * partitions into differently-named dirs. */
  private def schemaMatches(current: DataFrame, incoming: DataFrame,
      partitionCols: Seq[String] = Nil): Boolean = {
    val pc = partitionCols.toSet
    val cur = current.schema.fields.map(f => f.name -> f.dataType).toMap
    val in = incoming.schema.fields.map(f => f.name -> f.dataType).toMap
    // the map collapses duplicate column names — a frame with duplicated
    // columns must fail HERE (clean drift error) rather than deep inside
    // Spark's writer, so the field counts must survive the collapse
    current.schema.fields.length == cur.size &&
    incoming.schema.fields.length == in.size &&
    cur.keySet == in.keySet && cur.keySet.forall { k =>
      cur(k) == in(k) || (pc(k) && partitionRenderCompatible(cur(k), in(k)))
    }
  }

  /** True when two partition-column types produce identical hive dir
    * strings for the same logical values — the only condition under
    * which a type difference is a harmless read-back artifact. String
    * pairs round-trip by construction (the dir name IS the string, and
    * inference derives the other type FROM those strings); integral
    * widths render identically ("5" is "5" at any width). Everything
    * else — timestamp vs date ("2024-01-01 00:00:00" vs "2024-01-01"),
    * double vs int ("1.0" vs "1") — renders different dir names for
    * the same logical partition and must keep failing loudly.
    *
    * Residual, inherent to hive layout: this is a TYPE check, so a
    * string frame carrying a non-canonical RENDERING of an inferred
    * value ("2024-1-1" against a table whose dirs say "2024-01-01",
    * "01" against int-inferred "1") still writes a second dir for the
    * same logical partition — no type-level check can see value-level
    * spellings. The inference-round-trip case the exemption targets
    * (re-appending the frame that built the table) is safe by
    * construction: those strings ARE the dir names. */
  private def partitionRenderCompatible(a: DataType, b: DataType): Boolean = {
    def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    a == StringType || b == StringType || (integral(a) && integral(b))
  }

  private def failSchemaDrift(name: String, current: DataFrame,
      incoming: DataFrame, partitionCols: Seq[String] = Nil): Nothing = {
    val pc = partitionCols.toSet
    val cur = current.schema.fields.map(f => f.name -> f.dataType).toMap
    val in = incoming.schema.fields.map(f => f.name -> f.dataType).toMap
    def dups(df: DataFrame): Seq[String] =
      df.schema.fields.groupBy(_.name).collect {
        case (n, fs) if fs.length > 1 => n
      }.toSeq.sorted
    val missing = (cur.keySet -- in.keySet).toSeq.sorted
    val extra = (in.keySet -- cur.keySet).toSeq.sorted
    val retyped = cur.keySet.intersect(in.keySet)
      .filter(k => cur(k) != in(k) &&
        !(pc(k) && partitionRenderCompatible(cur(k), in(k))))
      .toSeq.sorted.map(k => s"$k: ${cur(k).simpleString}->${in(k).simpleString}")
    val sections = Seq("missing" -> missing, "extra" -> extra,
      "retyped" -> retyped, "duplicated in incoming" -> dups(incoming),
      "duplicated in table" -> dups(current))
      .collect { case (l, vs) if vs.nonEmpty => s"$l: ${vs.mkString(",")}" }
    throw new IllegalArgumentException(
      s"append to $name rejected: schema drift (${sections.mkString("; ")}). " +
        "Pass evolveSchema = true to add/drop columns via union-by-name.")
  }

  /** The distinct partitions a merge delta touches: the delta's own
    * partitions ∪ the partitions of matched target keys. The match
    * probe is skipped entirely when every partition column is a merge
    * key, and joins NULL-SAFELY (a NULL merge key matches a NULL-keyed
    * source row, exactly as [[Upsert.merge]] resolves it). Partition
    * path strings come from Spark's own value-to-string cast — the
    * formatting the writer uses for dir names — never from JVM
    * `toString` (java.sql.Timestamp renders a trailing `.0` Spark
    * doesn't). */
  private def touchedPartitions(name: String, target: DataFrame,
      source: DataFrame, keys: Seq[String], pb: Seq[String]): Seq[PartSlot] = {
    val srcParts = source.select(pb.map(col): _*)
    val partsDf =
      if (pb.forall(keys.contains)) srcParts
      else {
        val matchable = matchScanFrame(name, source, keys, target)
        // a semi join needs no de-duplicated build side
        val srcKeys = source.select(keys.map(col): _*)
        val cond = keys.map(k => matchable(k) <=> srcKeys(k)).reduce(_ && _)
        srcParts.unionByName(
          matchable.join(broadcast(srcKeys), cond, "left_semi")
            .select(pb.map(col): _*))
      }
    collectSlots(partsDf.distinct(), pb)
  }

  /** The target frame the matched-key probe scans. When the table
    * carries a skipping index over one of the merge keys, the probe is
    * pruned to the files whose [min,max] for that key intersects the
    * delta's own key range — ONE small aggregate over the delta, then a
    * file-level pruned read. At 100 TB this is the difference between
    * opening every file of the table to find matches and opening only
    * the delta's neighborhood of a key-clustered layout. Files without
    * stats are conservatively kept, so pruning can never lose a match. */
  private[graft] def matchScanFrame(name: String, source: DataFrame,
      keys: Seq[String], target: DataFrame): DataFrame = {
    val indexed = indexCols(name).toSet
    val key = keys.find(indexed.contains).getOrElse(return target)
    val keyType = source.schema.fields.find(_.name == key).map(_.dataType)
    val numeric = keyType.exists(t =>
      Seq("int", "bigint", "smallint", "tinyint", "float", "double")
        .contains(t.simpleString))
    if (!numeric) return target
    val row = source.agg(
      min(col(key)).cast("double"), max(col(key)).cast("double")).head()
    if (row.isNullAt(0) || row.isNullAt(1)) return target
    // NULL target keys can only match NULL source keys, which the range
    // prune would drop — but files whose stats say hasNulls are KEPT by
    // candidate selection only when the predicate allows; to stay
    // conservative the pruned probe UNIONs files flagged has-nulls.
    prunedRead(name, Seq((key, row.getDouble(0), row.getDouble(1))),
      keepNullsOf = Some(key))
  }

  /** The frame a row-level UPDATE/DELETE's touched-partition probe
    * scans. Without pruning the probe is a FULL read of the version —
    * at 100 TB a point UPDATE on an indexed key would cost a table scan
    * just to learn which partition it touches. Here the WHERE prunes
    * the file list first, through the SQL door's own translation and
    * candidate pass ([[graft.spark.GraftFileSkipping]]): min/max
    * skipping-index ranges, then parquet native bloom filters for
    * equality points (the same two structures the read path's
    * [[readRange]]/[[readPoint]] use). The condition is resolved
    * through the ANALYZER (a plain Column wraps a ColumnNode in Spark 4,
    * not a Catalyst tree) and its constant sub-expressions — the
    * coercion casts around literals — fold to literals, the shape
    * pushed filters have. Only top-level AND conjuncts prune, and any
    * row satisfying the condition satisfies each of them, so the probe
    * can only over-read, never miss a touched partition — and the
    * verbs re-apply the real condition to whatever the probe returns.
    * NULL-valued comparisons never match under three-valued logic (and
    * the verbs coalesce a NULL condition to false), so range pruning
    * needs no has-nulls keep. Falls back to the full frame when nothing
    * prunes. */
  private def probeFrame(name: String, m: TableManifest,
      full: DataFrame, condition: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val where = full.filter(condition).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.transformUp {
          case e if e.foldable && !e.isInstanceOf[Literal] =>
            scala.util.Try(Literal(e.eval(), e.dataType)).getOrElse(e)
        }
    }
    val c = graft.spark.GraftFileSkipping.conjuncts(where.toSeq)
    if (c.isEmpty) return full
    val abs = m.files.map(f => versionsDir(name).resolve(f).toString)
    val cand = graft.spark.GraftFileSkipping.candidates(spark,
      Some(statsPath(name)).filter(SkippingIndex.existsAt), abs, c)
    if (cand.size == abs.size) return full
    if (cand.isEmpty) return full.limit(0)
    // the FULL frame's schema, so partition-value typing (and thus the
    // probe's hive path rendering) is identical to the unpruned read
    catLoad(Some(full.schema), cand, partBase(name, m))
  }

  /** Diagnostic: the files [[updateWhere]]/[[deleteVersioned]]'s
    * touched-partition probe would open for `condition` (tests pin the
    * pruning with it, like [[pointCandidates]] for the read path). */
  private[graft] def probeCandidates(name: String, condition: Column): Seq[String] = {
    val m = currentManifest(name)
    probeFrame(name, m, readVersion(name, m.version), condition)
      .inputFiles.toSeq
  }

  /** Collect one small distinct frame of partition tuples as
    * (typed values, hive rel path) — partition-count-sized, never
    * data-sized. Path strings use Spark's cast-to-string (the writer's
    * own dir-name formatting) plus hive escaping. */
  private def collectSlots(distinctParts: DataFrame, pb: Seq[String]): Seq[PartSlot] = {
    val n = pb.size
    val withStrs = distinctParts.select(
      pb.map(col) ++ pb.map(c => col(c).cast("string").as(s"__str_$c")): _*)
    withStrs.collect().toSeq.map { r =>
      val values = (0 until n).map(r.get)
      val strs = (0 until n).map(i =>
        if (r.isNullAt(n + i)) null else r.getString(n + i))
      PartSlot(values, hiveRelPath(pb, strs))
    }
  }

  /** Distinct partition slots actually present in a frame. */
  private def partitionsOf(df: DataFrame, pb: Seq[String]): Seq[PartSlot] =
    collectSlots(df.select(pb.map(col): _*).distinct(), pb)

  /** OR-of-ANDs equality predicate over partition columns with literal
    * values — statically partition-prunable by the parquet scan. */
  private[graft] def partitionPredicate(partitionBy: Seq[String],
      tuples: Seq[Seq[Any]]): Column =
    tuples.map { vs =>
      partitionBy.zip(vs).map { case (c, v) => col(c) <=> lit(v) }
        .reduce(_ && _)
    }.reduce(_ || _)

  /** Hive-style relative dir path from ALREADY-STRINGIFIED partition
    * values (Spark's cast-to-string), with Spark's own path escaping
    * (null → `__HIVE_DEFAULT_PARTITION__`). */
  private def hiveRelPath(partitionBy: Seq[String], strs: Seq[String]): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    partitionBy.zip(strs).map { case (c, v) =>
      val value =
        if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else ExternalCatalogUtils.escapePathName(v)
      s"${ExternalCatalogUtils.escapePathName(c)}=$value"
    }.mkString("/")
  }

  /** S8 latest-partition slice. When the table is partitioned by
    * `partitionCol`, RESOLUTION IS METADATA-ONLY: the greatest partition
    * value comes from the manifest's partition components — zero data
    * files opened, zero Spark jobs — and the returned frame is a
    * statically partition-pruned equality scan of just that slice. At 100 TB the old shape
    * (max() over the full column, then the filter) read the whole table
    * to find yesterday. Unpartitioned tables (or a non-partition
    * column) keep the scan-based fallback — there is no metadata to
    * answer from. */
  def latestPartition(name: String, partitionCol: String): DataFrame = {
    val t = read(name)
    latestPartitionValue(name, partitionCol) match {
      case Some(s) =>
        // the dir string casts back to the column's read type exactly —
        // partition values ARE these strings (Spark's own rendering)
        t.filter(col(partitionCol) === lit(s).cast(t.schema(partitionCol).dataType))
      case None =>
        val mx = t.select(max(col(partitionCol))).head().get(0)
        t.filter(col(partitionCol) === lit(mx))
    }
  }

  /** The greatest live value of partition column `partitionCol` as its
    * hive dir string, resolved from METADATA ONLY (manifest entries —
    * no data files, no Spark job). None when the table
    * is not partitioned by the column, or only the null partition
    * exists. Ordering mirrors the column's LOGICAL order as a reader
    * sees it: when the manifest records a schema, that type decides —
    * a genuinely STRING column compares lexicographically ("7" > "10",
    * exactly what max(col) returns), numeric types numerically, and
    * date/timestamp renderings are ISO strings, where lexicographic IS
    * chronological. Without a recorded type the read-back type is
    * Spark's partition inference, which the all-numeric heuristic
    * mirrors (dirs "7","10" infer as int and read back as 10). */
  def latestPartitionValue(name: String, partitionCol: String): Option[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def valueOf(component: String): Option[String] =
      component.split('/').iterator.flatMap { seg =>
        val i = seg.indexOf('=')
        if (i <= 0) None
        else if (ExternalCatalogUtils.unescapePathName(seg.take(i)) != partitionCol) None
        else Some(seg.drop(i + 1))
      }.nextOption()
    val m = currentManifest(name)
    if (!m.partitionBy.contains(partitionCol)) return None
    val recordedType = recordedSchema(m)
      .flatMap(_.fields.find(_.name == partitionCol)).map(_.dataType)
    val vals = m.files.flatMap(f => valueOf(TableManifest.partitionComponent(f)))
      .distinct
      .filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .map(ExternalCatalogUtils.unescapePathName)
    if (vals.isEmpty) None else Some(greatestRendering(vals, recordedType))
  }

  /** The max of hive dir renderings under the column's logical order.
    * A known STRING type is lexicographic even when every rendering
    * looks numeric; known numeric types compare numerically; all other
    * known types (date/timestamp) render ISO, where lexicographic is
    * chronological. Unknown type = Spark's partition inference: all-
    * integral → long order, all-numeric → double order, else string. */
  private def greatestRendering(vals: Seq[String],
      dt: Option[DataType]): String = dt match {
    case Some(StringType) => vals.max
    case Some(_: org.apache.spark.sql.types.NumericType) =>
      if (vals.forall(v => scala.util.Try(BigDecimal(v)).isSuccess))
        vals.maxBy(BigDecimal(_))
      else vals.max
    case Some(_) => vals.max
    case None =>
      if (vals.forall(v => scala.util.Try(v.toLong).isSuccess))
        vals.maxBy(_.toLong)
      else if (vals.forall(v => scala.util.Try(v.toDouble).isSuccess))
        vals.maxBy(_.toDouble)
      else vals.max
  }

  /** Bloom-accelerated POINT lookup: `column = value` opening only the
    * files whose parquet bloom filter might contain the value (plus any
    * without one, conservatively). The complement of [[readRange]]:
    * min/max prunes ranges over clustered layouts, blooms prune
    * equality probes over ANY layout — a random-placement table's file
    * ranges all span the key space, where only a bloom says "not in
    * this file". Requires the table to have been written by a catalog
    * with `bloomFor` covering the column; otherwise every file is kept
    * and this degenerates to a filtered scan. The predicate is always
    * re-applied (false positives; advisory pruning). */
  def readPoint(name: String, column: String, value: Any): DataFrame = {
    val m = currentManifest(name)
    val files = m.files.map(f => versionsDir(name).resolve(f).toString)
    val cand = SkippingIndex.bloomCandidatesAny(spark, files, column, Seq(value))
    val pred = col(column) === lit(value)
    if (cand.isEmpty) return readVersion(name, m.version).filter(pred).limit(0)
    // deletion vectors hold for point reads too (bloom pruning is a
    // file filter; the row filter still applies)
    dvFilter(name, m, catLoad(recordedSchema(m), cand, partBase(name, m)))
      .filter(pred)
  }

  /** Diagnostic: how many files [[readPoint]] would open (tests pin
    * bloom pruning with it). */
  def pointCandidates(name: String, column: String, value: Any): Seq[String] =
    SkippingIndex.bloomCandidatesAny(spark, manifestFilesAbs(name), column,
      Seq(value))

  /** Compaction: rewrite the table into ~`rowsPerFile`-row files. Every
    * incremental upsert/append leaves small files behind; at scale the
    * scan cost becomes file-open dominated (the classic small-file
    * problem). One repartition, committed as a new version. Layout
    * options:
    *
    *   - `clusterBy`: lexicographic range-cluster — tight min/max (and
    *     thus file/row-group skipping) for the FIRST column only;
    *   - `zorderBy`: Morton-interleaved multi-column cluster
    *     ([[graft.functions.ZOrder]]) — every file is a hypercube in
    *     bucket space, so predicates on ANY clustered column skip
    *     files (ZOrderSpec measures the difference). Normalization
    *     bounds come from one min/max aggregate — O(columns), not a
    *     global ranking window.
    */
  def compact(name: String, rowsPerFile: Long,
      partitionBy: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil, zorderBits: Int = 8): Unit = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "pick clusterBy OR zorderBy, not both")
    // a bare compact()/OPTIMIZE clusters by the DECLARED layout (r20):
    // `graft.clusterBy` / `graft.zorderBy` are table metadata, so the
    // maintenance job never retypes the cluster key (explicit
    // arguments still win for a one-off re-cluster)
    val (cBy, zBy) =
      if (clusterBy.nonEmpty || zorderBy.nonEmpty) (clusterBy, zorderBy)
      else (declaredCols(name, ParquetCatalog.ClusterByProp),
        declaredCols(name, ParquetCatalog.ZorderByProp))
    val df = read(name)
    // one aggregate row carries every z-ordered column's lo/hi
    def zkeyOf(frame: DataFrame): Column = {
      val aggs = zBy.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
      val row = frame.agg(aggs.head, aggs.tail: _*).head()
      val lohi = zBy.indices.map(i =>
        (rowDouble(row, 2 * i), rowDouble(row, 2 * i + 1)))
      graft.functions.ZOrder.zorderKey(zorderBits,
        zBy.zip(lohi).map { case (c, (lo, hi)) =>
          graft.functions.ZOrder.bucketize(col(c), lo, hi, zorderBits)
        }: _*)
    }
    // An UNSTATED partitionBy preserves the current layout (Delta
    // OPTIMIZE semantics, r19) — compaction is a file-size verb, a
    // re-layout is the explicit overwrite; composite bucket prefixes
    // in particular must not silently flatten
    val layoutCols = if (partitionBy.nonEmpty) partitionBy else layout(name)
    if (layoutCols.exists(_.equalsIgnoreCase(ParquetCatalog.BucketPartCol))) {
      // BUCKETED layouts: the (identity × bucket) cell is the
      // compaction unit — stage's clustered write distribution lands
      // exactly one file per cell, with the cluster / z-order key
      // applied INSIDE each cell by stage itself, after the hidden
      // bucket derivation (an ordering established before the derived
      // column's replacement would be voided and re-sorted away by the
      // dynamic-partition writer). `rowsPerFile` does not subdivide a
      // cell: the bucket count is the declared parallelism — re-bucket
      // to resize cells.
      val ord = if (zBy.nonEmpty) Seq(zkeyOf(df)) else cBy.map(col)
      // forceDistribute: OPTIMIZE is explicitly a rewrite job — it
      // must bin-pack cells even when the write-path kill switch
      // disabled automatic distribution
      overwriteVersioned(name, df, layoutCols, orderWithinCells = ord,
        forceDistribute = true, identitySplits = false)
      return
    }
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / rowsPerFile).toInt)
    lazy val zk = zkeyOf(df) // bounds aggregate runs at most once
    val repart =
      if (zBy.nonEmpty) {
        df.withColumn("__zkey", zk)
          .repartitionByRange(files, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey")
      } else if (cBy.nonEmpty)
        df.repartitionByRange(files, cBy.map(col): _*)
          .sortWithinPartitions(cBy.map(col): _*)
      else df.repartition(files)
    // write-once versions: the new commit's staging write reads the
    // still-live current version — no persist barrier needed. The
    // requested cluster ordering rides through to stage() so ITS
    // in-task sort (which runs after the hidden bucket derivation)
    // matches this call's intent, never a stale declaration
    val ord = if (zBy.nonEmpty) Seq(zk) else cBy.map(col)
    overwriteVersioned(name, repart, layoutCols, orderWithinCells = ord,
      identitySplits = false)
  }

  /** Partition-scoped [[compact]] — the 100 TB maintenance shape: a
    * streaming sink leaves yesterday's partition as hundreds of
    * micro-batch files; compacting it must not touch the other 364
    * days. `partition` filters by equality on a PREFIX of the partition
    * layout (e.g. `Seq("day" -> "2024-01-01")` on a day/region
    * layout compacts every region of that day). The commit holds the
    * compacted slice + re-references every other partition's files (op
    * verb `compact`, zero bytes moved outside the slice). Row data is
    * bit-preserved — only file boundaries change. */
  def compactPartition(name: String, rowsPerFile: Long,
      partition: Seq[(String, Any)]): Unit = {
    require(partition.nonEmpty, "compactPartition needs a partition spec")
    val lay = layout(name)
    require(partition.map(_._1) == lay.take(partition.size),
      s"partition spec (${partition.map(_._1).mkString(",")}) must be a " +
        s"prefix of $name's layout (${lay.mkString(",")})")
    val pred = partition.map { case (c, v) => col(c) <=> lit(v) }.reduce(_ && _)
    val m = currentManifest(name)
    val slice = readVersion(name, m.version).filter(pred)
    val n = slice.count()
    if (n == 0) return
    val files = math.max(1, math.ceil(n.toDouble / rowsPerFile).toInt)
    val touchedRel = partitionsOf(slice, m.partitionBy).map(_.relPath).toSet
    // write-once versions: staging reads the still-live current
    // files. Under a bucketed layout stage() distributes by the
    // layout cells itself (one file per cell, declared cluster sort
    // applied inside; forced — OPTIMIZE WHERE is a rewrite job) — a
    // pre-repartition here would just add a wasted shuffle and void
    // the cell ordering. Identity layouts bin-pack to `files` tasks;
    // a declared writeSplits salt must not void that.
    val bucketedLay = m.partitionBy.exists(
      _.equalsIgnoreCase(ParquetCatalog.BucketPartCol))
    val sliceIn = if (bucketedLay) slice else slice.repartition(files)
    val st = stage(name, sliceIn, m.partitionBy, m.version + 1,
      forceDistribute = bucketedLay, identitySplits = false)
    commit(name, Some(m), m.partitionBy, carryOutside(touchedRel),
      Map("op" -> "compact") ++ touchedMeta(touchedRel), st)
    ()
  }

  private def rowDouble(r: org.apache.spark.sql.Row, i: Int): Double =
    r.get(i) match {
      case null => 0.0
      case n: Number => n.doubleValue()
      case other => other.toString.toDouble
    }

  // ---- manifest snapshots -------------------------------------------

  private def versionsDir(name: String): Path = {
    ParquetCatalog.requireValidName(name)
    Paths.get(root, ".versions", name)
  }

  private def dataDir(name: String): Path =
    versionsDir(name).resolve("data")

  private def manifestPath(name: String, version: Long): Path =
    versionsDir(name).resolve(s"v$version.manifest")

  private def nonce(): String =
    java.lang.Long.toHexString(System.nanoTime())

  /** Where a write stages its files before moving them into `data/`:
    * `<root>/.tmp-<table>-<nonce>`, next to (never inside) the table's
    * versions dir. [[vacuum]] sweeps what a crashed writer left. */
  private def stagingDir(name: String, nn: String): Path =
    Paths.get(root, s".tmp-$name-$nn")

  /** Retained version numbers, oldest first (a version exists iff its
    * manifest does — there is no separate current pointer). Every
    * path to a table's state passes here, so this is where a plain
    * directory an older build left is migrated ([[migrateIfPlain]]). */
  def versions(name: String): Seq[Long] = {
    migrateIfPlain(name)
    listVersions(name)
  }

  private def listVersions(name: String): Seq[Long] = {
    val vd = versionsDir(name)
    if (!Files.isDirectory(vd)) Seq.empty
    else {
      val s = Files.list(vd)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("v\\d+\\.manifest"))
        .map(_.stripSuffix(".manifest").drop(1).toLong).toSeq.sorted
      finally s.close()
    }
  }

  def currentVersion(name: String): Long = {
    val vs = versions(name)
    require(vs.nonEmpty, s"no table $name")
    vs.last
  }

  /** The committed manifest of one retained version, RESOLVED: a delta
    * manifest's base chain is chased (bounded by the snapshot interval)
    * and the returned `files` list is the full materialized set — every
    * caller sees snapshot semantics regardless of the on-disk form.
    *
    * Concurrent-vacuum window: vacuum MATERIALIZES a retained delta in
    * place before deleting its base, but a reader that parsed the delta
    * form just before the swap can miss the base. The re-read sees the
    * materialized (self-contained) manifest — content-equivalent by
    * construction — so resolution retries instead of failing. */
  def manifest(name: String, version: Long): TableManifest = {
    var attempts = 0
    while (true) {
      val raw = rawManifest(name, version)
      raw.base match {
        case None => return raw
        case Some(b) =>
          try {
            val resolved = manifest(name, b) // chain <= snapshot interval
            val gone = raw.removes.toSet
            return raw.copy(files = resolved.files.filterNot(gone) ++ raw.files,
              base = None, removes = Nil)
          } catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("not retained") && attempts < 5 =>
              attempts += 1 // vacuum materialized us mid-read; re-read
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The manifest exactly as committed (deltas unresolved) — vacuum's
    * and the chain-depth probe's view. A file that vanishes between the
    * existence check and the read (concurrent vacuum: materialize then
    * delete-base) surfaces as the same "not retained" failure the
    * chain-walk retries recognize — never a raw NoSuchFileException. */
  private def rawManifest(name: String, version: Long): TableManifest = {
    val p = manifestPath(name, version)
    require(Files.exists(p),
      s"version $version of $name not retained (have: ${versions(name).mkString(",")})")
    try TableManifest.parse(p)
    catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new IllegalArgumentException(
          s"version $version of $name not retained " +
            s"(have: ${versions(name).mkString(",")})")
    }
  }

  /** Number of delta hops from `version` back to its snapshot. Retries
    * from the top if a concurrent vacuum materializes a link mid-walk
    * (same window as [[manifest]]'s). */
  private def chainDepth(name: String, version: Long): Int = {
    var attempts = 0
    while (attempts < 6) {
      try {
        var depth = 0
        var v = version
        var base = rawManifest(name, v).base
        while (base.isDefined) {
          depth += 1; v = base.get; base = rawManifest(name, v).base
        }
        return depth
      } catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("not retained") => attempts += 1
      }
    }
    throw new IllegalStateException(
      s"manifest chain of $name v$version kept vanishing mid-walk")
  }

  private def currentManifest(name: String): TableManifest =
    manifest(name, currentVersion(name))

  /** Data files (manifest-relative) of one retained version — the
    * metadata a test or audit pins zero-copy sharing with. */
  def manifestFiles(name: String, version: Long): Seq[String] =
    manifest(name, version).files

  /** Time-travel read of a retained version: the manifest's file list
    * resolved against the shared data tree. Write-once data files mean
    * a retained reader is never invalidated by later commits. An empty
    * version (zero files) reads as an empty frame with the schema the
    * manifest recorded. A version whose manifest RECORDS a schema (a
    * metadata-only evolution happened at or before it) reads its
    * possibly-heterogeneous files under that schema — parquet resolves
    * columns by name, files missing a column yield nulls. */
  def readVersion(name: String, version: Long): DataFrame = {
    val m = manifest(name, version)
    if (m.files.isEmpty) {
      val ddl = m.meta.getOrElse("schema",
        throw new IllegalStateException(
          s"version $version of $name has no files and no recorded schema"))
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType.fromDDL(ddl))
    }
    val abs = m.files.map(f => versionsDir(name).resolve(f).toString)
    dvFilter(name, m, catLoad(recordedSchema(m), abs, partBase(name, m)))
  }

  /** The commit wall-clock (epoch millis) a retained version's manifest
    * recorded — None only for manifests written before timestamps
    * existed. Strictly increasing with version (see [[stampTs]]). Meta
    * rides every manifest FORM in full, so this is ONE raw file parse —
    * no delta-chain resolution. */
  def commitTimestamp(name: String, version: Long): Option[Long] =
    rawManifest(name, version).meta.get("ts").map(_.toLong)

  /** Delta `TIMESTAMP AS OF` resolution: the HIGHEST retained version
    * committed at or before `tsMillis`. Commit stamps are strictly
    * monotonic per table, so eligibility ("stamped at or before the
    * bound"; pre-timestamp manifests count as arbitrarily old) is a
    * prefix property of the version sequence and the answer comes from
    * a BINARY SEARCH — O(log versions) single-manifest parses, zero
    * data files, zero chain resolution. At a 100k-commit table that is
    * ~17 file reads where a history sweep would be 100k. Loud when
    * `tsMillis` predates the oldest retained commit: resolving to a
    * version that did not exist yet would silently hand back the wrong
    * table. */
  def versionAsOf(name: String, tsMillis: Long): Long = {
    val vs = versions(name).toIndexedSeq
    require(vs.nonEmpty, s"$name is not a versioned table")
    def eligible(v: Long): Boolean = commitTimestamp(name, v).forall(_ <= tsMillis)
    require(eligible(vs.head),
      s"no retained version of $name was committed at or before $tsMillis " +
        s"(oldest retained: v${vs.head}" +
        commitTimestamp(name, vs.head).fold("")(t => s" at $t") + ")")
    // invariant: vs(lo) eligible, vs(hi) not (or hi == vs.length)
    var lo = 0
    var hi = vs.length
    while (hi - lo > 1) {
      val mid = (lo + hi) / 2
      if (eligible(vs(mid))) lo = mid else hi = mid
    }
    vs(lo)
  }

  /** Time-travel read by wall-clock ([[versionAsOf]] + [[readVersion]]):
    * the table exactly as it stood at `tsMillis`. */
  def readAsOf(name: String, tsMillis: Long): DataFrame =
    readVersion(name, versionAsOf(name, tsMillis))

  /** `RESTORE TABLE ... TIMESTAMP AS OF` — rewind the CURRENT state to
    * what the table was at `tsMillis`, as a new auditable commit
    * ([[versionAsOf]] + [[restore]]). */
  def restoreAsOf(name: String, tsMillis: Long): Long =
    restore(name, versionAsOf(name, tsMillis))

  // ---- column mapping (logical name → stable parquet field id) ------
  //
  // Every staged file carries a stable integer id per column
  // (`parquet.field.id` footer metadata; ids recorded as `colid.<name>`
  // manifest meta and reused commit-over-commit). Once a table's
  // mapping is ACTIVATED (`colmap=on`, flipped by the first
  // [[renameColumn]] after verifying every live file carries ids),
  // reader schemas re-attach the ids and Spark's own parquet reader
  // resolves columns BY ID — so a rename is one metadata commit, old
  // files read correctly under the new name, and files predating a
  // column resolve it as null. Until activation nothing changes:
  // schemas carry no ids and resolution stays by-name, so tables and
  // scratch state written before this feature keep working untouched.

  private val ColIdPrefix = "colid."

  private def colIdKey(col: String): String =
    ColIdPrefix + java.net.URLEncoder.encode(col, "UTF-8")

  private def colIds(m: TableManifest): Map[String, Int] =
    m.meta.collect { case (k, v) if k.startsWith(ColIdPrefix) =>
      java.net.URLDecoder.decode(k.drop(ColIdPrefix.length), "UTF-8") -> v.toInt
    }

  private def mappingOn(m: TableManifest): Boolean =
    m.meta.get("colmap").contains("on")

  // ---- dropped-name registry (resurrection guard) --------------------
  //
  // `dropColumn` is metadata-only: carried files keep the dropped
  // column's PHYSICAL bytes. Re-introducing the same name later (ADD
  // COLUMN, or an evolving append/merge whose frame carries it) under
  // BY-NAME resolution would silently RESURRECT the pre-drop values in
  // every carried file instead of reading null — Delta requires column
  // mapping for DROP COLUMN precisely to close this. Each drop records
  // a `dropped.<name>` marker (carried commit-over-commit); a
  // re-introduction consults it: with the mapping ACTIVE a fresh field
  // id makes the carried bytes unreachable (readers resolve by id), so
  // the re-add stays O(metadata); with the mapping OFF the re-add runs
  // one distributed footer check and REFUSES while any live file still
  // physically holds the name (compaction sheds the bytes and clears
  // the marker). Full-restage commits clear all markers — no carried
  // file survives them.

  private val DroppedPrefix = "dropped."

  private def droppedKey(colName: String): String =
    DroppedPrefix + java.net.URLEncoder.encode(
      colName.toLowerCase(java.util.Locale.ROOT), "UTF-8")

  /** Meta keys to SUBTRACT from the next commit (cleared markers).
    * Throws when the re-introduction is unsound (mapping off + live
    * files still hold the bytes). */
  private def guardReintroduced(name: String, m: TableManifest,
      reintroduced: Seq[String]): Seq[String] = {
    val marked = reintroduced.filter(c => m.meta.contains(droppedKey(c)))
    if (marked.isEmpty || mappingOn(m)) Nil // mapping on: fresh ids cover it
    else {
      val abs = m.files.map(f => versionsDir(name).resolve(f).toString)
      val dirty = SkippingIndex.filesContainingColumns(spark, abs, marked)
      require(dirty.isEmpty,
        s"cannot re-add previously dropped column(s) ${marked.mkString(", ")} " +
          s"to $name: ${dirty.size} live file(s) still hold the old physical " +
          s"bytes (e.g. ${dirty.take(2).mkString(", ")}) and by-name readers " +
          "would resurrect the pre-drop values. Run compact(...) / OPTIMIZE " +
          "first — the rewrite sheds the dropped bytes — then re-add.")
      marked.map(droppedKey) // no live file holds the bytes: markers clear
    }
  }

  private def withFieldIds(s: StructType, ids: Map[String, Int]): StructType =
    StructType(s.fields.map { f =>
      ids.get(f.name).fold(f) { id =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong)
          .build())
      }
    })

  /** The highest column id EVER assigned on this table — Delta's
    * maxColumnId. Fresh ids must mint ABOVE it, never above the max of
    * the LIVE map: dropping the max-id column and then adding a new
    * one would otherwise REUSE the dropped column's physical field id,
    * and id-resolving readers would hand the new column the dropped
    * column's old bytes (the resurrection this tier exists to
    * prevent). Carried as `colidmax` meta and stamped by every commit
    * that assigns ids; manifests predating the key fall back to the
    * live max (their prior behavior — a pre-key table that already
    * dropped its max-id column keeps that hazard until its next
    * compaction restamps everything). */
  private def colIdHighWater(m: TableManifest): Int =
    math.max(m.meta.get("colidmax").map(_.toInt).getOrElse(0),
      (colIds(m).values.toSeq :+ 0).max)

  /** The ids a staged frame's columns write: prior assignments reused
    * (case-insensitively — Spark resolution is), unseen columns get
    * fresh ids above the table's ALL-TIME maximum ([[colIdHighWater]]).
    * One raw-manifest read; a CAS loss re-derives against the winner's
    * map on retry. A manifest read failure here propagates LOUDLY —
    * falling back to fresh ids would silently remint the registry of a
    * mapping-active table and id-resolve carried files to the wrong
    * columns. */
  private def stagedColIds(name: String, schema: StructType): Map[String, Int] = {
    val (prior, high) =
      if (exists(name)) {
        val m = currentManifest(name)
        (colIds(m), colIdHighWater(m))
      } else (Map.empty[String, Int], 0)
    var next = high + 1
    schema.fields.map { f =>
      val id = prior.get(f.name)
        .orElse(prior.collectFirst {
          case (k, v) if k.equalsIgnoreCase(f.name) => v
        })
        .getOrElse { val v = next; next += 1; v }
      f.name -> id
    }.toMap
  }

  /** The schema a manifest recorded for its (possibly heterogeneous)
    * file set, when one was recorded — with the column-mapping field
    * ids re-attached once the table's mapping is active, so every read
    * path resolves by id without further changes. */
  private def recordedSchema(m: TableManifest): Option[StructType] =
    if (m.files.isEmpty) None
    else m.meta.get("schema").map(StructType.fromDDL).map { s =>
      if (mappingOn(m)) withFieldIds(s, colIds(m)) else s
    }

  // ---- deletion vectors (merge-on-read row-level DELETE) -------------
  //
  // Delta's deletion-vectors feature: a point DELETE on a 100 TB table
  // must not rewrite the touched partition — it records the deleted
  // ROW POSITIONS per file in a small parquet SIDECAR and commits ONE
  // metadata entry per touched file (`dvpos.<file> -> <sidecar>`).
  // Readers anti-filter through the positions (parquet's stable
  // `_metadata.row_index`), so the data files never move; compaction /
  // OPTIMIZE materializes the deletes and sheds the vectors (the
  // commit routine prunes pointers for files a rewrite dropped). Every
  // sidecar holds each touched file's COMPLETE deletion set as of its
  // commit — pointer flips are atomic with the manifest CAS, time
  // travel reads each version under its own pointer map, and restore
  // reverts deletions with the metadata it re-references.

  private val DvPrefix = "dvpos."

  private def dvKeyOf(rel: String): String =
    DvPrefix + java.net.URLEncoder.encode(rel, "UTF-8")

  /** file (manifest-relative) → sidecar (versions-dir-relative). */
  private def dvEntries(m: TableManifest): Map[String, String] =
    m.meta.collect { case (k, v) if k.startsWith(DvPrefix) =>
      java.net.URLDecoder.decode(k.drop(DvPrefix.length), "UTF-8") -> v
    }

  /** Data-file BASENAMES are the join key between
    * `_metadata.file_path` (a URI whose exact rendering varies) and
    * the sidecars' manifest-relative paths — also what keeps the
    * vectors valid across [[renameTable]]'s directory move with zero
    * rewrites. [[stage]] makes them globally unique
    * (version-nonce-index prefix); [[deleteVectors]] REFUSES on file
    * sets whose basenames collide (files staged before the unique
    * naming, or absorbed from a partitioned plain dir) with the
    * compact-first remedy — compaction restages under unique names. */
  private def baseNameOf(c: Column): Column = element_at(split(c, "/"), -1)

  /** Tag a RAW file-source frame with the dv join keys. */
  private def dvTag(df: DataFrame): DataFrame = df
    .withColumn("__graft_dv_file", baseNameOf(col("_metadata.file_path")))
    .withColumn("__graft_dv_pos", col("_metadata.row_index"))

  /** Sidecar total bytes below this broadcast the anti-join's build
    * side; bigger vector sets fall back to a shuffled anti-join rather
    * than risking the driver. Tunable (`spark.graft.dv.broadcastBytes`)
    * for executors with more or less headroom — the vectored SQL-door
    * scan ([[graft.spark.GraftScan]]) has no shuffled form and REFUSES
    * above its cap instead, so the two doors diverge above 64 MB by
    * design (documented there). */
  private def dvBroadcastBytes: Long =
    spark.conf.getOption("spark.graft.dv.broadcastBytes")
      .map(_.toLong).getOrElse(64L << 20)

  /** Anti-filter a [[dvTag]]ged frame through the manifest's deletion
    * vectors. Reading each referenced sidecar WHOLE is sound: a
    * sidecar row can only match a read row of its own file, file
    * basenames never recur, and any sidecar the manifest references
    * holds its files' exact deletion sets as of this version. */
  private def dvAnti(name: String, m: TableManifest, tagged: DataFrame,
      rels: Option[Seq[String]] = None): DataFrame = {
    val all = dvEntries(m)
    val entries = rels.fold(all)(rs => all.view.filterKeys(rs.toSet).toMap)
    if (entries.isEmpty) return tagged
    val sidecars = entries.values.toSeq.distinct
      .map(r => versionsDir(name).resolve(r))
    val bytes = sidecars.map(p =>
      try Files.size(p) catch { case _: Exception => Long.MaxValue / 1024 }).sum
    val dv0 = FooterSchema.parquet(spark, sidecars.map(_.toString): _*)
      .select(baseNameOf(col("file")).as("__dv_file"), col("pos").as("__dv_pos"))
    val dv = if (bytes <= dvBroadcastBytes) broadcast(dv0) else dv0
    tagged.join(dv,
      tagged("__graft_dv_file") === dv("__dv_file") &&
        tagged("__graft_dv_pos") === dv("__dv_pos"), "left_anti")
  }

  /** The ABSOLUTE sidecar paths version `v` references — what the
    * registered catalog's scan path ([[graft.spark.GraftTable]]) feeds
    * its row-index-filtering file format; empty = vector-free. */
  private[graft] def dvSidecarsAbs(name: String, version: Long): Seq[String] = {
    val m = manifest(name, version)
    dvEntries(m).values.toSeq.distinct
      .map(r => versionsDir(name).resolve(r).toString)
  }

  /** The deletion-vector read filter every versioned read path applies:
    * a no-op plan (and zero extra IO) when none of the files being
    * read carry vectors. `rels` scopes the sidecar reads to the files
    * actually loaded (CDF diffs read subsets). */
  private def dvFilter(name: String, m: TableManifest, df: DataFrame,
      rels: Option[Seq[String]] = None): DataFrame = {
    val entries = dvEntries(m)
    if (entries.isEmpty || rels.exists(!_.exists(entries.contains))) df
    else dvAnti(name, m, dvTag(df), rels).drop("__graft_dv_file", "__graft_dv_pos")
  }

  /** Vectors key on basenames: a colliding file set (pre-unique-naming
    * stages, partitioned plain-dir absorption) could delete the WRONG
    * file's rows — refuse with the restage remedy. */
  private def requireUniqueBasenames(name: String, m: TableManifest,
      alternative: String): Unit = {
    val collisions = m.files.groupBy(f => Paths.get(f).getFileName.toString)
      .collect { case (b, fs) if fs.size > 1 => b }
    require(collisions.isEmpty,
      s"deletion vectors need unique data-file basenames in $name; " +
        s"${collisions.size} collide (e.g. ${collisions.take(2).mkString(", ")}" +
        ") — files predate unique staging names. Run compact(...) / " +
        s"OPTIMIZE first, or use $alternative (the rewrite path).")
  }

  /** Write ONE combined sidecar for version `next`: each touched file's
    * complete new position set = its prior positions ∪ `newPos`
    * (`fileb`, `pos` — basename-keyed; the union is disjoint because
    * new positions only ever come from dv-filtered reads, so a file's
    * set strictly grows). Returns the manifest-relative sidecar path;
    * the CALLER commits the pointer flips and deletes the sidecar on a
    * lost CAS. */
  private def writeDvSidecar(name: String, m: TableManifest, next: Long,
      newPos: DataFrame, touchedRels: Seq[String]): String = {
    val relMap = spark.createDataFrame(
      touchedRels.map(r => (Paths.get(r).getFileName.toString, r)))
      .toDF("fileb", "file")
    val newRelPos = newPos.join(broadcast(relMap), "fileb").select("file", "pos")
    val priorSidecars = dvEntries(m).view.filterKeys(touchedRels.contains)
      .values.toSeq.distinct.map(r => versionsDir(name).resolve(r).toString)
    val combined =
      if (priorSidecars.isEmpty) newRelPos
      else FooterSchema.parquet(spark, priorSidecars: _*)
        .where(col("file").isin(touchedRels: _*)).select("file", "pos")
        .unionByName(newRelPos)
    // ONE sidecar file per commit: deletes are row-scoped, so the
    // position set is small relative to the data (a partition-sized
    // delete belongs on the rewrite path)
    val nn = nonce()
    val stageDir = stagingDir(name, nn)
    combined.repartition(1).write.mode(SaveMode.Overwrite)
      .option("compression", codec).parquet(stageDir.toString)
    val part = {
      val s = Files.walk(stageDir)
      try s.iterator().asScala.filter(p =>
        p.toString.endsWith(".parquet") && Files.isRegularFile(p)).toList.head
      finally s.close()
    }
    val sidecarRel = s"data/dv-v$next-$nn.parquet"
    Files.createDirectories(versionsDir(name).resolve(sidecarRel).getParent)
    Files.move(part, versionsDir(name).resolve(sidecarRel),
      StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(stageDir)
    sidecarRel
  }

  /** Merge-on-read row-level DELETE (Delta deletion-vector parity):
    * rows matching `condition` are recorded as (file, row-position)
    * pairs in ONE new parquet sidecar and the commit flips one pointer
    * per touched file — ZERO data files rewritten, O(deleted rows)
    * bytes written, where [[deleteVersioned]] restages every touched
    * partition. The probe is [[probeFrame]]-pruned (a point DELETE on
    * an indexed/bloomed key opens candidate files only); already-
    * deleted rows never re-record (each sidecar row strictly grows a
    * file's set, so a changed pointer always means changed content —
    * what the change feed diffs on). Readers, CDF, streams, and
    * incremental MVs all see the deletes through the shared read
    * filter; compaction / OPTIMIZE materializes and sheds the vectors.
    * Returns (newVersion, rowsDeleted) — (currentVersion, 0) when
    * nothing matched, committing nothing. */
  def deleteVectors(name: String, condition: Column,
      fromVersion: Option[Long] = None): (Long, Long) = {
    require(exists(name), s"no table $name")
    val m = fromVersion.map(manifest(name, _)).getOrElse(currentManifest(name))
    if (m.files.isEmpty) return (m.version, 0L)
    requireUniqueBasenames(name, m, "deleteVersioned")
    val hit = coalesce(condition, lit(false))
    val next = m.version + 1
    // candidate files via the same index/bloom probe the rewrite verbs
    // use, fed the RAW frame (the probe's inputFiles must be DATA files
    // only — the dv-filtered read would surface sidecars too), then
    // exclude already-deleted rows via the dv join keys
    def load(paths: Seq[String]): DataFrame =
      catLoad(recordedSchema(m), paths, partBase(name, m))
    val allAbs = m.files.map(f => versionsDir(name).resolve(f).toString)
    val cand = probeFrame(name, m, load(allAbs), condition).inputFiles.toSeq
    if (cand.isEmpty) return (m.version, 0L)
    // scope the already-deleted exclusion to the CANDIDATES' sidecars —
    // the whole table's accumulated vectors are irrelevant to the
    // pruned files
    val vd = versionsDir(name)
    // inputFiles returns URI strings ("file:/..."); map them back to
    // manifest-relative paths via the basename index (unique, enforced
    // above)
    val relOfBase = m.files.map(f => Paths.get(f).getFileName.toString -> f).toMap
    val candRels = cand.flatMap(a =>
      relOfBase.get(a.substring(a.lastIndexOf('/') + 1)))
    val live = dvAnti(name, m, dvTag(load(cand)), Some(candRels))
    val newPos = live.filter(hit)
      .select(col("__graft_dv_file").as("fileb"), col("__graft_dv_pos").as("pos"))
      .persist()
    try {
      val touchedBases = newPos.select("fileb").distinct()
        .collect().map(_.getString(0)).toSeq
      if (touchedBases.isEmpty) return (m.version, 0L)
      val removed = newPos.count()
      val baseToRel = m.files
        .map(f => Paths.get(f).getFileName.toString -> f).toMap
      val touchedRels = touchedBases.map(b => baseToRel.getOrElse(b,
        throw new IllegalStateException(
          s"probe surfaced file '$b' absent from $name v${m.version}")))
      val sidecarRel = writeDvSidecar(name, m, next, newPos, touchedRels)
      val v = commit(name, Some(m), m.partitionBy, CarryAll,
        Map("op" -> "delete") ++
          touchedMeta(touchedRels.map(TableManifest.partitionComponent).toSet) ++
          touchedRels.map(r => dvKeyOf(r) -> sidecarRel),
        Staged(sidecars = Seq(sidecarRel)))
      (v, removed)
    } finally {
      newPos.unpersist()
      ()
    }
  }

  /** Merge-on-read row-level UPDATE (Delta's deletion-vector UPDATE):
    * matched rows' OLD positions are vectored out and their UPDATED
    * images appended as new files — a point UPDATE on a 100 TB table
    * commits O(updated rows) bytes where [[updateWhere]] restages
    * every touched partition. The probe is [[probeFrame]]-pruned;
    * CHECK constraints enforce on the staged images; a partition-
    * column assignment MOVES rows naturally (the image lands under its
    * new hive component, the vector kills the old row). The change
    * feed replays it as update_preimage/update_postimage pairs — the
    * vectored file re-enters the diff as removed content, the staged
    * image as added. Returns (newVersion, rowsUpdated);
    * (currentVersion, 0) when nothing matched, committing nothing. */
  def updateVectors(name: String, condition: Column,
      assignments: Map[String, Column],
      fromVersion: Option[Long] = None): (Long, Long) = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    require(exists(name), s"no table $name")
    val m = fromVersion.map(manifest(name, _)).getOrElse(currentManifest(name))
    if (m.files.isEmpty) return (m.version, 0L)
    requireUniqueBasenames(name, m, "updateWhere")
    val hit = coalesce(condition, lit(false))
    val next = m.version + 1
    def load(paths: Seq[String]): DataFrame =
      catLoad(recordedSchema(m), paths, partBase(name, m))
    val allAbs = m.files.map(f => versionsDir(name).resolve(f).toString)
    val cand = probeFrame(name, m, load(allAbs), condition).inputFiles.toSeq
    if (cand.isEmpty) return (m.version, 0L)
    val relOfBase = m.files.map(f => Paths.get(f).getFileName.toString -> f).toMap
    val candRels = cand.flatMap(a =>
      relOfBase.get(a.substring(a.lastIndexOf('/') + 1)))
    val matched = dvAnti(name, m, dvTag(load(cand)), Some(candRels))
      .filter(hit).persist()
    try {
      val touchedBases = matched.select(col("__graft_dv_file")).distinct()
        .collect().map(_.getString(0)).toSeq
      if (touchedBases.isEmpty) return (m.version, 0L)
      val updated = matched.count()
      val touchedRels = touchedBases.map(b => relOfBase.getOrElse(b,
        throw new IllegalStateException(
          s"probe surfaced file '$b' absent from $name v${m.version}")))
      // the UPDATED images, staged as ordinary appended files (hive
      // layout moves partition-assigned rows; constraint guard applies)
      val dataCols = matched.columns.toSeq
        .filterNot(c => c == "__graft_dv_file" || c == "__graft_dv_pos")
      val resolved = assignments.map { case (k, v) =>
        dataCols.find(_.equalsIgnoreCase(k)).getOrElse(
          throw new IllegalArgumentException(
            s"$name has no column '$k' to assign")) -> v
      }
      require(resolved.size == assignments.size,
        "UPDATE assigns the same column twice (names differ only in case)")
      // assignments CAST to the target column's type (ANSI
      // store-assignment, Delta's UPDATE semantics): the image file
      // must keep the table's physical encodings — a literal that
      // parses as DECIMAL landing in a DOUBLE column would otherwise
      // stage a heterogeneous type the by-name reader misdecodes
      val images = matched.select(dataCols.map(c =>
        resolved.get(c).fold(col(c))(v =>
          v.cast(matched.schema(c).dataType).as(c))): _*)
      val st = stage(name, images, m.partitionBy, next)
      // the vectored-out OLD positions (matched rows are live by
      // construction, so each touched file's set strictly grows)
      val newPos = matched
        .select(col("__graft_dv_file").as("fileb"), col("__graft_dv_pos").as("pos"))
      val sidecarRel = writeDvSidecar(name, m, next, newPos, touchedRels)
      val v = commit(name, Some(m), m.partitionBy, CarryAll,
        Map("op" -> "update") ++
          touchedMeta(touchedRels.map(TableManifest.partitionComponent).toSet ++
            st.parts) ++
          touchedRels.map(r => dvKeyOf(r) -> sidecarRel),
        st.copy(sidecars = Seq(sidecarRel)))
      (v, updated)
    } finally {
      matched.unpersist()
      ()
    }
  }

  /** Merge-on-read keyed MERGE (Delta's dv-enabled MERGE): matched
    * target rows' OLD positions are vectored out and their RESOLVED
    * images appended together with the unmatched source rows — a point
    * upsert into a 100 TB table commits O(source rows) bytes where the
    * rewrite path restages every touched partition. Match semantics
    * are [[graft.operators.Upsert.merge]]'s: per-column resolution
    * (default = source value, `smartCases` override); `insertOnly`
    * keeps matched rows untouched — a pure append, no vectors at all.
    * Every image column is CAST to the target column's type (ANSI
    * store-assignment, as [[updateVectors]]): appended files must keep
    * the table's physical encodings or the by-name reader misdecodes.
    * The match probe is [[matchScanFrame]]-pruned (index/bloom on the
    * source's key range), and the pruning cannot lose a match, so the
    * unmatched-source anti-join against the pruned live rows equals
    * the anti-join against the full table. Routed from
    * [[upsertVersioned]] when `graft.deletionVectors = true`;
    * schema-evolving merges stay on the rewrite path (carried files
    * under a widened schema need the recorded-union machinery there).
    * Returns the committed version — the current version unchanged
    * when the merge is a complete no-op. */
  private def upsertVectors(name: String, source: DataFrame,
      keys: Seq[String],
      smartCases: Map[String, (Column, Column) => Column],
      insertOnly: Boolean, m: TableManifest,
      batchToken: Option[String]): Long = {
    requireUniqueBasenames(name, m, "the evolveSchema merge")
    val next = m.version + 1
    def load(paths: Seq[String]): DataFrame =
      catLoad(recordedSchema(m), paths, partBase(name, m))
    val allAbs = m.files.map(f => versionsDir(name).resolve(f).toString)
    val full = load(allAbs)
    val tCols = full.columns.toSeq
    require(keys.nonEmpty, "merge requires at least one key column")
    require(keys.forall(tCols.contains) && keys.forall(source.columns.contains),
      s"both sides must carry the key columns ${keys.mkString(",")}")
    val dataCols = tCols.filterNot(keys.contains)
    val dropped = dataCols.filterNot(source.columns.contains)
    val added = source.columns.filterNot(tCols.contains).toSeq
    require(dropped.isEmpty && added.isEmpty,
      s"source must be schema-aligned with target " +
        s"(missing: ${dropped.mkString(",")}; extra: ${added.mkString(",")}); " +
        "pass evolveSchema = true for the schema-evolving rewrite path")
    require(smartCases.keySet.subsetOf(dataCols.toSet),
      s"smartCases must be keyed on non-key columns; not resolvable: " +
        s"${(smartCases.keySet -- dataCols).mkString(",")}")
    def imgType(c: String) = full.schema(c).dataType
    // candidate files that can hold a match (conservative: files the
    // index cannot exclude are kept), live rows only, tagged (file,pos)
    val relOfBase = m.files.map(f => Paths.get(f).getFileName.toString -> f).toMap
    val candRels = matchScanFrame(name, source, keys, full).inputFiles.toSeq
      .flatMap(a => relOfBase.get(a.substring(a.lastIndexOf('/') + 1)))
    val candAbs = candRels.map(r => versionsDir(name).resolve(r).toString)
    val live =
      if (candAbs.isEmpty) None
      else Some(dvAnti(name, m, dvTag(load(candAbs)), Some(candRels)))
    val inserts0 = live.fold(source) { lv =>
      val lvKeys = lv.select(keys.map(col): _*)
      source.join(lvKeys,
        keys.map(k => source(k) <=> lvKeys(k)).reduce(_ && _), "left_anti")
    }
    val inserts = inserts0.select(tCols.map(c =>
      col(c).cast(imgType(c)).as(c)): _*)
    if (insertOnly || live.isEmpty) {
      // WHEN NOT MATCHED INSERT only — matched rows keep the target row
      val st = stage(name, inserts, m.partitionBy, next)
      if (st.files.isEmpty) return m.version
      return commit(name, Some(m), m.partitionBy, CarryAll,
        Map("op" -> "merge") ++ tokenMeta(batchToken) ++ touchedMeta(st.parts), st)
    }
    val lv = live.get
    val matched = lv.alias("t").join(source.alias("s"),
      keys.map(k => lv(k) <=> source(k)).reduce(_ && _), "inner").persist()
    try {
      val touchedBases = matched.select(col("__graft_dv_file")).distinct()
        .collect().map(_.getString(0)).toSeq
      val matchImages = matched.select(tCols.map(c =>
        (if (keys.contains(c)) col(s"t.$c")
         else smartCases.get(c).map(f => f(col(s"t.$c"), col(s"s.$c")))
           .getOrElse(col(s"s.$c"))).cast(imgType(c)).as(c)): _*)
      val images =
        if (touchedBases.isEmpty) inserts else matchImages.unionByName(inserts)
      val st = stage(name, images, m.partitionBy, next)
      if (touchedBases.isEmpty && st.files.isEmpty) return m.version
      val touchedRels = touchedBases.map(b => relOfBase.getOrElse(b,
        throw new IllegalStateException(
          s"match scan surfaced file '$b' absent from $name v${m.version}")))
      val sidecar =
        if (touchedBases.isEmpty) None
        else {
          val newPos = matched.select(col("__graft_dv_file").as("fileb"),
            col("__graft_dv_pos").as("pos"))
          Some(writeDvSidecar(name, m, next, newPos, touchedRels))
        }
      commit(name, Some(m), m.partitionBy, CarryAll,
        Map("op" -> "merge") ++ tokenMeta(batchToken) ++
          touchedMeta(touchedRels.map(TableManifest.partitionComponent).toSet ++
            st.parts) ++
          sidecar.toSeq.flatMap(s => touchedRels.map(r => dvKeyOf(r) -> s)),
        st.copy(sidecars = sidecar.toSeq))
    } finally {
      matched.unpersist()
      ()
    }
  }

  /** Delta `REORG TABLE ... APPLY (PURGE)` parity: deletion-vector
    * MAINTENANCE without a full OPTIMIZE. Files whose deleted fraction
    * exceeds `threshold` are rewritten live-rows-only (their vectors
    * materialize and shed); every other vectored file keeps its bytes,
    * its positions re-pointed at ONE coalesced sidecar — so a long run
    * of point deletes (one sidecar per commit) collapses to a single
    * sidecar read per scan and the SQL path's 64 MB driver cap stops
    * growing, without rewriting the mostly-live bulk of the table the
    * way OPTIMIZE would. Already-purged tables (nothing above
    * threshold, at most one sidecar) no-op. Returns (newVersion,
    * filesRewritten). */
  def reorgPurge(name: String, threshold: Double = 0.05): (Long, Int) = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"purge threshold must be in [0,1], got $threshold")
    require(exists(name), s"no table $name")
    val m = currentManifest(name)
    val entries = dvEntries(m)
    if (entries.isEmpty) return (m.version, 0)
    val next = m.version + 1
    val vd = versionsDir(name)
    val vectoredRels = entries.keys.toSeq.sorted
    val sidecars = entries.values.toSeq.distinct.map(r => vd.resolve(r).toString)
    val delCounts: Map[String, Long] = FooterSchema.parquet(spark, sidecars: _*)
      .where(col("file").isin(vectoredRels: _*))
      .groupBy("file").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rowCounts = SkippingIndex.rowCounts(spark,
      vectoredRels.map(r => vd.resolve(r).toString))
    val rewriteRels = vectoredRels.filter { r =>
      val rows = math.max(1L, rowCounts.getOrElse(vd.resolve(r).toString, 1L))
      delCounts.getOrElse(r, 0L).toDouble / rows > threshold
    }
    if (rewriteRels.isEmpty && sidecars.size <= 1) return (m.version, 0)
    val keepRels = vectoredRels.filterNot(rewriteRels.contains)
    // materialize the above-threshold files' LIVE rows as new files
    val st =
      if (rewriteRels.isEmpty) Staged()
      else {
        val abs = rewriteRels.map(r => vd.resolve(r).toString)
        val raw = catLoad(recordedSchema(m), abs, partBase(name, m))
        stage(name, dvFilter(name, m, raw, Some(rewriteRels)), m.partitionBy, next)
      }
    // ONE coalesced sidecar carrying the kept files' (unchanged) sets:
    // writeDvSidecar unions the prior sidecars' positions with an empty
    // new-position frame
    val sidecar =
      if (keepRels.isEmpty) None
      else {
        val emptyPos = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(
            org.apache.spark.sql.types.StructField("fileb", StringType),
            org.apache.spark.sql.types.StructField("pos", LongType))))
        Some(writeDvSidecar(name, m, next, emptyPos, keepRels))
      }
    val rewritten = rewriteRels.toSet
    val v = commit(name, Some(m), m.partitionBy, Carry(f => !rewritten(f)),
      Map("op" -> "reorg") ++
        sidecar.toSeq.flatMap(s => keepRels.map(r => dvKeyOf(r) -> s)) ++
        touchedMeta(vectoredRels.map(TableManifest.partitionComponent).toSet ++
          st.parts),
      st.copy(sidecars = sidecar.toSeq), cleared = entries.keys.map(dvKeyOf))
    (v, rewriteRels.size)
  }

  // ---- table properties ----------------------------------------------
  //
  // Delta's TBLPROPERTIES: free-form key→value pairs carried
  // commit-over-commit. The one the engine interprets is
  // [[ParquetCatalog.DeletionVectorsProp]] = "true": row-level
  // DELETE/UPDATE — every door (Scala verb, `cat.sql` text, the
  // registered catalog's SupportsDelete) — routes merge-on-read
  // through the deletion-vector tier instead of rewriting partitions.

  private val PropPrefix = "prop."

  private def propKey(key: String): String =
    PropPrefix + java.net.URLEncoder.encode(key, "UTF-8")

  /** Set (or overwrite) a table property — one metadata commit. A
    * [[ParquetCatalog.BucketByProp]] declaration is validated HERE
    * (format, column existence, bucket-function type support) so a
    * `CREATE TABLE`/`ALTER TABLE` typo fails at declaration, not as a
    * mystery on the first write. The declaration takes effect on the
    * next write that lays out the table (the first batch into an empty
    * table, or any full overwrite); [[overwriteBucketedVersioned]]
    * re-layouts in place. */
  def setTableProperty(name: String, key: String, value: String): Long = {
    if (key == ParquetCatalog.BucketByProp) {
      val parts = value.split(',')
      require(parts.length == 2 && parts(1).nonEmpty &&
        parts(1).forall(_.isDigit) && parts(1).toInt > 0,
        s"${ParquetCatalog.BucketByProp} must be '<column>,<numBuckets>'" +
          s", got '$value'")
      val m0 = currentManifest(name)
      recordedSchema(m0)
        .orElse(scala.util.Try(readVersion(name, m0.version).schema).toOption)
        .foreach { sch =>
          val f = sch.fields.find(_.name.equalsIgnoreCase(parts(0)))
          require(f.isDefined, s"no column '${parts(0)}' on $name to bucket by")
          require(graft.spark.GraftBucketFunction.supports(f.get.dataType),
            s"cannot bucket $name by '${parts(0)}': type " +
              s"${f.get.dataType} has no bucket function (integral " +
              "types, string, date, timestamp, decimal do)")
        }
    }
    if (key == ParquetCatalog.WriteSplitsProp)
      require(value.trim.toIntOption.exists(_ > 0),
        s"${ParquetCatalog.WriteSplitsProp} must be a positive int, " +
          s"got '$value'")
    if (key == ParquetCatalog.ClusterByProp || key == ParquetCatalog.ZorderByProp) {
      val other = if (key == ParquetCatalog.ClusterByProp)
        ParquetCatalog.ZorderByProp else ParquetCatalog.ClusterByProp
      require(!tableProperties(name).contains(other),
        s"$name already declares $other — pick clusterBy OR zorderBy, " +
          "not both (unset the other first)")
      val cols = value.split(',').map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty, s"$key needs at least one column")
      val m0 = currentManifest(name)
      recordedSchema(m0)
        .orElse(scala.util.Try(readVersion(name, m0.version).schema).toOption)
        .foreach { sch =>
          cols.foreach(c => require(
            sch.fields.exists(_.name.equalsIgnoreCase(c)),
            s"no column '$c' on $name to cluster by"))
        }
    }
    setTablePropertyUnchecked(name, key, value)
  }

  /** [[setTableProperty]] minus the bucket-spec schema validation — the
    * re-bucketing verb commits its spec BEFORE restaging, at which
    * point the new bucket column may not exist in the current version
    * yet (it arrives with the overwrite one commit later). */
  private[storage] def setTablePropertyUnchecked(name: String, key: String,
      value: String): Long = {
    require(key.nonEmpty && !value.contains('\n'),
      "property needs a key and a line-safe value")
    // a newly declared graft.indexFor takes effect NOW: the commit's
    // index refresh builds it (one footer pass over the current files)
    val m = currentManifest(name)
    commit(name, Some(m), m.partitionBy, CarryAll,
      Map("op" -> "setProperty", propKey(key) -> value))
  }

  /** Remove a table property — one metadata commit. An absent key
    * refuses loudly by default (a typo must not silently "succeed");
    * `ifExists = true` is the tolerant no-op the registered catalog's
    * `UNSET TBLPROPERTIES [IF EXISTS]` path needs (Spark lowers both
    * spellings to the same RemoveProperty change and expects catalogs
    * to tolerate missing keys). */
  def unsetTableProperty(name: String, key: String,
      ifExists: Boolean = false): Long = {
    require(exists(name), s"no table $name")
    val m = currentManifest(name)
    if (ifExists && !m.meta.contains(propKey(key))) return m.version
    require(m.meta.contains(propKey(key)), s"no property '$key' on $name")
    commit(name, Some(m), m.partitionBy, CarryAll, Map("op" -> "unsetProperty"),
      cleared = Seq(propKey(key)))
  }

  /** The table's properties (empty when the table does not exist). */
  def tableProperties(name: String): Map[String, String] =
    if (!exists(name)) Map.empty
    else currentManifest(name).meta.collect {
      case (k, v) if k.startsWith(PropPrefix) =>
        java.net.URLDecoder.decode(k.drop(PropPrefix.length), "UTF-8") -> v
    }

  /** A comma-list property's declared columns (empty when unset). */
  private def declaredCols(name: String, prop: String): Seq[String] =
    tableProperties(name).get(prop).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  private def dvEnabled(m: TableManifest): Boolean =
    m.meta.get(propKey(ParquetCatalog.DeletionVectorsProp)).contains("true")

  // ---- the commit routine ------------------------------------------
  //
  // Every catalog write commits through [[commit]]: the one place that
  // states the transaction protocol (docs/COMMIT_PROTOCOL.md). A verb
  // stages its files ([[stage]] returns a [[Staged]]), then hands
  // `commit` its base version, how the new file list derives from that
  // base ([[FileSet]]) and its own meta (op, batch token, touched
  // footprint, the keys only it knows). `commit` derives everything
  // else a version records, creates the manifest by compare-and-swap,
  // handles a lost race, and refreshes the skipping index.

  private val CarryAll = Carry(_ => true)

  /** Every file restaged, but the base's recorded schema still holds —
    * the whole-table UPDATE and sync restages. */
  private val RestageKeepingSchema = Carry(_ => false)

  /** Every base file outside the partition components `parts`. */
  private def carryOutside(parts: Set[String]): Carry =
    Carry(f => !parts.contains(TableManifest.partitionComponent(f)))

  /** THE commit: derive version `base + 1` (1 for a new table) from the
    * verb's file set, staged value and meta, create its manifest by
    * compare-and-swap, and refresh the skipping index. On a lost race a
    * `ff` commit tries [[fastForward]]; otherwise — or when that gives
    * up — the staged files and sidecars are deleted and the
    * [[ConcurrentWriteException]] propagates, so nothing of a failed
    * commit ever becomes visible. `cleared` names base meta keys the
    * verb drops. Returns the committed version. */
  private def commit(name: String, base: Option[TableManifest],
      pb: Seq[String], files: FileSet, meta: Map[String, String],
      st: Staged = Staged(), cleared: Iterable[String] = Nil,
      ff: Option[FastForward] = None): Long = {
    val m = manifestOn(name, base, pb, files, meta, st, cleared)
    val version =
      try { createManifest(name, m); m.version }
      catch {
        case e: ConcurrentWriteException =>
          ff.flatMap(g => fastForward(name, base.get, pb, files, meta, st,
            cleared, g)).getOrElse {
            (st.files ++ st.sidecars).foreach(r =>
              Files.deleteIfExists(versionsDir(name).resolve(r)))
            throw e
          }
      }
    refreshIndex(name)
    version
  }

  /** The manifest a commit on top of `base` records. Beyond the verb's
    * own `meta` (applied last, so it wins) it carries:
    *   - [[carriedMeta]] of the base minus `cleared` — the txn
    *     registry, constraints, properties, column ids, dropped-name
    *     markers and deletion-vector pointers; a full restage (every
    *     listed file staged here) carries no old bytes, so its dropped-
    *     name markers clear;
    *   - the base's recorded `schema` when the file set carries base
    *     files ([[Carry]], [[Append]]) — carried files may predate an
    *     evolution and lack its columns; a zero-file version records the
    *     staged frame's schema instead, so it stays readable;
    *   - `bytesAdded`, the bytes of the staged files and sidecars (so
    *     streaming admission budgets from the manifest alone), and the
    *     staged footers' `colid.` assignments with the `colidmax`
    *     high-water;
    *   - the monotonic `ts` ([[stampTs]]).
    * A self-contained manifest sheds the deletion-vector pointers of
    * files it no longer lists — how compaction "materializes" deletes
    * with no per-verb code; a delta only adds files, so its carried
    * pointers stay valid. */
  private def manifestOn(name: String, base: Option[TableManifest],
      pb: Seq[String], files: FileSet, meta: Map[String, String],
      st: Staged, cleared: Iterable[String]): TableManifest = {
    val version = base.fold(1L)(_.version + 1)
    val prior = base.toSeq.flatMap(_.files)
    val listed = files match {
      case Restage => st.files
      case Carry(keep) => prior.filter(keep) ++ st.files
      case Append => prior ++ st.files
      case Listed(fs) => fs
    }
    val baseSchema = files match {
      case Carry(_) | Append => base.flatMap(_.meta.get("schema"))
      case _ => None
    }
    val schema =
      if (listed.isEmpty) st.schema.map(_.toDDL).orElse(baseSchema) else baseSchema
    val carried0 = base.fold(Map.empty[String, String])(carriedMeta) -- cleared
    val staged = st.files.toSet
    val carried =
      if (listed.forall(staged)) carried0.filterNot(_._1.startsWith(DroppedPrefix))
      else carried0
    val bytes = (st.files ++ st.sidecars).map { r =>
      try Files.size(versionsDir(name).resolve(r))
      catch { case _: Exception => 0L }
    }.sum
    val ids =
      if (st.files.isEmpty) Map.empty[String, String]
      else st.colIds.map { case (c, i) => colIdKey(c) -> i.toString } +
        ("colidmax" -> math.max(carried.get("colidmax").map(_.toInt).getOrElse(0),
          st.colIds.values.max).toString)
    val all = carried ++ schema.map("schema" -> _) +
      ("bytesAdded" -> bytes.toString) ++ meta ++ ids
    val delta = files == Append && base.exists(b =>
      chainDepth(name, b.version) < ParquetCatalog.SnapshotInterval - 1)
    val m =
      if (delta) TableManifest(version, pb, all, st.files, base = base.map(_.version))
      else {
        val fs = listed.toSet
        TableManifest(version, pb, all.filterNot { case (k, _) =>
          k.startsWith(DvPrefix) &&
            !fs.contains(java.net.URLDecoder.decode(k.drop(DvPrefix.length), "UTF-8"))
        }, listed)
      }
    stampTs(name, m)
  }

  /** CAS: atomically create `vN.manifest` from a fully-written temp
    * file. Exactly one writer can create a given N; the loser gets
    * [[ConcurrentWriteException]]. Locally the create-exclusive
    * primitive is `Files.createLink` (atomic, content-complete); on
    * object storage the same step is a conditional PUT. */
  private def createManifest(name: String, m: TableManifest): Unit = {
    val vd = versionsDir(name)
    Files.createDirectories(vd)
    val tmp = vd.resolve(s".manifest-tmp-${nonce()}")
    Files.writeString(tmp, m.render)
    try Files.createLink(manifestPath(name, m.version), tmp)
    catch {
      case _: FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new ConcurrentWriteException(
          s"version ${m.version} of $name was committed by another writer " +
            "since this operation read the table; re-read and retry")
    }
    Files.deleteIfExists(tmp)
  }

  /** Stamp the commit wall-clock into `meta.ts`, STRICTLY MONOTONIC per
    * table: the stamp is `max(now, prior ts + 1)` — Delta's commit-
    * timestamp adjustment — so `TIMESTAMP AS OF` resolution
    * ([[versionAsOf]]) can never see ties or clock regressions. One
    * raw parse of the immediately-prior manifest per commit (the prior
    * of any new commit IS the current version, so it is retained; the
    * catch covers only crash-window debris). Pre-timestamp manifests
    * simply lack the key — readers treat them as arbitrarily old. */
  private def stampTs(name: String, m: TableManifest): TableManifest =
    if (m.meta.contains("ts")) m
    else {
      val floor =
        if (m.version <= 1L) 0L
        else
          (try TableManifest.parse(manifestPath(name, m.version - 1))
              .meta.get("ts").map(_.toLong + 1L)
           catch { case _: Exception => None }).getOrElse(0L)
      m.copy(meta = m.meta +
        ("ts" -> math.max(System.currentTimeMillis(), floor).toString))
    }

  // ---- logical conflict detection (disjoint-writer fast-forward) -----
  //
  // Delta's conflict checker: two optimistic writers whose commits
  // touch DISJOINT partitions do not actually conflict — the CAS loser
  // should not have to re-read and re-stage. Partition-scoped verbs
  // record the partition components they rewrote as `touched` meta
  // (pure appends record the partitions they added into; full
  // restages, ALTERs, and legacy commits record nothing = "anything").
  // On a lost CAS, [[fastForward]] re-commits the loser's
  // already-staged files on top of the winner when every interleaved
  // commit declared a disjoint set and left layout, recorded schema,
  // column mapping, and constraints untouched — otherwise the normal
  // full retry runs.

  /** The partition components a commit rewrote/added into: Some(set)
    * when declared, None = could be anything (conservative). */
  private def touchedOf(meta: Map[String, String]): Option[Set[String]] =
    meta.get("touched").map { v =>
      if (v.isEmpty) Set.empty[String]
      else v.split(',').map(java.net.URLDecoder.decode(_, "UTF-8")).toSet
    }

  private def touchedMeta(comps: Set[String]): Map[String, String] =
    Map("touched" -> comps.toSeq.sorted
      .map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(","))

  /** Meta a fast-forward must see UNCHANGED across every interleaved
    * commit: recorded schema, column mapping, CHECK constraints (a new
    * constraint must re-validate our staged rows), and the layout. */
  private def ffGuardMeta(m: TableManifest): (Seq[String], Option[String],
      Option[String], Map[String, String]) =
    (m.partitionBy, m.meta.get("schema"), m.meta.get("colmap"),
      m.meta.filter(_._1.startsWith(ConstraintPrefix)))

  /** Fast-forward a partition-scoped commit whose CAS lost: when every
    * commit since `base` declared a touched set DISJOINT from our
    * footprint (the `touched` set of our `meta` — rewritten ∪ added-
    * into partitions: a partition-moving UPDATE adds files into
    * partitions it never rewrote, and an interleaved writer there IS a
    * conflict) and changed nothing a restage would have observed, our
    * staged files re-commit on top of the winner VERBATIM — the file
    * set and meta re-derive against the winner, neither writer
    * re-stages. Returns the committed version; None = not provably
    * disjoint (the caller cleans the staged files and the full
    * optimistic retry runs).
    *
    * `mergeRead` (keys, source): a keyed MERGE's correctness depends on
    * its READ set — every row matching a source key, wherever it lives
    * — not just its write footprint. Partition disjointness alone
    * admits a non-serializable interleaving: two merges each inserting
    * the SAME new key into different partitions both land, duplicating
    * the key (no serial order produces that — the second merge would
    * have MATCHED the first's row). Delta raises
    * ConcurrentAppendException here. So a merge loser additionally
    * scans ONLY the files the interleaved window ADDED for its key
    * domain; any hit refuses the fast-forward (conservative — the full
    * optimistic retry re-reads and re-merges). Rows the window REMOVED
    * are safe to slide past: a removed row in a disjoint partition was
    * never matched by us (a match would have made its partition part
    * of our footprint), so winner-then-loser serial order reproduces
    * the fast-forwarded state exactly. */
  private def fastForward(name: String, base: TableManifest, pb: Seq[String],
      files: FileSet, meta: Map[String, String], st: Staged,
      cleared: Iterable[String], g: FastForward): Option[Long] = {
    val footprint = touchedOf(meta).getOrElse(return None)
    val guard = ffGuardMeta(base)
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val w = currentManifest(name)
      if (w.version <= base.version) return None
      val clean =
        try ((base.version + 1) to w.version).forall { v =>
          val mv = manifest(name, v)
          touchedOf(mv.meta).exists(_.intersect(footprint).isEmpty) &&
            ffGuardMeta(mv) == guard
        } catch { case _: IllegalArgumentException => false } // vacuumed window
      if (!clean) return None
      val readClear = g.mergeRead.forall { case (keys, source) =>
        val added = (w.files.toSet -- base.files.toSet).toSeq.sorted
        added.isEmpty || {
          val probe = readFileSubset(name, w, added, None)
          val srcKeys = source.select(keys.map(col): _*)
          val cond = keys.map(k => probe(k) <=> srcKeys(k)).reduce(_ && _)
          probe.join(broadcast(srcKeys), cond, "left_semi").isEmpty
        }
      }
      if (!readClear) return None
      val m = manifestOn(name, Some(w), pb, files, meta, st, cleared)
      try { createManifest(name, m); return Some(m.version) }
      catch {
        case _: ConcurrentWriteException =>
        // raced again: loop re-reads the new winner; the staged files
        // are still ours to commit
      }
    }
    None
  }

  /** Write `df` through a staging dir, then move each produced parquet
    * file into the shared `data/` tree under a version-and-nonce-unique
    * name. Returns the [[Staged]] value [[commit]] takes: the manifest-
    * relative paths — EMPTY for an empty frame (Spark writes no data
    * files for one; the commit then records the frame's schema) — with
    * the column ids their footers carry. */
  /** `orderWithinCells`: extra sort expressions applied INSIDE each
    * layout cell after distribution (compact's cluster / z-order
    * key) — when set, the frame is taken as ALREADY ordered on
    * non-redistributing paths. `forceDistribute`: apply the bucketed
    * cell distribution even under the kill switch (compaction IS a
    * rewrite job — OPTIMIZE must never silently no-op because write
    * shuffles are off). `identitySplits`: let a declared
    * `graft.writeSplits` salt-redistribute identity layouts —
    * compaction verbs disable it (the salt would void their own
    * bin-packing and clustering). See the clustered-write block
    * below. */
  private def stage(name: String, df0: DataFrame, partitionBy: Seq[String],
      version: Long, orderWithinCells: Seq[Column] = Nil,
      forceDistribute: Boolean = false,
      identitySplits: Boolean = true): Staged = {
    // HIDDEN-PARTITION semantics for bucket-declared tables: the bucket
    // id column is DERIVED, never trusted — a plain `INSERT INTO` (or
    // any verb's restage) supplying a wrong `_gbucket` value would
    // corrupt the layout invariant bucket SPJ and runtime bucket
    // pruning rely on (a file's rows all hashing to its bucket), and
    // the misrouted rows would silently vanish from zipped joins. So
    // every frame staged UNDER A BUCKETED LAYOUT recomputes it from the
    // declared column (Iceberg's hidden bucket transform) — added when
    // absent (the pure-SQL CTAS/INSERT door, r19) and replaced when
    // supplied. The re-bucketing verb commits its NEW spec before
    // restaging, so this always derives under the spec the commit will
    // carry; frames staged under a layout WITHOUT the bucket level
    // (a still-declared-only table's appends) stay untouched, so the
    // synthetic column never leaks into a data file.
    val derived = bucketSpec(name) match {
      case Some((c, n)) if partitionBy.exists(
            _.equalsIgnoreCase(ParquetCatalog.BucketPartCol)) &&
          df0.columns.exists(_.equalsIgnoreCase(c)) =>
        df0.withColumn(ParquetCatalog.BucketPartCol, bucketIdExpr(c, n))
      case _ => df0
    }
    // CLUSTERED WRITE DISTRIBUTION (r20): stage used to write the
    // CALLER's task layout verbatim, so an N-task INSERT into a
    // `partitionBy(date) + bucket(k)` table emitted up to N×dates×k
    // files per batch — a real file-count explosion at 100 TB whose
    // only remedy was a later full compact(). Under a bucketed layout
    // the staged frame hash-redistributes by the layout columns, so
    // each (identity × bucket) cell lands in exactly one task — AT
    // MOST ONE file per cell per batch. A declared `graft.clusterBy`
    // (or compact's explicit `orderWithinCells` z-order key)
    // additionally sorts within each task, layout prefix FIRST and as
    // expressions rather than temp columns: the dynamic-partition
    // writer's required ordering is then already satisfied and it
    // never re-sorts the cluster order away. Runs AFTER the hidden
    // bucket derivation (sorting a column the derivation would replace
    // would void the ordering and trigger that re-sort). One extra
    // batch-sized shuffle per write; `spark.graft.write.
    // distributeByLayout = false` restores the verbatim task layout.
    // Identity-only layouts are NOT redistributed: without a bucket
    // level a hot partition would collapse into a single task.
    val distributeOn = spark.conf
      .get("spark.graft.write.distributeByLayout", "true").toBoolean
    val declaredOrd = declaredCols(name, ParquetCatalog.ClusterByProp)
      .filter(c => derived.columns.exists(_.equalsIgnoreCase(c)))
      .map(col)
    // an explicit orderWithinCells (compact's requested cluster key)
    // always wins over the declaration
    val ord = if (orderWithinCells.nonEmpty) orderWithinCells else declaredOrd
    val df =
      if (partitionBy.exists(_.equalsIgnoreCase(ParquetCatalog.BucketPartCol))
          && (distributeOn || forceDistribute)) {
        val cells = partitionBy.map(col)
        val re = derived.repartition(cells: _*)
        if (ord.nonEmpty) re.sortWithinPartitions(cells ++ ord: _*) else re
      } else if (partitionBy.nonEmpty && distributeOn && identitySplits &&
          declaredCols(name, ParquetCatalog.WriteSplitsProp).headOption
            .flatMap(_.toIntOption).exists(_ > 0)) {
        // IDENTITY-only layouts with a declared `graft.writeSplits=S`:
        // distribute by (identity cols, row-salt in [0,S)) — each
        // partition lands in AT MOST S files per batch while still
        // spreading across S tasks, so a hot partition never collapses
        // into one task (why identity layouts get no automatic
        // distribution). The salt is a shuffle key only, never
        // written. Compaction verbs pass identitySplits = false: they
        // arrange their own distribution (rowsPerFile bin-packing,
        // range clustering) which the salt would void.
        val s = declaredCols(name, ParquetCatalog.WriteSplitsProp)
          .head.toInt
        val keys = partitionBy.map(col) :+ floor(rand(42) * s).cast("int")
        // explicit task count with collision headroom: (partition,
        // salt) combos are HASHED into tasks, and a task holding two
        // combos of one partition merges their files — a floor well
        // above the salt domain keeps the spread real even in
        // small-shuffle sessions (the cap ≤ S per partition holds
        // regardless; sessions with larger shuffle.partitions keep
        // their own parallelism)
        val n = math.max(s,
          math.max(64, spark.sessionState.conf.numShufflePartitions))
        val re = derived.repartition(n, keys: _*)
        if (ord.nonEmpty)
          re.sortWithinPartitions(partitionBy.map(col) ++ ord: _*)
        else re
      } else if (ord.nonEmpty &&
          !(partitionBy.isEmpty && orderWithinCells.nonEmpty))
        // non-bucketed clustered tables: the in-task sort costs no
        // shuffle and keeps ROW-GROUP min/max tight between OPTIMIZE
        // runs. The PARTITIONED case must always sort here with the
        // layout prefix first — even when the caller pre-sorted by the
        // cluster key alone — because the dynamic-partition writer
        // otherwise inserts its own partition-column sort, whose
        // spill-merge does not preserve the within-partition cluster
        // order. Only the UNPARTITIONED pre-sorted case (compact's
        // frames, which arrive already ordered and face no writer
        // re-sort) skips the redundant per-row re-evaluation.
        derived.sortWithinPartitions(partitionBy.map(col) ++ ord: _*)
      else derived
    val vd = versionsDir(name)
    Files.createDirectories(dataDir(name))
    val nn = nonce()
    val stageDir = stagingDir(name, nn)
    // every staged file carries the table's stable column ids in its
    // footers (fieldId.write.enabled is Spark's default) — the enabler
    // for metadata-only RENAME COLUMN; a no-op for readers until the
    // table's mapping is activated
    val ids = stagedColIds(name, df.schema)
    val guarded = constraintGuard(name, version, df, partitionBy)
    val tagged = guarded.select(guarded.schema.fields.map { f =>
      guarded(f.name).as(f.name, new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putLong("parquet.field.id", ids(f.name).toLong).build())
    }.toSeq: _*)
    val w = writeOpts(name, tagged.write.mode(SaveMode.Overwrite))
    // Spark's DEFAULT TimestampType encoding is INT96 — parquet records
    // NO stats for it, which would make every self-written event-time
    // column unprunable and metadata-MIN/MAX-blind. Staged LTZ columns
    // therefore write TIMESTAMP_MICROS (stats-bearing, annotated
    // `TIMESTAMP(MICROS,true)` — the variant the pruners accept) unless
    // the session explicitly chose MILLIS/MICROS itself. Session-conf
    // only (parquet has no per-write option); concurrent graft stages
    // want the same value, and the prior resolved value is restored.
    def hasLtz(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.TimestampType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasLtz(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasLtz(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasLtz(m.keyType) || hasLtz(m.valueType)
      case _ => false
    }
    // refcounted per session (ParquetCatalog.LtzMicrosOverride): the
    // conf flips on the FIRST concurrent stage's entry and restores on
    // the LAST's exit, so overlapping staged writes can never interleave
    // a restore into another stage's planning window (which would write
    // stats-less INT96 files mid-batch)
    val tsOverride = tagged.schema.fields.exists(f => hasLtz(f.dataType)) &&
      ParquetCatalog.LtzMicrosOverride.enter(spark)
    // a failed write (e.g. a CHECK-constraint violation raised mid-job)
    // must not leave partial staging for vacuum to babysit
    try (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stageDir.toString)
    catch {
      case e: Throwable =>
        if (Files.exists(stageDir)) deleteRecursively(stageDir)
        throw e
    } finally if (tsOverride) ParquetCatalog.LtzMicrosOverride.exit(spark)
    val s = Files.walk(stageDir)
    val staged =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .toList
      finally s.close()
    // the per-file index makes BASENAMES globally unique: a partitioned
    // write reuses one task's part-file name across partition dirs, and
    // the deletion-vector join keys on basenames
    val rels = staged.zipWithIndex.map { case (p, i) =>
      val rel = stageDir.relativize(p)
      val fname = s"v$version-$nn-$i-${rel.getFileName}"
      val destRel = Option(rel.getParent) match {
        case Some(parent) => Paths.get("data").resolve(parent).resolve(fname)
        case None => Paths.get("data").resolve(fname)
      }
      val dest = vd.resolve(destRel)
      Files.createDirectories(dest.getParent)
      Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
      destRel.toString
    }
    deleteRecursively(stageDir)
    Staged(rels, colIds = ids, schema = Some(df0.schema))
  }

  // ---- exactly-once batch-token registry ----------------------------
  //
  // Delta's `txn` action semantics: a streaming sink identifies as
  // (sinkId, batchId) — the batch token is "<sinkId>#<batchId>" — and
  // EVERY commit carries the table's high-water map forward as
  // `meta.txn.<sinkId>=<batchId>`. Replay idempotence therefore
  // survives `vacuum(keep=1)` (the CURRENT manifest alone answers the
  // probe) and the probe is one map lookup, not an O(versions) reverse
  // manifest sweep. Structured Streaming batchIds are monotonic per
  // checkpoint and batch N is re-delivered only when batches < N are
  // durably complete, so `incoming <= high-water → no-op` is exactly
  // the at-most-once contract.

  private val TxnPrefix = "txn."

  /** Everything a commit carries forward verbatim: the exactly-once
    * txn registry AND the table's CHECK constraints — both must
    * survive every verb (incl. a full overwrite: Delta keeps
    * constraints across `overwrite` mode too). [[restore]] is the one
    * exception — it restores the SOURCE version's constraints (they
    * ride `src.meta`) while still carrying txn from current. */
  private def carriedMeta(m: TableManifest): Map[String, String] =
    m.meta.filter { case (k, _) =>
      k.startsWith(TxnPrefix) || k.startsWith(ConstraintPrefix) ||
        k.startsWith(ColIdPrefix) || k.startsWith(DroppedPrefix) ||
        k.startsWith(DvPrefix) || k.startsWith(PropPrefix) ||
        k == "colmap" || k == "colidmax"
    }

  /** Sink ids are URL-encoded into the meta key — they are paths
    * (checkpoint dirs) and the manifest line format reserves '='. */
  private def txnKey(sinkId: String): String =
    TxnPrefix + java.net.URLEncoder.encode(sinkId, "UTF-8")

  /** Split "sinkId#batchId" at the LAST '#' (sink ids are paths and may
    * themselves contain '#'). */
  private def parseBatchToken(tok: String): (String, Long) = {
    val i = tok.lastIndexOf('#')
    require(i > 0 && i < tok.length - 1 && tok.drop(i + 1).forall(_.isDigit),
      s"batch token must be '<sinkId>#<batchId>' with a numeric batchId: $tok")
    (tok.take(i), tok.drop(i + 1).toLong)
  }

  /** True when `tok`'s batch is already committed: one lookup in the
    * current manifest's registry. Legacy tables (manifests that predate
    * the registry carry only per-commit `batch` tokens) fall back to
    * the reverse sweep ONCE per sink — the first registry-writing
    * commit makes every later probe O(1). */
  private def batchAlreadyCommitted(m: TableManifest, name: String,
      tok: String): Boolean = {
    val (sink, id) = parseBatchToken(tok)
    m.meta.get(txnKey(sink)) match {
      case Some(hw) => id <= hw.toLong
      case None => versions(name).reverseIterator.exists { v =>
        // meta rides every manifest form; a version vacuumed away
        // mid-sweep simply no longer answers for its token
        scala.util.Try(rawManifest(name, v).meta.get("batch").contains(tok))
          .getOrElse(false)
      }
    }
  }

  /** The meta a token-carrying commit records: the display token plus
    * the sink's advanced high-water entry. */
  private def tokenMeta(batchToken: Option[String]): Map[String, String] =
    batchToken.map { tok =>
      val (sink, id) = parseBatchToken(tok)
      Map("batch" -> tok, txnKey(sink) -> id.toString)
    }.getOrElse(Map.empty)

  // ---- CHECK constraints --------------------------------------------
  //
  // Delta `ALTER TABLE ADD CONSTRAINT` semantics on the manifest tier:
  // `meta.constraint.<name>=<sql expr>` rides EVERY commit (carriedMeta),
  // adding one validates ALL existing rows first (one scan — the same
  // price Delta pays), and every subsequent write verb enforces it
  // INSIDE the staging write's own pass: the guard is a codegen'd
  // filter whose violation branch is `raise_error`, so enforcement
  // costs zero extra scans of the incoming frame — at 100 TB a
  // validate-then-write double scan of a merge restage would double
  // the write path. SQL CHECK semantics: NULL passes, only FALSE
  // violates.

  private val ConstraintPrefix = "constraint."

  private def constraintKey(cname: String): String =
    ConstraintPrefix + java.net.URLEncoder.encode(cname, "UTF-8")

  /** The table's CHECK constraints, name → SQL expression. */
  def constraints(name: String): Map[String, String] =
    if (!exists(name)) Map.empty
    else currentManifest(name).meta.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        java.net.URLDecoder.decode(k.drop(ConstraintPrefix.length), "UTF-8") -> v
    }

  /** One constraint's violation predicate: TRUE only where the CHECK
    * expression is definitively FALSE (SQL semantics — NULL passes). */
  private def violates(sqlExpr: String): Column =
    !coalesce(expr(sqlExpr), lit(true))

  /** Embed the table's CHECK constraints into a frame about to be
    * staged: each violating row raises mid-write, so a violating verb
    * fails LOUDLY and commits nothing (the staging dir is cleaned, the
    * manifest CAS never runs). The guard is a COLUMN WRAP, not a
    * filter: one output column is replaced with
    * `when(violates, raise_error).otherwise(itself)`. A filter guard —
    * even a nondeterministic one — is unsafe here: deterministic
    * filters are pushed below joins/anti-joins and raise on rows the
    * plan would have discarded, and Spark 4 constant-folds decidable
    * nondeterministic comparisons (`rand() >= -1` simply vanishes).
    * Projections are never relocated across joins and the writer
    * consumes every output column, so the wrap can only evaluate on
    * rows that actually land — and it stays inside whole-stage
    * codegen. Constraints are read from the PRIOR manifest
    * (`version - 1`) with one raw parse — meta rides every manifest
    * form in full, so no chain resolution is needed. The guard FAILS
    * CLOSED: only the one legitimate crash window — the prior manifest
    * file vanished (a concurrent vacuum took a pinned older snapshot) —
    * falls back to the CURRENT manifest, whose meta carries the same
    * constraints; a corrupt or unreadable manifest rethrows rather
    * than silently skipping enforcement for the write. */
  private[graft] def constraintGuard(name: String, version: Long,
      df: DataFrame, partitionBy: Seq[String]): DataFrame =
    if (version <= 1L) df
    else {
      val priorMeta =
        try TableManifest.parse(manifestPath(name, version - 1)).meta
        catch {
          case _: java.nio.file.NoSuchFileException =>
            // a concurrent vacuum took the pinned prior. Constraints
            // ride every manifest, so the current one answers
            // equivalently; if the same race window makes THAT read
            // throw transiently too, enforcement may safely be skipped:
            // the prior vanishing means a newer version exists, so this
            // writer's version-number CAS is already doomed and its
            // unguarded staging can never become visible. (Corruption
            // still rethrows above — that path stays fail-closed.)
            scala.util.Try(currentManifest(name).meta)
              .getOrElse(Map.empty[String, String])
        }
      val cs = priorMeta
        .collect { case (k, v) if k.startsWith(ConstraintPrefix) =>
          java.net.URLDecoder.decode(k.drop(ConstraintPrefix.length), "UTF-8") -> v
        }
      if (cs.isEmpty) df
      else {
        // wrap a non-partition column when one exists (the hive layout
        // renders partition values from the column; identity-or-raise
        // keeps values identical, but why make the writer think)
        val guardCol = df.columns.find(!partitionBy.contains(_))
          .getOrElse(df.columns.head)
        val dt = df.schema(guardCol).dataType
        val msgCols = struct(df.columns.map(col).toSeq: _*)
        val wrapped = cs.foldLeft(col(guardCol)) { case (acc, (cn, e)) =>
          when(violates(e), raise_error(concat(
            lit(s"CHECK constraint '$cn' violated ($e) by row: "),
            to_json(msgCols))).cast(dt))
            .otherwise(acc)
        }
        df.withColumn(guardCol, wrapped)
      }
    }

  /** Add a CHECK constraint (Delta `ADD CONSTRAINT` parity): validates
    * every EXISTING row first (one scan; a violating table refuses the
    * constraint loudly), then commits it as a metadata-only version —
    * 100 % of files re-referenced, op verb `setConstraint`. Every later
    * write verb enforces it in-pass; [[dropConstraint]] removes it. */
  def addConstraint(name: String, cname: String, sqlExpr: String): Long = {
    require(cname.nonEmpty && !sqlExpr.contains('\n'),
      "constraint needs a name and a line-safe SQL expression")
    val m = currentManifest(name)
    val key = constraintKey(cname)
    require(!m.meta.contains(key), s"constraint '$cname' already exists on $name")
    val bad = readVersion(name, m.version).filter(violates(sqlExpr))
      .limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"cannot add constraint '$cname' ($sqlExpr) to $name: existing " +
          s"rows violate it, e.g. ${bad.head}")
    commit(name, Some(m), m.partitionBy, CarryAll,
      Map("op" -> "setConstraint", key -> sqlExpr))
  }

  /** Remove a CHECK constraint — a metadata-only commit (verb
    * `dropConstraint`); later writes stop enforcing it. */
  def dropConstraint(name: String, cname: String): Long = {
    val m = currentManifest(name)
    val key = constraintKey(cname)
    require(m.meta.contains(key), s"no constraint '$cname' on $name")
    commit(name, Some(m), m.partitionBy, CarryAll,
      Map("op" -> "dropConstraint"), cleared = Seq(key))
  }

  /** Zero-copy clone (Delta `SHALLOW CLONE` parity, but
    * vacuum-independent): `dst` is born at version 1 with `src`'s
    * file list at `version` (default: current), each data file
    * HARD-LINKED into dst's OWN data tree — zero bytes copied, O(files)
    * metadata ops (the object-store analogue is a server-side copy).
    * Unlike a shallow clone that points into the source's tree, the
    * link makes the clone fully independent: either table can vacuum,
    * compact, or be deleted without ever invalidating the other —
    * write-once data files mean a shared inode can never be mutated
    * through either path. CHECK constraints and the recorded schema
    * ride the copied meta; the txn registry and commit stamp do NOT
    * (a clone is a new sink target, and its birth is a new commit).
    * Filesystems without hard links fall back to a real copy. */
  def cloneTable(src: String, dst: String,
      version: Option[Long] = None): Long = {
    require(exists(src), s"no table $src")
    require(!exists(dst),
      s"clone target $dst already exists")
    val v = version.getOrElse(currentVersion(src))
    val m = manifest(src, v)
    // a failed clone (e.g. the source vacuumed a file mid-link) must
    // not leave a half-linked tree behind — dst has no manifest yet,
    // so nothing would ever vacuum it. Deletion-vector sidecars link
    // along with the data files their pointers reference — the cloned
    // meta carries the pointers, so the targets must exist in dst's
    // own tree.
    try (m.files ++ dvEntries(m).values.toSeq.distinct).foreach { rel =>
      val from = versionsDir(src).resolve(rel)
      val to = versionsDir(dst).resolve(rel)
      Files.createDirectories(to.getParent)
      try Files.createLink(to, from)
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
      }
    } catch {
      case e: Throwable =>
        if (Files.exists(versionsDir(dst))) deleteRecursively(versionsDir(dst))
        throw e
    }
    commit(dst, None, m.partitionBy, Listed(m.files),
      m.meta.filterNot { case (k, _) =>
        k == "batch" || k == "ts" || k.startsWith(TxnPrefix)
      } + ("op" -> "clone") + ("clonedFrom" -> s"$src@$v"))
  }

  /** Migrate a plain hive directory an older build left at
    * `<root>/<name>` in place: its files become the shared data tree and
    * version 1's manifest (op `migrate`) lists them all, with the
    * partition layout inferred from the `k=v` dirs and a skipping index
    * kept inside the dir moved next to the manifests. The one piece of
    * code that knows that layout; [[versions]] runs it, so the first
    * touch of the name — a read included — migrates. A `.migrating`
    * marker written before the move lets a crash between the move and
    * the commit finish on the next touch. One migration at a time per
    * JVM; the common case (no plain dir, no marker) costs two stats. */
  private def migrateIfPlain(name: String): Unit = {
    val plain = tableDir(name)
    val vd = versionsDir(name)
    val marker = vd.resolve(".migrating")
    if (Files.isDirectory(plain) || Files.exists(marker)) ParquetCatalog.synchronized {
      val dd = dataDir(name)
      if (listVersions(name).isEmpty &&
          (Files.isDirectory(plain) || Files.exists(marker))) {
        if (Files.isDirectory(plain)) {
          require(!Files.isSymbolicLink(plain),
            s"$name uses the legacy symlink version layout; rebuild the table")
          require(!Files.exists(dd), s"cannot migrate $name: $dd already exists")
          val from = plain.toRealPath().toString
          Files.createDirectories(vd)
          Files.writeString(marker, from)
          Files.move(plain, dd, StandardCopyOption.ATOMIC_MOVE)
        }
        val innerStats = dd.resolve("_graft_stats.json")
        if (Files.exists(innerStats)) {
          Files.move(innerStats, statsPath(name), StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          SkippingIndex.relocate(statsPath(name), Files.readString(marker),
            dd.toString)
        }
        val s = Files.walk(dd)
        val rels =
          try s.iterator().asScala
            .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
            .map(p => vd.relativize(p).toString).toList.sorted
          finally s.close()
        // the migration ADDS every file: its bytes are what streaming
        // admission must budget for version 1
        val bytes = rels.map(r => Files.size(vd.resolve(r))).sum
        commit(name, None, inferPartitionBy(rels), Listed(rels),
          Map("op" -> "migrate", "bytesAdded" -> bytes.toString))
        Files.delete(marker)
      }
    }
  }

  /** Partition columns implied by hive `k=v` segments of data paths. */
  private def inferPartitionBy(rels: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    rels.headOption.toSeq.flatMap { f =>
      f.split('/').drop(1).dropRight(1).filter(_.contains('='))
        .map(seg => ExternalCatalogUtils.unescapePathName(seg.takeWhile(_ != '=')))
    }
  }

  /** Hash-BUCKETED versioned overwrite: rows land under `n` bucket
    * partitions keyed by `pmod(hash(col), n)` — catalyst Murmur3,
    * seed 42, the exact function [[graft.spark.GraftBucketFunction]]
    * exposes to Spark — stored as hive dirs of the synthetic
    * [[ParquetCatalog.BucketPartCol]] column, with the spec recorded
    * as the [[ParquetCatalog.BucketByProp]] TBLPROPERTY. The
    * registered catalog then reports scans of this table as a
    * `bucket(n, col)` KeyGroupedPartitioning under Spark's SPJ opt-in,
    * so co-bucketed equi-joins through plain `spark.sql` run with ZERO
    * Exchange — the write-once shuffle the engine-door
    * [[graft.storage.Bucketed]] tables already get from Spark's
    * session-catalog bucketing, now on the graft catalog's own door.
    * The bucket column surfaces in the schema (documented; SELECTs of
    * the declared columns are unaffected).
    *
    * The bucket id is a DERIVED (hidden-partition) column everywhere:
    * [[stage]] recomputes it on every write to a bucket-declared
    * table, so a plain `INSERT INTO` supplying a wrong `_gbucket`
    * value cannot corrupt the layout invariant SPJ relies on.
    * RE-bucketing an existing table is two commits (spec, then data) —
    * a reader racing between them can see ONE misaligned window where
    * the reported spec predates the restage; like [[renameTable]],
    * re-layout is not concurrent-reader-safe: quiesce SPJ-dependent
    * readers around it (plain scans are unaffected — bucket ids only
    * matter to join alignment). */
  def overwriteBucketedVersioned(name: String, df: DataFrame,
      bucketCol: String, numBuckets: Int,
      partitionBy: Seq[String] = Nil): Long = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    require(df.columns.exists(_.equalsIgnoreCase(bucketCol)),
      s"no column $bucketCol to bucket by")
    // COMPOSITE layouts (the canonical 100 TB fact shape —
    // `partitionBy(date) + bucket(key)`, Iceberg's multi-transform
    // spec): identity dirs first, the bucket id innermost, so date
    // pruning AND shuffle-free key joins compose in one plan
    require(partitionBy.forall(p => df.columns.exists(_.equalsIgnoreCase(p))),
      s"partition columns ${partitionBy.mkString(",")} must all exist")
    require(!partitionBy.exists(_.equalsIgnoreCase(bucketCol)),
      s"$bucketCol cannot be both the bucket column and an identity " +
        "partition column")
    require(!partitionBy.exists(
      _.equalsIgnoreCase(ParquetCatalog.BucketPartCol)),
      s"${ParquetCatalog.BucketPartCol} is implicit — it is always the " +
        "innermost layout level")
    // the declared spec must be one the catalog's V2 bucket function
    // can bind — otherwise the layout writes fine but every runtime
    // (DPP) re-plan over the bucket column would hit the function's
    // unsupported-type branch instead of degrading
    val bucketType = df.schema.fields
      .find(_.name.equalsIgnoreCase(bucketCol)).get.dataType
    require(graft.spark.GraftBucketFunction.supports(bucketType),
      s"cannot bucket by $bucketCol: type $bucketType has no bucket " +
        "function (integral types, string, date, timestamp, decimal do)")
    require(!df.columns.exists(_.equalsIgnoreCase(ParquetCatalog.BucketPartCol)),
      s"column ${ParquetCatalog.BucketPartCol} is reserved for the bucket id")
    val bucketed = df.withColumn(ParquetCatalog.BucketPartCol,
      bucketIdExpr(bucketCol, numBuckets))
    if (exists(name)) {
      // RE-bucketing: the new spec commits FIRST so the restage's
      // hidden-partition derivation (see [[stage]]) runs under the
      // spec this layout will be read with — property-then-data, the
      // same ordering a reader tolerant of the one-commit window needs
      // anyway (the old layout stays fully readable until the
      // overwrite lands)
      setTablePropertyUnchecked(name, ParquetCatalog.BucketByProp,
        s"$bucketCol,$numBuckets")
      overwriteVersioned(name, bucketed,
        partitionBy :+ ParquetCatalog.BucketPartCol)
    } else {
      overwriteVersioned(name, bucketed,
        partitionBy :+ ParquetCatalog.BucketPartCol)
      setTableProperty(name, ParquetCatalog.BucketByProp,
        s"$bucketCol,$numBuckets")
    }
  }

  /** THE hidden bucket derivation — one definition for every site
    * that computes `_gbucket` (stage's re-derivation, the bucketed
    * overwrite verb, the engine-door append), byte-identical to the V2
    * bucket function ([[graft.spark.GraftBucketFunction]], PropertySpec
    * hash-match pins). */
  private def bucketIdExpr(c: String, n: Int): Column =
    pmod(hash(col(c)), lit(n))

  /** The table's declared bucket layout, when any: (column, buckets). */
  def bucketSpec(name: String): Option[(String, Int)] =
    if (!exists(name)) None
    else bucketSpecAt(name, currentManifest(name).version)

  /** [[bucketSpec]] of a SPECIFIC version — time-traveled scans must
    * report the layout THEIR manifest declares (a later re-bucketing
    * with a different column/count must not mis-key an old version's
    * splits). */
  def bucketSpecAt(name: String, version: Long): Option[(String, Int)] =
    manifest(name, version).meta
      .get(propKey(ParquetCatalog.BucketByProp)).flatMap { v =>
        v.split(',') match {
          case Array(c, n) if n.nonEmpty && n.forall(_.isDigit) =>
            Some((c, n.toInt))
          case _ => None
        }
      }

  /** The effective layout for a write adopting the table's layout: a
    * declared [[ParquetCatalog.BucketByProp]] appends the synthetic
    * bucket level when the caller's layout lacks it — what makes the
    * pure-SQL lifecycle (`CREATE TABLE ... TBLPROPERTIES
    * ('graft.bucketBy'='key,16')` + INSERT) lay out buckets with zero
    * engine API, composing with any identity `PARTITIONED BY` prefix.
    * A declared spec whose column the frame cannot supply refuses
    * loudly: silently writing an un-bucketed layout under a standing
    * declaration would strand the table between the two. */
  private def declaredBucketLayout(name: String, df: DataFrame,
      partitionBy: Seq[String]): Seq[String] =
    if (!exists(name) || partitionBy.exists(
        _.equalsIgnoreCase(ParquetCatalog.BucketPartCol))) partitionBy
    else bucketSpec(name) match {
      case Some((c, _)) =>
        require(df.columns.exists(_.equalsIgnoreCase(c)),
          s"$name declares ${ParquetCatalog.BucketByProp}='$c,...' but " +
            s"the frame has no column '$c' to derive the layout from; " +
            "supply it or unset the property first")
        partitionBy :+ ParquetCatalog.BucketPartCol
      case None => partitionBy
    }

  /** Overwrite that RETAINS history: the new frame becomes version N+1
    * as a manifest commit (version 1 for a new table). An existing
    * skipping index is refreshed over the new files. Returns the new
    * version number; throws [[ConcurrentWriteException]] on a commit
    * race. */
  def overwriteVersioned(name: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      batchToken: Option[String] = None,
      orderWithinCells: Seq[Column] = Nil,
      forceDistribute: Boolean = false,
      identitySplits: Boolean = true): Long = {
    val pb = declaredBucketLayout(name, df, partitionBy)
    val prior = versions(name).lastOption
    batchToken.foreach { tok =>
      prior.foreach { v =>
        val m = manifest(name, v)
        if (batchAlreadyCommitted(m, name, tok)) return m.version
      }
    }
    val st = stage(name, df, pb, prior.getOrElse(0L) + 1, orderWithinCells,
      forceDistribute, identitySplits)
    commit(name, prior.map(manifest(name, _)), pb, Restage,
      Map("op" -> "overwrite") ++ tokenMeta(batchToken), st)
  }

  /** Append that RETAINS history: new files join the current manifest's
    * in version N+1. With `batchToken` set ("<sinkId>#<batchId>"), a
    * batch at or below the sink's committed high-water makes the call a
    * NO-OP returning the current version — the replay-idempotent sink
    * contract Structured Streaming's foreachBatch re-delivery assumes
    * (a crashed writer either committed its manifest or left invisible
    * orphans; there is no half-applied state). The high-water registry
    * rides EVERY commit's meta, so the probe is one current-manifest
    * lookup and idempotence survives [[vacuum]]. */
  def appendVersioned(name: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, evolveSchema: Boolean = false,
      batchToken: Option[String] = None): Long = {
    if (!exists(name)) {
      // table-creating first append: the batch token must still ride the
      // commit, or a replay of batch 0 after a restart would double-write
      return commit(name, None, partitionBy, Restage,
        Map("op" -> "append") ++ tokenMeta(batchToken),
        stage(name, df, partitionBy, 1))
    }
    val m = currentManifest(name)
    batchToken.foreach { tok =>
      if (batchAlreadyCommitted(m, name, tok)) return m.version
    }
    val pb = if (partitionBy.nonEmpty) partitionBy else m.partitionBy
    // the first data batch into a (row-)EMPTY table under a declared
    // graft.bucketBy adopts the bucket layout by ROUTING THROUGH the
    // full overwrite: the create-time zero-row placeholder file must
    // not survive into the bucketed layout (its path carries no
    // _gbucket dir, which would poison split keying). CREATE TABLE +
    // INSERT INTO / CTAS — the pure-SQL bucketing door (r19); once the
    // table holds rows, a layout change stays the explicit overwrite.
    if (bucketSpecAt(name, m.version).isDefined &&
        !pb.exists(_.equalsIgnoreCase(ParquetCatalog.BucketPartCol)) &&
        (m.files.isEmpty || exactRowCount(name, m.version) == 0L))
      return overwriteVersioned(name, df, pb, batchToken)
    // HIDDEN-partition parity with the SQL door (r20): an engine-door
    // append to a bucketed table used to demand the synthetic
    // `_gbucket` column in the frame (schema-drift refusal) even
    // though stage() re-derives it anyway — derive it here so
    // `append(name, df)` works on bucketed tables exactly like
    // `INSERT INTO` does
    val dfb = bucketSpecAt(name, m.version) match {
      case Some((bc, nb))
          if pb.exists(_.equalsIgnoreCase(ParquetCatalog.BucketPartCol)) &&
            !df.columns.exists(
              _.equalsIgnoreCase(ParquetCatalog.BucketPartCol)) &&
            df.columns.exists(_.equalsIgnoreCase(bc)) =>
        df.withColumn(ParquetCatalog.BucketPartCol, bucketIdExpr(bc, nb))
      case _ => df
    }
    requireManifestLayout(name, partitionBy, m)
    val current = readVersion(name, m.version)
    val next = m.version + 1
    val appendMeta = Map("op" -> "append") ++ tokenMeta(batchToken)
    if (!schemaMatches(current, dfb, pb)) {
      if (!evolveSchema) failSchemaDrift(name, current, dfb, pb)
      // the metadata-only branch stages df AS GIVEN, so it must carry
      // every partition column (partitionBy on a missing column is an
      // AnalysisException deep in the writer); a frame that dropped one
      // falls through to the union-by-name restage, whose null
      // partition handles it — same gate upsertVersioned's scopedEvolve
      // applies
      if (addDropOnly(current, dfb, pb) && pb.forall(dfb.columns.contains)) {
        // METADATA-ONLY evolution: add/drop-column drift never touches
        // existing bytes — the commit RE-REFERENCES 100% of the prior
        // files and records the union schema in manifest meta; readers
        // resolve columns by name, so carried files yield nulls for the
        // added columns (and staged files for the dropped ones). At
        // 100 TB this is the difference between an add-column being a
        // metadata write and a full-table rewrite.
        // a frame RE-INTRODUCING a dropped name: carried files still
        // hold the old bytes — guard before anything stages (mapping
        // on: the staged files' fresh field ids cover it; mapping off:
        // footer-checked refusal)
        val incomingOnly = dfb.schema.fieldNames.filterNot(n =>
          current.schema.fieldNames.exists(_.equalsIgnoreCase(n))).toSeq
        val cleared = guardReintroduced(name, m, incomingOnly)
        val evolved = unionEvolvedSchema(current.schema, dfb.schema)
        return commit(name, Some(m), pb, Append,
          appendMeta + ("schema" -> evolved.toDDL), stage(name, dfb, pb, next),
          cleared)
      }
      // a common column changed TYPE: only a full union-by-name restage
      // can reconcile the physical encodings (Spark widens or fails)
      val evolved = current.unionByName(dfb, allowMissingColumns = true)
      return commit(name, Some(m), pb, Restage, appendMeta,
        stage(name, evolved, pb, next))
    }
    val st = stage(name, dfb, pb, next)
    // appends declare the partitions they added into, so a concurrent
    // partition-scoped writer can fast-forward past a disjoint append
    commit(name, Some(m), pb, Append, appendMeta ++ touchedMeta(st.parts), st)
  }

  /** Lossless numeric WIDENING `from` → `to`, restricted to the pairs
    * Spark's own parquet readers resolve without a rewrite (verified
    * against the vectorized reader): the integral chain
    * byte→short→int→long, float→double, and sub-long integrals→double
    * (exact in a double's 53-bit mantissa). long→double is excluded
    * (lossy), as is everything non-numeric. This is what lets a retype
    * be a METADATA commit: old files keep the narrow physical encoding
    * and readers widen per file. */
  private[graft] def isWidening(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(t: DataType): Option[Int] = t match {
      case ByteType => Some(0)
      case ShortType => Some(1)
      case IntegerType => Some(2)
      case LongType => Some(3)
      case _ => None
    }
    (from, to) match {
      case (f, t) if f == t => false
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => (rank(from), rank(to)) match {
        case (Some(a), Some(b)) => a < b
        case _ => false
      }
    }
  }

  /** True when schema drift between `current` and `incoming` is
    * metadata-reconcilable — columns added/removed, or a COMMON column
    * LOSSLESSLY WIDENED ([[isWidening]]; old files keep the narrow
    * encoding, readers widen) — and neither side duplicates a name.
    * Anything else (a narrowing, an incompatible retype) needs a
    * physical restage. */
  private def addDropOnly(current: DataFrame, incoming: DataFrame,
      partitionCols: Seq[String]): Boolean = {
    val pc = partitionCols.toSet
    val cur = current.schema.fields.map(f => f.name -> f.dataType).toMap
    val in = incoming.schema.fields.map(f => f.name -> f.dataType).toMap
    current.schema.fields.length == cur.size &&
    incoming.schema.fields.length == in.size &&
    cur.keySet.intersect(in.keySet).forall { k =>
      cur(k) == in(k) || (pc(k) && partitionRenderCompatible(cur(k), in(k))) ||
        (!pc(k) && isWidening(cur(k), in(k)))
    }
  }

  /** Union schema a metadata-only evolution records: the table's fields
    * (their types win, incl. partition read-back types — except that a
    * losslessly WIDENED incoming type wins, so both generations of
    * files read under the wide type) plus incoming-only fields,
    * everything nullable — absent columns read as null on whichever
    * side lacks them, parquet's name-based resolution. */
  private def unionEvolvedSchema(current: StructType,
      incoming: StructType): StructType = {
    val have = current.fieldNames.toSet
    val inBy = incoming.fields.map(f => f.name -> f).toMap
    StructType((current.fields.map { f =>
      inBy.get(f.name) match {
        case Some(inf) if isWidening(f.dataType, inf.dataType) =>
          f.copy(dataType = inf.dataType)
        case _ => f
      }
    } ++
      incoming.fields.filterNot(f => have(f.name))).map(_.copy(nullable = true)))
  }

  /** Replay-idempotent micro-batch append: the streaming sink's entry
    * point. `batchToken` is "<sinkId>#<batchId>" (e.g. checkpoint dir +
    * Structured Streaming's monotonic batchId); a batch at or below the
    * sink's high-water in the CURRENT manifest's txn registry is a
    * no-op — Structured Streaming may re-deliver a micro-batch after
    * restart, and the sink must commit it at most once, even across an
    * intervening [[vacuum]]. The commit itself is the atomic manifest
    * CAS, so there is no half-applied crash window: either the batch's
    * manifest exists or its files are invisible orphans for
    * [[vacuum]]. */
  def appendBatch(name: String, df: DataFrame, batchToken: String,
      partitionBy: Seq[String] = Nil): Long =
    appendVersioned(name, df, partitionBy, evolveSchema = false,
      batchToken = Some(batchToken))

  /** Replay-idempotent micro-batch MERGE: [[appendBatch]]'s sibling for
    * update-shaped streams (the reference's foreachBatch MERGE sink,
    * `github_data_ingestion.py:349-383`). A `batchToken`
    * ("<sinkId>#<batchId>") at or below the sink's committed high-water
    * commits NOTHING — not even a content-identical new version — so a
    * re-delivered batch leaves the version chain untouched, the
    * strictly stronger form of the content-no-op guarantee. Routed
    * through [[upsertVersioned]] (partition-scoped rewrite, history,
    * CAS concurrency). */
  def upsertBatch(name: String, source: DataFrame, keys: Seq[String],
      batchToken: String,
      smartCases: Map[String, (Column, Column) => Column] = Map.empty,
      insertOnly: Boolean = false,
      partitionBy: Seq[String] = Nil): Long =
    upsertVersioned(name, source, keys, smartCases, insertOnly, partitionBy,
      evolveSchema = false, fromVersion = None, batchToken = Some(batchToken))

  /** Dynamic-partition-overwrite as a version commit: partitions present
    * in `df` are replaced, the rest re-referenced from the current
    * manifest. */
  def overwritePartitionsVersioned(name: String, df: DataFrame,
      partitionBy: Seq[String]): Long = {
    require(partitionBy.nonEmpty, "overwritePartitions needs partition columns")
    if (!exists(name)) return overwriteVersioned(name, df, partitionBy)
    val m = currentManifest(name)
    requireManifestLayout(name, partitionBy, m)
    val st = stage(name, df, partitionBy, m.version + 1)
    commit(name, Some(m), partitionBy, carryOutside(st.parts),
      Map("op" -> "overwritePartitions"), st)
  }

  /** MERGE that RETAINS history (Delta MERGE + time travel in one): the
    * merge lands as version N+1; version N stays readable. With a
    * partitioned layout the new manifest RE-REFERENCES every untouched
    * partition's files from version N — zero bytes copied, zero links:
    * exactly a snapshot manifest re-referencing unchanged data files.
    * Readers are never invalidated (the merged frame is computed FROM
    * the still-live old version and data files are write-once), so no
    * persist/materialize barrier is needed. Touched = the delta's own
    * partitions ∪ the partitions holding matched target keys
    * ([[touchedPartitions]]); an update that moves a row's partition
    * value empties its old slot. `partitionBy` defaults to the
    * manifest's recorded layout. Returns the new version number; throws
    * [[ConcurrentWriteException]] on a commit race (the merge was
    * computed from a snapshot that is no longer current — retrying
    * re-reads and re-merges, Delta's optimistic loop).
    *
    * `fromVersion` pins the snapshot the merge is computed AGAINST — the
    * long-transaction form: a job reads version N at start, computes for
    * however long, and commits N+1; if anything else committed N+1
    * meanwhile, the CAS fails loudly instead of silently overwriting the
    * interleaved writer's work. Default: the current version at call
    * time (the same protocol, minimal window). */
  def upsertVersioned(name: String, source: DataFrame, keys: Seq[String],
      smartCases: Map[String, (Column, Column) => Column] = Map.empty,
      insertOnly: Boolean = false,
      partitionBy: Seq[String] = Nil,
      evolveSchema: Boolean = false,
      fromVersion: Option[Long] = None,
      batchToken: Option[String] = None): Long = {
    if (!exists(name)) {
      if (batchToken.isEmpty) return overwriteVersioned(name, source, partitionBy)
      // table-creating first MERGE batch: the token must ride the first
      // commit or a replay of batch 0 after a restart double-writes
      return commit(name, None, partitionBy, Restage,
        Map("op" -> "merge") ++ tokenMeta(batchToken),
        stage(name, source, partitionBy, 1))
    }
    batchToken.foreach { tok =>
      val cur = currentManifest(name)
      if (batchAlreadyCommitted(cur, name, tok)) return cur.version
    }
    val m = fromVersion.map(manifest(name, _)).getOrElse(currentManifest(name))
    // the deletion-vectors property routes the MERGE doors merge-on-read
    // too (Delta's dv-enabled MERGE): matched rows vector + append
    // instead of rewriting their partitions. Schema-evolving merges and
    // empty tables stay on the rewrite path.
    if (dvEnabled(m) && !evolveSchema && m.files.nonEmpty)
      return upsertVectors(name, source, keys, smartCases, insertOnly, m,
        batchToken)
    val pb = if (partitionBy.nonEmpty) partitionBy else m.partitionBy
    val target = readVersion(name, m.version)
    // an evolving merge whose drift is add/drop-only STAYS partition-
    // scoped: the recorded union schema (see [[appendVersioned]]) lets
    // carried files coexist with restaged touched partitions — the
    // per-partition schema drift that once forced the full rewrite is
    // exactly what the recorded schema resolves. Retypes, or a source
    // missing a partition column, still need the full restage.
    val scopedEvolve = evolveSchema && pb.nonEmpty && m.files.nonEmpty &&
      pb.forall(source.columns.contains) && addDropOnly(target, source, pb)
    if (!evolveSchema || scopedEvolve) requireManifestLayout(name, partitionBy, m)
    val next = m.version + 1
    val mergeMeta = Map("op" -> "merge") ++ tokenMeta(batchToken)
    if (pb.isEmpty || (evolveSchema && !scopedEvolve) || m.files.isEmpty) {
      val merged =
        Upsert.merge(target, source, keys, smartCases, insertOnly, evolveSchema)
      commit(name, Some(m), pb, Restage, mergeMeta, stage(name, merged, pb, next))
    } else {
      // an evolving merge RE-INTRODUCING a dropped name: carried
      // partitions keep their files, so the resurrection guard runs
      // before anything stages (see [[guardReintroduced]])
      val cleared =
        if (scopedEvolve)
          guardReintroduced(name, m, source.schema.fieldNames.filterNot(n =>
            target.schema.fieldNames.exists(_.equalsIgnoreCase(n))).toSeq)
        else Nil
      val touched = touchedPartitions(name, target, source, keys, pb)
      val touchedRel = touched.map(_.relPath).toSet
      val st =
        if (touched.isEmpty) Staged()
        else {
          val slice = target.filter(partitionPredicate(pb, touched.map(_.values)))
          val merged = Upsert.merge(slice, source, keys, smartCases, insertOnly,
            evolveSchema = scopedEvolve)
          stage(name, merged, pb, next)
        }
      val schemaMeta =
        if (scopedEvolve)
          Map("schema" -> unionEvolvedSchema(target.schema, source.schema).toDDL)
        else Map.empty[String, String]
      // disjoint-writer fast-forward: on a lost race our staged files
      // land on top of the winner without a re-read. When the merge
      // keys contain every partition column, a source row's match can
      // only live in its own partition — write-disjointness implies
      // read-disjointness and no scan is needed; otherwise the guard
      // scans the interleaved window's ADDED files for our key domain
      // (see [[fastForward]]).
      val ff =
        if (scopedEvolve || st.files.isEmpty) None
        else Some(FastForward(
          if (pb.forall(p => keys.exists(_.equalsIgnoreCase(p)))) None
          else Some((keys, source))))
      commit(name, Some(m), pb, carryOutside(touchedRel),
        mergeMeta ++ schemaMeta ++ touchedMeta(touchedRel), st, cleared, ff)
    }
  }

  /** Execute a literal `MERGE INTO` statement AGAINST THE CATALOG — the
    * reference's exact notebook MERGE text
    * (`bronze_to_silver_transformation.py:867-920`) landing with
    * transactional storage semantics, not just merge semantics. The
    * statement's target name resolves to a catalog table, its source to
    * a session temp view (the reference's staging discipline, K4),
    * [[graft.operators.SqlMerge]] supplies the Delta MERGE semantics,
    * and the result is written back as ONE new version with op verb
    * `merge` — `history()` audits it, time travel keeps the pre-merge
    * version, and the manifest CAS detects concurrent writers
    * ([[ConcurrentWriteException]], retry by re-running).
    *
    * Returns the committed version. Row-level MERGE rewrites the full
    * table here — the partition-scoped write path is the keyed
    * [[upsertVersioned]]; a MERGE statement's arbitrary per-clause
    * conditions have no static touched-partition set to scope by. */
  def mergeInto(mergeSql: String): Long = {
    val p = graft.operators.SqlMerge.parse(mergeSql)
    val name = p.targetTable
    require(exists(name), s"no table $name")
    val source = spark.table(p.sourceTable)
    val m = currentManifest(name)
    val target = readVersion(name, m.version)
    val merged = graft.operators.SqlMerge.execute(target, source, p)
    // write-once versions: staging reads the still-live current files
    commit(name, Some(m), m.partitionBy, Restage, Map("op" -> "merge"),
      stage(name, merged, m.partitionBy, m.version + 1))
  }

  /** Row-level DELETE WHERE (Delta `DELETE` parity) that retains
    * history; untouched partitions re-referenced as in
    * [[upsertVersioned]]. `partitionBy` defaults to the recorded
    * layout; `fromVersion` pins the read snapshot as in
    * [[upsertVersioned]]. The touched-partition probe is
    * [[probeFrame]]-pruned: a point DELETE on an indexed/bloomed key
    * opens only candidate files, not the table. Returns (newVersion,
    * rowsRemoved). */
  def deleteVersioned(name: String, condition: Column,
      partitionBy: Seq[String] = Nil,
      fromVersion: Option[Long] = None): (Long, Long) = {
    require(exists(name), s"no table $name")
    val m = fromVersion.map(manifest(name, _)).getOrElse(currentManifest(name))
    // the deletion-vectors property routes every DELETE door (Scala,
    // cat.sql text, the registered catalog) merge-on-read
    if (dvEnabled(m)) return deleteVectors(name, condition, fromVersion)
    val pb = if (partitionBy.nonEmpty) partitionBy else m.partitionBy
    requireManifestLayout(name, partitionBy, m)
    val t = readVersion(name, m.version)
    val hit = coalesce(condition, lit(false))
    val next = m.version + 1
    if (pb.isEmpty || m.files.isEmpty) {
      val removed = t.filter(hit).count()
      val st = stage(name, t.filter(!hit), pb, next)
      (commit(name, Some(m), pb, Restage, Map("op" -> "delete"), st), removed)
    } else {
      val touched = partitionsOf(probeFrame(name, m, t, condition).filter(hit), pb)
      val touchedRel = touched.map(_.relPath).toSet
      var removed = 0L
      val st =
        if (touched.isEmpty) Staged()
        else {
          val slice = t.filter(partitionPredicate(pb, touched.map(_.values))).persist()
          removed = slice.filter(hit).count()
          val out = stage(name, slice.filter(!hit), pb, next)
          slice.unpersist()
          out
        }
      val v = commit(name, Some(m), pb, carryOutside(touchedRel),
        Map("op" -> "delete") ++ touchedMeta(touchedRel), st,
        ff = Option.when(st.files.nonEmpty)(FastForward()))
      (v, removed)
    }
  }

  /** Row-level UPDATE (Delta `UPDATE t SET ... WHERE ...` parity) that
    * retains history: rows matching `condition` get `assignments`
    * applied (every other column — and every other row — passes
    * through untouched); lands as ONE versioned `update` commit.
    * Partition-scoped like [[deleteVersioned]]: only partitions
    * containing matching rows are rewritten, everything else is
    * re-referenced verbatim — at 100 TB an update hitting one day
    * rewrites one day. An assignment to a PARTITION column moves rows
    * between slices correctly (the staged files land under their new
    * hive components; the destination partition's carried files
    * coexist with them, exactly like an append into it). CHECK
    * constraints enforce in-pass via the staging guard. The
    * touched-partition probe is [[probeFrame]]-pruned: a point UPDATE
    * on an indexed/bloomed key opens only candidate files, not the
    * table. Returns (newVersion, rowsUpdated). */
  def updateWhere(name: String, condition: Column,
      assignments: Map[String, Column],
      partitionBy: Seq[String] = Nil,
      fromVersion: Option[Long] = None): (Long, Long) = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    require(exists(name), s"no table $name")
    val m = fromVersion.map(manifest(name, _)).getOrElse(currentManifest(name))
    // the deletion-vectors property routes every UPDATE door merge-on-read
    if (dvEnabled(m)) return updateVectors(name, condition, assignments, fromVersion)
    val pb = if (partitionBy.nonEmpty) partitionBy else m.partitionBy
    requireManifestLayout(name, partitionBy, m)
    val t = readVersion(name, m.version)
    // Spark resolves columns case-insensitively; assignment targets
    // must too (and two targets differing only in case are the same
    // duplicate-assignment error either spelling would be)
    val resolved = assignments.map { case (k, v) =>
      t.columns.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"$name has no column '$k' to assign")) -> v
    }
    require(resolved.size == assignments.size,
      "UPDATE assigns the same column twice (names differ only in case)")
    val hit = coalesce(condition, lit(false))
    def applied(df: DataFrame): DataFrame =
      df.select(df.columns.toSeq.map { c =>
        resolved.get(c).fold(col(c))(v => when(hit, v).otherwise(col(c)))
          .as(c)
      }: _*)
    val next = m.version + 1
    if (pb.isEmpty || m.files.isEmpty) {
      val updated = t.filter(hit).count()
      if (updated == 0) return (m.version, 0L) // nothing matched: no commit
      val st = stage(name, applied(t), pb, next)
      (commit(name, Some(m), pb, RestageKeepingSchema, Map("op" -> "update"), st),
        updated)
    } else {
      val touched = partitionsOf(probeFrame(name, m, t, condition).filter(hit), pb)
      val touchedRel = touched.map(_.relPath).toSet
      var updated = 0L
      val st =
        if (touched.isEmpty) Staged()
        else {
          val slice = t.filter(partitionPredicate(pb, touched.map(_.values))).persist()
          updated = slice.filter(hit).count()
          val out = stage(name, applied(slice), pb, next)
          slice.unpersist()
          out
        }
      if (touched.isEmpty) return (m.version, 0L) // nothing matched: no commit
      // a partition-column assignment MOVES rows: the staged files may
      // land in partitions the probe never named — the declared set
      // must cover them, or a concurrent disjoint writer's fast-forward
      // would silently drop the moved rows' files
      val v = commit(name, Some(m), pb, carryOutside(touchedRel),
        Map("op" -> "update") ++ touchedMeta(touchedRel ++ st.parts), st,
        ff = Some(FastForward()))
      (v, updated)
    }
  }

  // ---- change data feed ---------------------------------------------
  //
  // Write-once data files make the manifests THE change index: a file
  // listed by both versions contributes identical rows to both sides
  // of a keyed diff, so every feed below reads ONLY the files the two
  // manifests disagree on — O(delta) reads, never O(table). At 100 TB
  // that is the difference between "what changed yesterday" costing a
  // partition read and costing a double full-table scan. Feeds assume
  // the table's keys are unique per version (the MERGE contract every
  // writing verb here maintains).

  /** Read a SUBSET of a version's files — under `canon` when the feed
    * crosses a metadata-only schema evolution (parquet resolves columns
    * by name; files predating an added column yield nulls), else under
    * the version's own recorded schema. An empty subset reads as an
    * empty frame with the right shape. */
  private def readFileSubset(name: String, m: TableManifest,
      rels: Seq[String], canon: Option[StructType]): DataFrame = {
    val schema = canon.orElse(recordedSchema(m))
    if (rels.isEmpty) {
      val s = schema.getOrElse(readVersion(name, m.version).schema)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), s)
    }
    val abs = rels.map(f => versionsDir(name).resolve(f).toString)
    dvFilter(name, m, catLoad(schema, abs, partBase(name, m)), Some(rels))
  }

  /** The schema a feed reads BOTH sides of a manifest diff under. The
    * newer side's recorded schema wins outright when present (readers
    * project through it — a dropped column stays dropped). When only
    * the OLDER side records one (a metadata-only evolution followed by
    * a full-restage verb, which records none because its files are
    * homogeneous), the older union schema alone would silently drop
    * columns the newer files added — so the canon is the newer files'
    * ACTUAL schema (one footer read) unioned with the older recorded
    * one, newer types winning: newer-only columns survive, older-side
    * files resolve them as null by name. */
  private def feedCanon(name: String, older: TableManifest,
      newer: TableManifest): Option[StructType] =
    recordedSchema(newer).orElse(recordedSchema(older).map { old =>
      unionEvolvedSchema(readVersion(name, newer.version).schema, old)
    })

  /** Delta `table_changes(from, to)` parity as a first-class call: the
    * NET per-row change feed (insert / update_preimage /
    * update_postimage; rows deleted across the range emit nothing —
    * the k15-gated contract) between two retained versions. Computed
    * from ONLY the files the two manifests disagree on: carried files
    * appear identically on both sides of the diff, so excluding them
    * from both sides is an exact equivalence under unique keys. */
  def changesBetween(name: String, from: Long, to: Long,
      keys: Seq[String]): DataFrame = {
    val ma = manifest(name, from)
    val mb = manifest(name, to)
    // a file carried by BOTH versions contributes identical rows to
    // both sides only if its DELETION VECTOR is also unchanged — a
    // dv-delete changes content without changing the file list, so a
    // changed pointer pushes the file back into the diff (read through
    // each side's own vectors by readFileSubset)
    val dvA = dvEntries(ma)
    val dvB = dvEntries(mb)
    val shared = ma.files.toSet.intersect(mb.files.toSet)
      .filter(f => dvA.get(f) == dvB.get(f))
    val canon = feedCanon(name, ma, mb)
    val a = readFileSubset(name, ma, ma.files.filterNot(shared), canon)
    val b = readFileSubset(name, mb, mb.files.filterNot(shared), canon)
    Upsert.changeFeed(a.select(a.columns.sorted.map(col): _*),
      b.select(b.columns.sorted.map(col): _*), keys)
  }

  /** One commit's change feed: the keyed diff of the files version `v`
    * removed vs added, tagged `_commit_version`, WITH `delete` rows. A
    * pure-append commit needs no diff at all — its added files ARE the
    * inserts, read join-free. A compaction or restore commit diffs only
    * the partitions it rewrote (and a compaction's diff is empty: same
    * rows, new files). */
  private def commitChanges(name: String, v: Long, keys: Seq[String]): DataFrame = {
    val cur = manifest(name, v)
    val prev =
      if (v <= 1) TableManifest(0, cur.partitionBy, Map.empty, Nil)
      else manifest(name, v - 1)
    // dv-changed carried files re-enter the diff (see [[changesBetween]]):
    // a dv-delete commit reads the touched files on both sides — rows
    // newly covered by the vectors surface as `delete` change rows
    val dvP = dvEntries(prev)
    val dvC = dvEntries(cur)
    val shared = prev.files.toSet.intersect(cur.files.toSet)
      .filter(f => dvP.get(f) == dvC.get(f))
    val removed = prev.files.filterNot(shared)
    val added = cur.files.filterNot(shared)
    val canon = feedCanon(name, prev, cur)
    if (removed.isEmpty) {
      val b = readFileSubset(name, cur, added, canon)
      val dataCols = b.columns.sorted.filterNot(keys.contains).toSeq
      b.select((keys.map(col) :+ lit("insert").as("_change_type")) ++
        dataCols.map(col): _*)
        .withColumn("_commit_version", lit(v))
    } else {
      val a = readFileSubset(name, prev, removed, canon)
      val b = readFileSubset(name, cur, added, canon)
      Upsert.changeFeed(a.select(a.columns.sorted.map(col): _*),
        b.select(b.columns.sorted.map(col): _*), keys, emitDeletes = true)
        .withColumn("_commit_version", lit(v))
    }
  }

  /** The PER-COMMIT change feed over a version window: one row per
    * change with `_commit_version` attribution, including `delete`
    * images — everything a downstream replica must replay, in replay
    * order. `from` is exclusive, `to` inclusive (Delta's
    * `table_changes(from+1, to)` window); `from = 0` reads changes
    * since creation. Every commit in the window must still be
    * retained (feeds do not survive [[vacuum]] past the window —
    * re-bootstrap the replica instead). */
  def tableChanges(name: String, from: Long, to: Long,
      keys: Seq[String]): DataFrame = {
    require(from >= 0 && from <= to, s"need 0 <= from <= to; got $from, $to")
    // allowMissingColumns: commits predating a schema evolution lack
    // the added columns — their change rows read as null there, the
    // same resolution the recorded union schema gives carried files
    val feeds = ((from + 1) to to).map(v => commitChanges(name, v, keys))
    feeds.reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse {
      val base = readVersion(name, to).limit(0)
      val dataCols = base.columns.sorted.filterNot(keys.contains).toSeq
      base.select((keys.map(col) :+ lit("").as("_change_type")) ++
        dataCols.map(col): _*)
        .withColumn("_commit_version", lit(0L))
    }
  }

  /** Apply a change feed ([[tableChanges]] rows) to this table as ONE
    * commit — the downstream half of the replication protocol:
    * insert/postimage rows upsert, delete rows remove, preimages are
    * audit-only, and a multi-commit feed reduces to each key's
    * terminal image first ([[Upsert.applyFeed]]). Partition-scoped
    * like [[upsertVersioned]]: only partitions the feed's images name
    * are restaged (preimages and deletes name the OLD partition, so a
    * partition-moving update touches both); every other partition's
    * files are re-referenced verbatim. Exactly-once via `batchToken`
    * — a replayed feed window commits nothing.
    *
    * CONCURRENCY PROOF (why sync needs no merge-style read-set guard):
    * this verb's commit never takes the [[fastForward]] path — a lost
    * CAS always throws
    * [[ConcurrentWriteException]], and a [[withRetry]] around it
    * re-reads the WINNER's committed state before recomputing, so the
    * loser's effects are always computed loser-second over the winner.
    * The recompute SLICE is complete for the fed keys because
    * [[touchedPartitions]] adds the partitions where any fed key
    * currently lives (index-pruned match probe, the merge verbs' own):
    * a key another writer landed in a partition the feed never names
    * is moved/overwritten by [[Upsert.applyFeed]]'s key anti-join, not
    * duplicated. Pinned in ConflictSpec ("concurrent keyed syncs never
    * fast-forward"). */
  def applyChanges(name: String, feed: DataFrame, keys: Seq[String],
      partitionBy: Seq[String] = Nil,
      batchToken: Option[String] = None): Long = {
    if (!exists(name)) {
      val empty = feed.drop("_change_type", "_commit_version").limit(0)
      val state = Upsert.applyFeed(empty, feed, keys)
      return commit(name, None, partitionBy, Restage,
        Map("op" -> "sync") ++ tokenMeta(batchToken),
        stage(name, state, partitionBy, 1))
    }
    val m = currentManifest(name)
    batchToken.foreach { tok =>
      if (batchAlreadyCommitted(m, name, tok)) return m.version
    }
    val pb = if (partitionBy.nonEmpty) partitionBy else m.partitionBy
    requireManifestLayout(name, partitionBy, m)
    val target = readVersion(name, m.version)
    val next = m.version + 1
    val syncMeta = Map("op" -> "sync") ++ tokenMeta(batchToken)
    if (pb.isEmpty || m.files.isEmpty) {
      val state = Upsert.applyFeed(target, feed, keys)
      commit(name, Some(m), pb, RestageKeepingSchema, syncMeta,
        stage(name, state, pb, next))
    } else {
      require(pb.forall(feed.columns.contains),
        s"feed must carry the partition columns ${pb.mkString(",")}")
      // the recompute slice covers the partitions the feed NAMES plus —
      // through the merge verbs' index-pruned match probe
      // ([[touchedPartitions]]) — the partitions where any fed key
      // CURRENTLY lives: a concurrent writer (or a feed whose change
      // types are stale about the target) may have landed a fed key in
      // a partition the feed does not name, and [[Upsert.applyFeed]]'s
      // key anti-join then moves/overwrites it instead of duplicating.
      // Keys covering the layout skip the probe (a key's row can only
      // live in its own partition), keeping the common CDC path
      // O(feed + matches).
      val touched = touchedPartitions(name, target, feed, keys, pb)
      val touchedRel = touched.map(_.relPath).toSet
      val st =
        if (touched.isEmpty) Staged()
        else {
          val slice = target.filter(partitionPredicate(pb, touched.map(_.values)))
          stage(name, Upsert.applyFeed(slice, feed, keys), pb, next)
        }
      commit(name, Some(m), pb, carryOutside(touchedRel),
        syncMeta ++ touchedMeta(touchedRel), st)
    }
  }

  /** Files ADDED by one commit, from its raw manifest alone: exact for
    * delta manifests (the high-rate append form), an OVERSTATEMENT for
    * self-contained ones (full list — overwrites, and every Nth
    * snapshot append), which is the conservative direction for the one
    * consumer (streaming admission control: batches can only get
    * smaller). One file parse, no chain resolution. */
  private[graft] def filesAddedIn(name: String, version: Long): Long =
    rawManifest(name, version).files.size.toLong

  /** Bytes the commit of `version` added: the `bytesAdded` meta the
    * commit routine records (one raw-manifest parse, no file IO). For
    * manifests predating the key, falls back to statting the raw
    * manifest's file list — a conservative OVERcount on full-restage
    * manifests (carried files included), so a byte-budgeted admission
    * loop can only admit less, never more. */
  private[graft] def bytesAddedIn(name: String, version: Long): Long =
    admissionStats(name, version, needBytes = true)._2

  /** One raw-manifest parse answering BOTH admission questions for a
    * version: (files added, bytes added) — the streaming source's
    * per-version metadata probe stays one parse no matter which caps
    * are set. Bytes are computed ONLY when asked for (`needBytes`):
    * the fallback for pre-feature manifests stats the listed files,
    * and a files-cap-only stream must never pay that sweep. */
  private[graft] def admissionStats(name: String, version: Long,
      needBytes: Boolean): (Long, Long) = {
    val m = rawManifest(name, version)
    val bytes =
      if (!needBytes) 0L
      else m.meta.get("bytesAdded").map(_.toLong).getOrElse(
        m.files.map { f =>
          try Files.size(versionsDir(name).resolve(f))
          catch { case _: Exception => 0L }
        }.sum)
    (m.files.size.toLong, bytes)
  }

  /** A sink's committed high-water batchId in this table's exactly-once
    * registry (None: the sink never committed here). One lookup in the
    * current manifest — the public face of the `txn.` registry. */
  def sinkHighWater(name: String, sinkId: String): Option[Long] =
    if (!exists(name)) None
    else currentManifest(name).meta.get(txnKey(sinkId)).map(_.toLong)

  /** Maintain `dst` as an incrementally-synced replica of versioned
    * table `src`: replay each src commit's [[tableChanges]] feed
    * through one exactly-once [[applyChanges]] commit on dst, resuming
    * from the high-water the dst txn registry recorded. O(delta) read
    * and written per src commit; a re-run after every commit is
    * applied is a pure no-op. Returns the number of src commits
    * applied this call. */
  def syncIncremental(src: String, dst: String, keys: Seq[String],
      partitionBy: Seq[String] = Nil): Int = {
    require(exists(src), s"no table $src")
    val cur = currentVersion(src)
    val sinkId = s"cdf:$src->$dst"
    val high = sinkHighWater(dst, sinkId).getOrElse(0L)
    val pb =
      if (partitionBy.nonEmpty) partitionBy else manifest(src, cur).partitionBy
    var n = 0
    ((high + 1) to cur).foreach { v =>
      val feed =
        try commitChanges(src, v, keys)
        catch {
          case e: IllegalArgumentException
              if e.getMessage != null && e.getMessage.contains("not retained") =>
            throw new IllegalStateException(
              s"replica '$dst' last synced $src at version $high, but the " +
                s"catch-up window needs version $v and it is no longer " +
                s"retained (${e.getMessage}): vacuum removed versions this " +
                "replica still needs. Re-bootstrap the replica (drop and " +
                "re-sync, or cloneTable), or vacuum with a keep window " +
                "covering the laggiest replica", e)
        }
      applyChanges(dst, feed, keys, pb, Some(s"$sinkId#$v"))
      n += 1
    }
    n
  }

  /** One streaming micro-batch of an APPEND-ONLY versioned table: the
    * rows of the files added in the version window (`from`, `to`] —
    * the manifest-native alternative to a directory-watching file
    * stream. The difference matters for soundness: a directory watcher
    * would also deliver crash debris (staged-but-never-committed
    * orphans waiting for vacuum) and would re-deliver every row a
    * merge/compaction rewrites into new files; reading the MANIFEST
    * diff delivers exactly the committed appends, once. Any commit in
    * the window that REMOVED a file is refused loudly — rewritten rows
    * cannot be streamed as appends (that consumer wants
    * [[tableChanges]]). `schema` (usually pinned at stream start)
    * resolves heterogeneous files by name across metadata-only
    * evolutions. */
  private[graft] def streamBatch(name: String, from: Long, to: Long,
      schema: StructType): DataFrame = {
    require(from <= to, s"need from <= to; got $from, $to")
    ((math.max(from, 1L) + 1L) to to).foreach { v =>
      val prev = manifest(name, v - 1)
      val cur = manifest(name, v)
      val removed = prev.files.toSet -- cur.files.toSet
      if (removed.nonEmpty)
        throw new IllegalStateException(
          s"$name version $v removed ${removed.size} file(s) " +
            s"(op=${cur.meta.getOrElse("op", "?")}): an " +
            "append-only stream cannot replay rewrites — consume " +
            "tableChanges/syncIncremental instead, or start past it")
      // a deletion-vector commit changes CONTENT without changing the
      // file list — silently skipping it would leave already-delivered
      // rows undeleted downstream, the same hazard as a rewrite
      if (dvEntries(prev) != dvEntries(cur))
        throw new IllegalStateException(
          s"$name version $v changed deletion vectors " +
            s"(op=${cur.meta.getOrElse("op", "?")}): an append-only " +
            "stream cannot replay row-level deletes — consume " +
            "tableChanges/syncIncremental instead, or start past it")
    }
    val base = if (from <= 0) Set.empty[String] else manifest(name, from).files.toSet
    val added = manifest(name, to).files.filterNot(base)
    readFileSubset(name, manifest(name, to), added, Some(schema))
  }

  /** The table as a Structured Streaming SOURCE with version-number
    * offsets (see [[graft.streaming.TableSourceProvider]]): each
    * committed append arrives as one micro-batch, exactly once across
    * restarts (offsets checkpoint as versions). `startingVersion` is
    * an exclusive floor — `0` (default) replays the whole table as the
    * first batch, [[currentVersion]] streams only future appends.
    * `maxVersionsPerTrigger` caps each micro-batch at N commits and
    * `maxFilesPerTrigger` at N files-added (admission control): a
    * lagging consumer catches up in bounded batches instead of one
    * backlog-sized batch — combine with `Trigger.AvailableNow` for a
    * bounded, self-terminating drain. */
  def readStream(name: String, startingVersion: Long = 0L,
      maxVersionsPerTrigger: Option[Long] = None,
      maxFilesPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream
      .format("graft.streaming.TableSourceProvider")
      .option("root", root)
      .option("table", name)
      .option("startingVersion", startingVersion.toString)
    val r2 = maxVersionsPerTrigger
      .fold(r)(n => r.option("maxVersionsPerTrigger", n.toString))
    val r3 = maxFilesPerTrigger
      .fold(r2)(n => r2.option("maxFilesPerTrigger", n.toString))
    maxBytesPerTrigger
      .fold(r3)(n => r3.option("maxBytesPerTrigger", n.toString))
      .load()
  }

  /** The table's CHANGE FEED as a Structured Streaming source
    * (Delta's `readChangeFeed` streaming option): each committed
    * version — ANY verb, not just appends — arrives as one micro-batch
    * of [[tableChanges]] rows (`_change_type` insert / update images /
    * delete, `_commit_version` attribution), exactly once across
    * restarts. Same O(delta) manifest-diff reads; `keys` are the MERGE
    * keys the per-commit diff is computed over. */
  def readChangeStream(name: String, keys: Seq[String],
      startingVersion: Long = 0L,
      maxVersionsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream
      .format("graft.streaming.TableSourceProvider")
      .option("root", root)
      .option("table", name)
      .option("mode", "changes")
      .option("keys", keys.mkString(","))
      .option("startingVersion", startingVersion.toString)
    maxVersionsPerTrigger
      .fold(r)(n => r.option("maxVersionsPerTrigger", n.toString))
      .load()
  }

  // ---- metadata-only ALTER TABLE -------------------------------------

  /** `ALTER TABLE ADD COLUMN` as a pure metadata commit: the new
    * version re-references 100 % of the files and records the widened
    * schema — existing rows read the column as null (parquet resolves
    * by name), zero bytes rewritten. The mirror image of the
    * metadata-only evolution an `evolveSchema` append performs, but
    * with no data to carry at all. */
  def addColumn(name: String, colName: String, typ: DataType): Long = {
    val m = currentManifest(name)
    val cur = recordedSchema(m).getOrElse(readVersion(name, m.version).schema)
    // Spark resolution is case-insensitive, so existence must be too: a
    // case-variant duplicate would make every later reference ambiguous
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(colName)),
      s"$name already has a column '$colName' (names resolve " +
        "case-insensitively)")
    val widened = StructType(cur.fields.map(_.copy(nullable = true)) :+
      org.apache.spark.sql.types.StructField(colName, typ, nullable = true))
    // re-introducing a previously DROPPED name must not resurrect the
    // old physical bytes still sitting in carried files (mapping off:
    // footer-checked refusal / marker clear; mapping on: the fresh id
    // below makes them unreachable)
    val cleared = guardReintroduced(name, m, Seq(colName))
    // under an active mapping every recorded column needs an id — a
    // FRESH one above the ALL-TIME high-water: no file ever written
    // holds a field with it, so the new column reads null everywhere
    // until first written (and a re-added or re-used dropped name/id
    // can never resolve to pre-drop bytes)
    val idMeta =
      if (mappingOn(m)) {
        val fresh = colIdHighWater(m) + 1
        Map(colIdKey(colName) -> fresh.toString, "colidmax" -> fresh.toString)
      } else Map.empty[String, String]
    commit(name, Some(m), m.partitionBy, CarryAll,
      Map("op" -> "alterSchema", "schema" -> widened.toDDL) ++ idMeta,
      cleared = cleared)
  }

  /** `ALTER TABLE DROP COLUMN` as a pure metadata commit: the recorded
    * schema loses the column; the bytes stay in the files but every
    * reader projects through the recorded schema, so they are simply
    * never decoded (and the next physical rewrite sheds them). Delta
    * needs column mapping for this — the explicit-schema read path
    * gives it away for free. Partition and constraint-referenced
    * columns refuse to drop. */
  def dropColumn(name: String, colName: String): Long = {
    val m = currentManifest(name)
    require(!m.partitionBy.exists(_.equalsIgnoreCase(colName)),
      s"cannot drop partition column '$colName' of $name")
    // the bucket id derives from the declared column on every write —
    // dropping it would leave an underivable layout
    require(!bucketSpec(name).exists(_._1.equalsIgnoreCase(colName)),
      s"cannot drop '$colName' of $name: the table's bucketed layout " +
        s"(${ParquetCatalog.BucketByProp}) derives from it; re-layout " +
        "with overwriteBucketedVersioned or unset the property first")
    // Spark resolves columns case-insensitively, so the reference check
    // must too: parse the CHECK expression and compare its attribute
    // references by lowercased name (an unparseable expression falls
    // back to a case-insensitive substring check — over-blocking is the
    // safe direction; an unguarded drop leaves a constraint that fails
    // every subsequent write at analysis time)
    constraints(name).foreach { case (cn, e) =>
      val refs = scala.util.Try(
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(e)
          .collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.nameParts
          }.flatten).getOrElse(Nil)
      val mentions =
        if (refs.nonEmpty) refs.exists(_.equalsIgnoreCase(colName))
        else e.toLowerCase.contains(colName.toLowerCase)
      require(!mentions,
        s"cannot drop '$colName': constraint '$cn' ($e) references it")
    }
    val cur = recordedSchema(m).getOrElse(readVersion(name, m.version).schema)
    // resolve the RECORDED spelling (Spark resolution is case-
    // insensitive; the manifest's schema, markers, and field-id keys
    // are keyed on the recorded case)
    val recorded = cur.fieldNames.find(_.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(s"$name has no column '$colName'"))
    require(cur.fields.length > 1, s"cannot drop $name's last column")
    val narrowed = StructType(cur.fields.filterNot(_.name == recorded)
      .map(_.copy(nullable = true)))
    // the dropped-name marker makes a later re-introduction of this
    // name consult the resurrection guard (see [[guardReintroduced]])
    commit(name, Some(m), m.partitionBy, CarryAll,
      Map("op" -> "alterSchema", "schema" -> narrowed.toDDL,
        droppedKey(recorded) -> (m.version + 1).toString),
      cleared = Seq(colIdKey(recorded)))
  }

  /** The CHECK constraints that reference `colName` (case-insensitive
    * attribute parse; substring fallback when unparseable — over-
    * blocking is the safe direction for a schema-changing verb). */
  private def constraintsReferencing(name: String, colName: String): Seq[String] =
    constraints(name).toSeq.collect { case (cn, e)
        if {
          val refs = scala.util.Try(
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseExpression(e).collect {
                case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                  a.nameParts
              }.flatten).getOrElse(Nil)
          if (refs.nonEmpty) refs.exists(_.equalsIgnoreCase(colName))
          else e.toLowerCase.contains(colName.toLowerCase)
        } => cn
    }

  /** `ALTER TABLE RENAME COLUMN` as ONE metadata commit — Delta's
    * column-mapping rename, built on Spark's own parquet field-id
    * resolution: every staged file already carries a stable id per
    * column, so the commit just re-records the schema under the new
    * name (same id) and flips the table's mapping ON; readers resolve
    * old files BY ID and the bytes never move. Zero-id files (written
    * before the feature, absorbed from a plain-dir migration) make the
    * verb refuse with the compaction remedy — an id-mapped read over
    * such a file is a reader error, and a silent by-name fallback
    * would null the renamed column. Partition columns refuse (their
    * name IS the directory layout); constraint-referenced columns
    * refuse (the CHECK expression would dangle). Time travel across
    * the rename reads each version under ITS OWN recorded names. */
  /** Rewrite the column-referencing skipping declarations
    * (`graft.bloomFor` / `graft.indexFor` / `graft.bucketBy`) in a
    * commit's meta after a column rename — comma-list aware, numeric
    * segments (the bucket count) untouched. */
  private def renamedProps(meta: Map[String, String], from: String,
      to: String): Map[String, String] = {
    def fix(v: String): String = v.split(',').map { seg =>
      val c = seg.trim
      if (c.equalsIgnoreCase(from)) to else c
    }.mkString(",")
    // bucketBy is "<column>,<count>": only the column segment renames
    // (a column pathologically named like the count must not drag the
    // count along)
    def fixBucket(v: String): String = v.split(',') match {
      case Array(c, n) if c.trim.equalsIgnoreCase(from) => s"$to,${n.trim}"
      case _ => v
    }
    val base = Seq(ParquetCatalog.BloomForProp, ParquetCatalog.IndexForProp,
      ParquetCatalog.ClusterByProp, ParquetCatalog.ZorderByProp)
      .foldLeft(meta) { (mm, p) =>
        val k = propKey(p)
        mm.get(k).fold(mm)(v => mm + (k -> fix(v)))
      }
    val bk = propKey(ParquetCatalog.BucketByProp)
    base.get(bk).fold(base)(v => base + (bk -> fixBucket(v)))
  }

  def renameColumn(name: String, from0: String, to: String): Long = {
    require(exists(name), s"no table $name")
    val m = currentManifest(name)
    val cur = recordedSchema(m).getOrElse(readVersion(name, m.version).schema)
    val from = cur.fieldNames.find(_.equalsIgnoreCase(from0)).getOrElse(
      throw new IllegalArgumentException(s"$name has no column '$from0'"))
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"$name already has a column '$to'")
    require(!m.partitionBy.exists(_.equalsIgnoreCase(from)),
      s"cannot rename partition column '$from' of $name: partition names " +
        "are the directory layout; restage under a new layout instead")
    val refs = constraintsReferencing(name, from)
    require(refs.isEmpty,
      s"cannot rename '$from': constraint(s) ${refs.mkString(", ")} " +
        "reference it; drop and re-add them around the rename")
    val ids = colIds(m)
    // the distributed footer proof runs ONLY at activation: once the
    // mapping is on, every live file was either verified then or staged
    // with ids stamped — a second rename on a 100 TB table must not pay
    // a pointless cluster-wide footer pass
    val missing =
      if (mappingOn(m)) Nil
      else SkippingIndex.filesWithoutFieldIds(spark,
        m.files.map(f => versionsDir(name).resolve(f).toString))
    require(missing.isEmpty && ids.contains(from),
      s"metadata-only rename needs every data file of $name to carry " +
        s"parquet field ids; ${missing.size} file(s) predate them " +
        s"(e.g. ${missing.take(2).mkString(", ")}). Run compact(...) / " +
        "OPTIMIZE first — the rewrite stamps ids — then rename.")
    val renamed = StructType(cur.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    // skipping declarations FOLLOW the renamed column: a graft.bloomFor/
    // indexFor/bucketBy still naming the old spelling would silently
    // stop applying to files staged after the rename
    val v = commit(name, Some(m), m.partitionBy, CarryAll,
      renamedProps(m.meta.filter(_._1.startsWith(PropPrefix)), from, to) ++
        Map("op" -> "renameColumn", "colmap" -> "on", "schema" -> renamed.toDDL,
          colIdKey(to) -> ids(from).toString),
      cleared = Seq(colIdKey(from)))
    if (SkippingIndex.existsAt(statsPath(name)))
      SkippingIndex.renameColumn(statsPath(name), from, to)
    v
  }

  /** `ALTER TABLE ALTER COLUMN TYPE` as ONE metadata commit, for the
    * LOSSLESS widenings Spark's parquet readers resolve per file
    * ([[isWidening]]: byte→short→int→long, float→double, sub-long
    * integrals→double): the recorded schema takes the wide type, old
    * files keep their narrow physical encoding, and readers widen on
    * decode — zero bytes rewritten where the old path full-restaged.
    * Anything lossy or non-numeric still refuses with the restage
    * remedy (Delta without the type-widening table feature behaves the
    * same). */
  def alterColumnType(name: String, colName0: String, newType: DataType): Long = {
    require(exists(name), s"no table $name")
    val m = currentManifest(name)
    val cur = recordedSchema(m).getOrElse(readVersion(name, m.version).schema)
    val colName = cur.fieldNames.find(_.equalsIgnoreCase(colName0)).getOrElse(
      throw new IllegalArgumentException(s"$name has no column '$colName0'"))
    val curType = cur.fields.find(_.name == colName).get.dataType
    if (curType == newType) return m.version
    require(!m.partitionBy.exists(_.equalsIgnoreCase(colName)),
      s"cannot retype partition column '$colName' of $name: the rendered " +
        "directory names would change; restage under a new layout instead")
    require(isWidening(curType, newType),
      s"only lossless widenings are metadata-only " +
        s"(byte->short->int->long, float->double, int->double); " +
        s"${curType.simpleString} -> ${newType.simpleString} needs a " +
        "physical restage: read, cast, overwriteVersioned")
    val retyped = StructType(cur.fields.map(f =>
      if (f.name == colName) f.copy(dataType = newType) else f))
    commit(name, Some(m), m.partitionBy, CarryAll,
      Map("op" -> "alterSchema", "schema" -> retyped.toDDL))
  }

  /** The partitions whose file counts exceed `maxFiles` — the
    * small-file maintenance worklist, answered from the CURRENT
    * manifest alone (zero data files opened). Feed each entry to
    * [[compactPartition]]; at 100 TB the planner must never cost a
    * table scan. Sorted worst-first; unpartitioned tables report the
    * whole table as the empty spec when fragmented. */
  def compactionPlan(name: String,
      maxFiles: Int): Seq[(Seq[(String, String)], Int)] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    require(maxFiles > 0, "maxFiles must be positive")
    val m = currentManifest(name)
    if (m.partitionBy.isEmpty)
      return if (m.files.size > maxFiles) Seq((Nil, m.files.size)) else Nil
    m.files.groupBy(TableManifest.partitionComponent)
      .collect { case (comp, fs) if fs.size > maxFiles =>
        val spec = comp.split('/').toSeq.map { kv =>
          val i = kv.indexOf('=')
          ExternalCatalogUtils.unescapePathName(kv.take(i)) ->
            ExternalCatalogUtils.unescapePathName(kv.drop(i + 1))
        }
        (spec, fs.size)
      }.toSeq.sortBy(-_._2)
  }

  // ---- incrementally-maintained materialized aggregates -------------
  //
  // A rollup over a 100 TB fact table must not be recomputed from
  // scratch because one partition's merge landed. Counts and sums are
  // ABELIAN: every change-feed row contributes a signed delta
  // (+1 insert/postimage, -1 delete/preimage), so the refresh is
  // aggregate-the-feed + merge-into-state — O(delta) read, one shuffle
  // on the group keys, never a source re-scan. Sums are maintained in
  // DECIMAL(28,6)→(38,6), so incremental state is BIT-EQUAL to a full
  // recompute (float accumulation would drift); the txn registry is
  // the refresh watermark, making refresh idempotent and crash-safe.

  /** Create or incrementally refresh materialized aggregate `dst` =
    * `SELECT groupBy..., count(*), sum(sumCols...) FROM src GROUP BY
    * groupBy` — maintained from `src`'s change feed, never by
    * re-scanning `src` (except the bootstrap refresh, which aggregates
    * the current version once). `keys` are src's MERGE keys (what the
    * per-commit diff is computed over). State schema: groupBy columns,
    * `n_rows`, and `sum_<col>` as exact decimals. Groups whose count
    * reaches zero leave the view. Returns dst's committed version; a
    * caught-up refresh commits nothing and a replayed one is a no-op
    * (token `mv:<src>-><dst>#<srcVersion>`, probed via the registry —
    * which doubles as the refresh watermark). */
  def refreshMaterialized(src: String, dst: String, keys: Seq[String],
      groupBy: Seq[String], sumCols: Seq[String]): Long = {
    require(exists(src), s"no table $src")
    require(groupBy.nonEmpty, "materialized view needs group columns")
    val sinkId = s"mv:$src->$dst"
    val cur = currentVersion(src)
    val high = sinkHighWater(dst, sinkId).getOrElse(0L)
    if (high >= cur) return currentVersion(dst)
    val dec = (c: String) => col(c).cast("decimal(28,6)")
    val next =
      if (high == 0L) {
        // bootstrap: one aggregate of the current version (a fresh view
        // on a vacuumed table has no replayable history to fold)
        val boot = readVersion(src, cur).groupBy(groupBy.map(col): _*)
          .agg(count(lit(1)).as("n_rows"),
            sumCols.map(c => sum(dec(c)).as(s"sum_$c")): _*)
        overwriteVersioned(dst, boot, batchToken = Some(s"$sinkId#$cur"))
      } else {
        val feed = tableChanges(src, high, cur, keys)
        val w = when(col("_change_type").isin("insert", "update_postimage"),
          lit(1L)).otherwise(lit(-1L))
        val delta = feed.groupBy(groupBy.map(col): _*)
          .agg(sum(w).as("n_rows"),
            sumCols.map(c =>
              sum(when(w === 1L, dec(c)).otherwise(-dec(c))).as(s"sum_$c")): _*)
        val merged = read(dst).unionByName(delta)
          .groupBy(groupBy.map(col): _*)
          .agg(sum(col("n_rows")).as("n_rows"),
            sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")): _*)
          .filter(col("n_rows") =!= 0L)
        overwriteVersioned(dst, merged, batchToken = Some(s"$sinkId#$cur"))
      }
    next
  }

  /** Timestamp-bounded change feed — `tableChanges` anchored by
    * wall-clock instead of version: every change committed STRICTLY
    * AFTER the table state as of `tsMillis` ([[versionAsOf]]
    * resolution), i.e. the replay a consumer needs who last saw the
    * table at that moment. Same O(delta) file reads, same
    * `_commit_version` attribution. */
  def changesSince(name: String, tsMillis: Long,
      keys: Seq[String]): DataFrame =
    tableChanges(name, versionAsOf(name, tsMillis), currentVersion(name), keys)

  /** Execute a catalog SQL statement — the TEXT surface for the
    * Delta-parity verbs (see [[CatalogSql]]): time-travel `SELECT ...
    * VERSION/TIMESTAMP AS OF`, `DESCRIBE HISTORY t`, `RESTORE TABLE t
    * TO VERSION AS OF n`, and `MERGE INTO`. Plain relation names
    * resolve to catalog tables' current versions; unknown names fall
    * through to session temp views. */
  def sql(statement: String): DataFrame = CatalogSql.run(spark, this, statement)

  /** Delta `DESCRIBE DETAIL` parity: one metadata-only row — the
    * current version, retained version count, file count, total data
    * bytes, partition layout, constraint count, last commit stamp.
    * Driver-built from manifests and file attributes; zero data files
    * opened, zero Spark jobs. */
  def describeDetail(name: String): DataFrame = {
    import spark.implicits._
    val m = currentManifest(name)
    val bytes = m.files.map(f =>
      try Files.size(versionsDir(name).resolve(f)) catch { case _: Exception => 0L }).sum
    Seq((name, m.version, versions(name).size.toLong, m.files.size.toLong,
      bytes, m.partitionBy.mkString(","), constraints(name).size.toLong,
      m.meta.get("ts").map(_.toLong)))
      .toDF("name", "version", "retained_versions", "num_files", "size_bytes",
        "partition_by", "n_constraints", "last_commit_ts")
  }

  /** The table's partition layout: the manifest's recorded columns. */
  def layout(name: String): Seq[String] = currentManifest(name).partitionBy

  /** Delta `DESCRIBE HISTORY` parity: one row per retained version —
    * (version, operation, n_files, partition_by, batch, commit_ts).
    * Operations are
    * the commit verbs the manifests recorded (`overwrite`, `merge`,
    * `delete`, `append`, `overwritePartitions`, `compact`, `restore`,
    * `migrate`, `sync`, `setConstraint`, `dropConstraint`).
    * Driver-built from manifest metadata only — no data files are
    * opened, and the whole listing costs ONE raw parse per version:
    * meta and partitionBy ride every manifest form in full, and the
    * resolved file COUNT of a delta manifest folds incrementally from
    * its base's count (count(base) − removes + adds) as the walk
    * ascends, so no per-version chain resolution happens (the old
    * shape was O(versions × chain length) parses). */
  def history(name: String): DataFrame = {
    import spark.implicits._
    val counts = scala.collection.mutable.Map.empty[Long, Long]
    versions(name).map { v =>
      val m = rawManifest(name, v)
      val n = m.base match {
        case Some(b) =>
          // the base of a retained delta is retained (vacuum
          // materializes before dropping bases), so it was counted by
          // an earlier iteration; the resolve fallback covers only the
          // concurrent-vacuum window
          counts.getOrElse(b, manifest(name, b).files.size.toLong) -
            m.removes.size + m.files.size
        case None => m.files.size.toLong
      }
      counts(v) = n
      (v, m.meta.getOrElse("op", "unknown"), n,
        m.partitionBy.mkString(","), m.meta.getOrElse("batch", ""),
        m.meta.get("ts").map(_.toLong))
    }.toDF("version", "operation", "n_files", "partition_by", "batch",
      "commit_ts")
  }

  /** Delta `RESTORE` parity: make the table's CURRENT state equal a
    * retained version — committed as a NEW version whose manifest
    * simply re-references the restored version's files verbatim. Zero
    * bytes copied, zero files opened; history is preserved (the
    * restore itself is an auditable commit, and the versions between
    * remain retained until [[vacuum]]). */
  def restore(name: String, version: Long): Long = {
    val src = manifest(name, version)
    val cur = currentManifest(name)
    // restore rewinds TABLE STATE, never sink progress: the txn
    // high-water map is monotonic per sink, so it alone carries from the
    // CURRENT manifest — a restored-then-replayed micro-batch must
    // still be a no-op — and everything else is the source's
    // ("ts" is dropped too: a restore is a NEW commit stamped at NOW,
    // not a replay of the restored version's wall-clock; so is the
    // source's touched set — a restore rewinds every partition, and a
    // fast-forward must never slide a writer past it)
    commit(name, Some(cur), src.partitionBy, Listed(src.files),
      src.meta.filterNot { case (k, _) =>
        k == "batch" || k == "ts" || k == "touched" || k.startsWith(TxnPrefix)
      } + ("op" -> "restore") + ("restoredFrom" -> version.toString),
      cleared = cur.meta.keys.filterNot(_.startsWith(TxnPrefix)))
  }

  /** The shared optimistic-concurrency retry loop every versioned
    * commit verb composes with: `body` re-evaluates from scratch on
    * each attempt — it RE-READS the now-current snapshot and re-derives
    * its delta against the interleaved writer's committed state, so
    * neither update is lost (Delta's transaction retry). Fails after
    * `maxAttempts` consecutive [[ConcurrentWriteException]] losses (a
    * table with that much write contention needs coordination, not
    * more retries); every other failure propagates immediately —
    * retrying a constraint violation or schema drift would just repeat
    * it. */
  def withRetry[A](maxAttempts: Int = 3)(body: => A): A = {
    require(maxAttempts >= 1, "need at least one attempt")
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: ConcurrentWriteException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[upsertVersioned]] under [[withRetry]]. The first attempt honors
    * `fromVersion` (the long-transaction pin); retries drop it — the
    * pin's purpose is DETECTING the interleaved commit, and the retry
    * is the re-read-and-re-merge response. */
  def upsertVersionedWithRetry(name: String, source: DataFrame,
      keys: Seq[String],
      smartCases: Map[String, (Column, Column) => Column] = Map.empty,
      insertOnly: Boolean = false,
      partitionBy: Seq[String] = Nil,
      evolveSchema: Boolean = false,
      fromVersion: Option[Long] = None,
      maxAttempts: Int = 3): Long = {
    var pin = fromVersion
    withRetry(maxAttempts) {
      val p = pin
      pin = None // any retry re-reads the now-current snapshot
      upsertVersioned(name, source, keys, smartCases, insertOnly,
        partitionBy, evolveSchema, p)
    }
  }

  /** Retention: drop all but the newest `keep` versions' manifests,
    * then delete data files REFERENCE-COUNTED — a file is removable
    * only when no retained manifest lists it (version sharing means a
    * file may back many versions). Two guards protect CONCURRENT
    * writers (Delta's retention-window discipline):
    *
    *   - `minAgeMs` (default 20 min): an in-flight commit moves fully-
    *     written files into `data/` BEFORE its manifest becomes
    *     visible; in that window they are indistinguishable from a
    *     crashed writer's orphans. Younger unreferenced files are left
    *     alone. Pass 0 only when no other writer can be mid-commit.
    *   - manifests are RE-LISTED after the dead-file scan: a commit
    *     that landed while the scan walked the data tree re-references
    *     files the scan deemed dead; anything such a late manifest
    *     lists is dropped from the kill set before deletion.
    *
    * Also sweeps the table's own stray staging dirs
    * (`<root>/.tmp-<name>-<hex nonce>` — never another table's, whose
    * write may be in flight), the root's `.rename-tmp-` files and the
    * table's `.manifest-tmp-` files a crashed writer may have left.
    * Returns manifests + debris entries removed. */
  def vacuum(name: String, keep: Int = 1,
      minAgeMs: Long = ParquetCatalog.DefaultVacuumMinAgeMs): Int = {
    require(keep >= 1, "must keep at least the current version")
    var removed = 0
    val vs = versions(name)
    if (vs.nonEmpty) {
      val retained = vs.takeRight(keep)
      // deletion-vector sidecars are reference-counted exactly like
      // data files: live while any retained manifest points at them
      val referenced = retained.flatMap { v =>
        val m = manifest(name, v)
        m.files ++ dvEntries(m).values
      }.toSet
      // a retained DELTA manifest whose base is about to be dropped is
      // first MATERIALIZED in place (atomic same-content replace of the
      // delta by its resolved snapshot) so retention never breaks a
      // resolution chain; ascending order materializes a retained base
      // before its retained dependents
      val retainedSet = retained.toSet
      retained.foreach { v =>
        rawManifest(name, v).base.foreach { b =>
          if (!retainedSet.contains(b)) {
            val full = manifest(name, v) // resolved while the base still exists
            val tmp = versionsDir(name).resolve(s".manifest-tmp-${nonce()}")
            Files.writeString(tmp, full.render)
            Files.move(tmp, manifestPath(name, v),
              StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
      vs.dropRight(keep).foreach { v =>
        Files.delete(manifestPath(name, v)); removed += 1
      }
      val vd = versionsDir(name)
      val dd = dataDir(name)
      if (Files.isDirectory(dd)) {
        val now = System.currentTimeMillis()
        val s = Files.walk(dd)
        val candidates =
          try s.iterator().asScala
            .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
            .filter(p => !referenced.contains(vd.relativize(p).toString))
            .filter(p => now - Files.getLastModifiedTime(p).toMillis >= minAgeMs)
            .toList
          finally s.close()
        // close the scan window: a manifest committed since the first
        // listing may reference candidate files — re-read the live
        // manifest set and spare anything it lists
        val lateReferenced = versions(name)
          .flatMap { v =>
            val m = manifest(name, v)
            m.files ++ dvEntries(m).values
          }.toSet
        val dead = candidates.filterNot(p =>
          lateReferenced.contains(vd.relativize(p).toString))
        dead.foreach(Files.delete)
        pruneEmptyDirs(dd)
      }
      removed += sweepDebris(vd, minAgeMs)(_.startsWith(".manifest-tmp-"))
    }
    // this table's staging dirs and rename journals' temps at the root;
    // nonces are hex, so `.tmp-a-` + hex never matches table a-b's dirs
    val staging = s".tmp-$name-"
    removed + sweepDebris(Paths.get(root), minAgeMs) { n =>
      n.startsWith(".rename-tmp-") || (n.startsWith(staging) &&
        n.length > staging.length &&
        n.drop(staging.length).forall(Character.digit(_, 16) >= 0))
    }
  }

  /** Delete the entries of `dir` whose names `debris` accepts that are
    * older than `minAgeMs` — AGE-GUARDED like the data-tree orphan
    * sweep: a LIVE writer's in-flight staging dir (or a commit's
    * `.manifest-tmp-`) is indistinguishable from a crashed one's, and
    * sweeping it mid-write kills the writer (the once-flaky vacuum race
    * test was exactly this). Entries that vanish mid-check are skipped.
    * Returns the number removed. */
  private def sweepDebris(dir: Path, minAgeMs: Long)(
      debris: String => Boolean): Int = {
    val now = System.currentTimeMillis()
    val s = Files.list(dir)
    val old =
      try s.iterator().asScala
        .filter(p => debris(p.getFileName.toString))
        .filter(p => scala.util.Try(
          now - Files.getLastModifiedTime(p).toMillis >= minAgeMs)
          .getOrElse(false))
        .toList
      finally s.close()
    old.foreach(deleteRecursively)
    old.size
  }

  /** Age-based retention (Delta `VACUUM ... RETAIN n HOURS` semantics
    * on the version chain): a version is droppable only once it was
    * SUPERSEDED before the retention horizon — i.e. its SUCCESSOR's
    * commit stamp is at or before the cutoff — so the version that was
    * current AT the horizon stays retained and `TIMESTAMP AS OF` keeps
    * resolving everywhere inside the promised window. The cutoff maps
    * to a keep-count via [[versionAsOf]]'s binary search (O(log
    * versions) manifest parses), then [[vacuum]] does the
    * reference-counted file sweep. Returns entries removed. */
  def vacuumRetain(name: String, retainMs: Long,
      minAgeMs: Long = ParquetCatalog.DefaultVacuumMinAgeMs): Int = {
    require(retainMs >= 0, "retainMs must be non-negative")
    val vs = versions(name)
    require(vs.nonEmpty, s"$name is not a versioned table")
    val cutoff = System.currentTimeMillis() - retainMs
    // versionAsOf(cutoff) = the version current AT the horizon: it and
    // everything after it are retained; everything before it had its
    // successor commit at or before the cutoff and may drop (unstamped
    // legacy manifests count as arbitrarily old)
    val keep =
      if (commitTimestamp(name, vs.head).exists(_ > cutoff)) vs.size
      else vs.size - vs.indexOf(versionAsOf(name, cutoff))
    vacuum(name, math.max(1, keep), minAgeMs)
  }

  /** Remove empty subdirectories bottom-up (kept dirs: any with files). */
  private def pruneEmptyDirs(base: Path): Unit = {
    val s = Files.walk(base)
    val dirs = try s.iterator().asScala.filter(Files.isDirectory(_)).toList
      finally s.close()
    // reverse-lexicographic puts children before their parents
    dirs.sortBy(_.toString)(Ordering.String.reverse).foreach { d =>
      val empty = { val l = Files.list(d); try !l.iterator().hasNext finally l.close() }
      if (d != base && empty) Files.delete(d)
    }
  }

  /** EXACT row count of version `v` without reading a single data
    * page — Delta/Iceberg's metadata-only `COUNT(*)` (the registered
    * catalog's [[graft.spark.GraftScanBuilder]] answers plain
    * `SELECT count(*)` from this): per-file footer row counts (served
    * from the skipping index when present, one distributed footer read
    * for whatever it misses) minus the version's deletion-vector
    * positions. Vector sets are counted per file AGAINST ITS OWN
    * current sidecar — older sidecars still carry superseded subsets
    * of re-vectored files, sound for the anti-join read filter (set
    * membership) but double-counting here. At 100 TB: a count that
    * scanned would read every row; this reads O(files) footers once
    * and O(deleted) sidecar rows. */
  def exactRowCount(name: String, version: Long): Long = {
    require(exists(name), s"no table $name")
    val m = manifest(name, version)
    exactRowCountFor(name, version,
      m.files.map(f => versionsDir(name).resolve(f).toString))
  }

  /** Absolute data-file paths of version `version` — the registered
    * catalog's metadata-aggregate glue resolves the whole-version file
    * set through this. */
  def dataFilesAbs(name: String, version: Long): Seq[String] =
    manifest(name, version).files
      .map(f => versionsDir(name).resolve(f).toString)

  /** [[exactRowCount]] restricted to a SUBSET of the version's data
    * files (absolute paths) — what answers a metadata `COUNT(*)` whose
    * predicate referenced ONLY partition columns: the scan's file
    * index already reduced the file list exactly, so the count is the
    * kept files' footer rows minus THEIR deletion-vector positions. */
  def exactRowCountFor(name: String, version: Long,
      filesAbs: Seq[String]): Long = {
    require(exists(name), s"no table $name")
    val m = manifest(name, version)
    if (filesAbs.isEmpty) return 0L
    // per-file cached lookups off ONE resolved generation view —
    // O(queried files), never an O(index) map rebuild per count (r20)
    val indexed: Map[String, Long] =
      if (SkippingIndex.existsAt(statsPath(name))) {
        val view = SkippingIndex.viewAtCached(statsPath(name))
        filesAbs.flatMap(f => view.rowCount(f).map(f -> _)).toMap
      } else Map.empty
    val missing = filesAbs.filterNot(indexed.contains)
    val counted =
      if (missing.isEmpty) Map.empty[String, Long]
      else SkippingIndex.rowCounts(spark, missing)
    val raw = filesAbs.map(f => indexed.getOrElse(f, counted(f))).sum
    val keepRel = filesAbs
      .map(f => versionsDir(name).relativize(Paths.get(f)).toString).toSet
    val entries = dvEntries(m).filter { case (rel, _) => keepRel.contains(rel) }
    val deleted =
      if (entries.isEmpty) 0L
      else entries.toSeq.groupBy(_._2).map { case (sidecar, pairs) =>
        FooterSchema.parquet(spark, versionsDir(name).resolve(sidecar).toString)
          .where(col("file").isin(pairs.map(_._1): _*))
          .select(lit(1))
      }.reduce(_.union(_)).count()
    raw - deleted
  }

  /** EXACT (min, max) of `column` over `filesAbs` of version `version`,
    * answered purely from the persisted skipping index — the
    * Delta/Iceberg metadata `MIN`/`MAX`. Per-file footer min/max are
    * exact aggregates of the file's values, so the min-of-mins /
    * max-of-maxes over ALL live files is the true answer — but ONLY
    * when every condition below holds; anything else returns None and
    * the caller routes to the real scan:
    *
    *   - the version carries NO deletion vectors (a vector could have
    *     deleted the extremal row);
    *   - every non-empty file has stats for the column whose recorded
    *     type is EXACTLY the one `dataType` implies — files the
    *     reconciled index no longer covers (time travel, unindexed
    *     tables) get ONE distributed footer pass
    *     ([[statsWithFallback]], zero data pages); all-null files
    *     record no stats and conservatively bail;
    *   - the type round-trips losslessly through the index's string
    *     rendering: integral, DATE, and exact-micros TIMESTAMP types
    *     only. FLOAT/DOUBLE are excluded (NaN/-0.0 footer-stats
    *     semantics differ from SQL ordering), strings/decimals too
    *     (footer binary stats may be truncated).
    *
    * Returns Some((null, null)) for an empty file set — SQL MIN/MAX of
    * no rows. Values are catalyst-internal for `dataType`. */
  /** EXACT non-null count of `column` over `filesAbs` of version
    * `version` — the metadata `COUNT(col)`: Σ(file rows − file null
    * count) from the persisted index, with the [[statsWithFallback]]
    * footer pass covering files the index no longer lists. None
    * (→ real scan) when the version carries vectors or any non-empty
    * file lacks an EXACT null count for the column (pre-r18 index
    * entries record −1; all-null files record no entry at all). */
  def statsNonNullCount(name: String, version: Long, column: String,
      filesAbs: Seq[String]): Option[Long] = {
    require(exists(name), s"no table $name")
    val m = manifest(name, version)
    if (dvEntries(m).nonEmpty) return None
    val stats = statsWithFallback(name, column, filesAbs)
    val perFile = filesAbs.flatMap { f =>
      stats.get(f) match {
        case Some(fs) if fs.rows == 0 => None
        case Some(fs) =>
          Some(fs.cols.find(_.column.equalsIgnoreCase(column))
            .filter(_.nulls >= 0).map(cs => fs.rows - cs.nulls))
        case None => Some(None)
      }
    }
    if (perFile.exists(_.isEmpty)) None else Some(perFile.flatten.sum)
  }

  /** Index entries for `filesAbs`, footer-reading whatever the
    * reconciled index no longer covers (time-traveled versions, or an
    * unindexed table) — ONE distributed footer pass over the gap, zero
    * data pages, exactly [[exactRowCount]]'s missing-file policy. */
  private def statsWithFallback(name: String, column: String,
      filesAbs: Seq[String]): Map[String, SkippingIndex.FileStats] = {
    // per-file cached lookups off ONE resolved generation view —
    // O(queried files), never an O(index) map rebuild per aggregate (r20)
    val indexed: Map[String, SkippingIndex.FileStats] =
      if (SkippingIndex.existsAt(statsPath(name))) {
        val view = SkippingIndex.viewAtCached(statsPath(name))
        filesAbs.flatMap(f => view.fileStats(f).map(f -> _)).toMap
      } else Map.empty
    val missing = filesAbs.filterNot(indexed.contains)
    if (missing.isEmpty) indexed
    else indexed ++ SkippingIndex.collectFor(spark, missing, Seq(column))
      .map(fs => fs.file -> fs)
  }

  /** Per-SIDE exact (min, max) of `column` from the index: each side
    * is Some only when provable. Deletion vectors narrow a column's
    * range only INWARD, so a vectored file's stats cannot PROVE an
    * extreme (its extremal row may be deleted) — but when an
    * UNVECTORED file attains the global min-of-mins / max-of-maxes,
    * that row provably survives and that SIDE is still exact (r20;
    * previously any vector refused both). A `min(x)`-only query thus
    * answers from metadata even while `max(x)` routes to the scan. */
  def statsMinMax(name: String, version: Long, column: String,
      dataType: org.apache.spark.sql.types.DataType,
      filesAbs: Seq[String]): (Option[Any], Option[Any]) = {
    import org.apache.spark.sql.types._
    require(exists(name), s"no table $name")
    val m = manifest(name, version)
    val dv = dvEntries(m).keySet
    def parse(typ: String, s: String): Option[Any] = (dataType, typ) match {
      case (IntegerType, "INT32") => s.toIntOption
      case (IntegerType, t) if t.startsWith("INT32:INT(32,true")
        => s.toIntOption
      case (LongType, "INT64") => s.toLongOption
      case (LongType, t) if t.startsWith("INT64:INT(64,true")
        => s.toLongOption
      case (ShortType, t) if t.startsWith("INT32:INT(16,true")
        => s.toShortOption
      case (ByteType, t) if t.startsWith("INT32:INT(8,true")
        => s.toByteOption
      case (DateType, "INT32:DATE") => s.toIntOption
      case (TimestampType, "INT64:TIMESTAMP(MICROS,true)") => s.toLongOption
      case (TimestampNTZType, "INT64:TIMESTAMP(MICROS,false)") => s.toLongOption
      // int-backed DECIMAL stats are EXACT unscaled integers (unlike
      // the truncatable binary form, which stays refused): answerable
      // when the annotation matches the column's precision/scale
      // variant-exactly (r19)
      case (dt: DecimalType, t)
          if t == s"INT32:DECIMAL(${dt.precision},${dt.scale})" ||
            t == s"INT64:DECIMAL(${dt.precision},${dt.scale})" =>
        s.toLongOption.map(u =>
          Decimal(BigDecimal(BigInt(u), dt.scale), dt.precision, dt.scale))
      // STRING stats answer when the index proves EXACTNESS (r20): the
      // `BINARY:STRING` tag is only recorded when the footer bytes
      // round-trip UTF-8 byte-exactly (SkippingIndex r20 — lossy
      // decodes demote); the U+FFFD guard covers pre-r20 entries.
      // TRUNCATED footer stats — bounds, not values — are excluded by
      // the per-FILE gate below: only graft-STAGED files answer, and
      // [[writeOpts]] pins truncation off for those, so a recorded
      // string extreme is the extreme itself (values past parquet-mr's
      // 4 KB stats cap are dropped entirely, never truncated). Absorbed
      // files (arrow-rs and friends truncate at 64 by default, with
      // boundary-adjusted bounds that no length heuristic can detect)
      // refuse → the stock scan answers.
      case (StringType, "BINARY:STRING") if s.indexOf('�') < 0 =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case _ => None
    }
    val stats = statsWithFallback(name, column, filesAbs)
    // STRING extremes are only provably untruncated for files graft's
    // own writer staged (version-nonce-index basenames; [[writeOpts]]
    // pins truncation off there) — an absorbed/migrated file's footer
    // may carry boundary-adjusted truncated BOUNDS no heuristic can
    // tell from values
    val stagedName = "^v\\d+-[0-9a-f]+-\\d+-".r
    def graftStaged(f: String): Boolean =
      stagedName.findPrefixOf(Paths.get(f).getFileName.toString).isDefined
    val perFile: Seq[(String, Option[(Any, Any)])] = filesAbs.flatMap { f =>
      stats.get(f) match {
        case Some(fs) if fs.rows == 0 => None // no rows, no contribution
        case Some(_) if dataType == StringType && !graftStaged(f) =>
          Some(f -> None) // unknown writer: stats may be truncated bounds
        case Some(fs) =>
          Some(f -> fs.cols.find(_.column.equalsIgnoreCase(column)).flatMap(cs =>
            parse(cs.typ, cs.min).zip(parse(cs.typ, cs.max))))
        case None => Some(f -> None) // footer pass missed it too: cannot answer
      }
    }
    if (perFile.isEmpty) (Some(null), Some(null))
    else if (perFile.exists(_._2.isEmpty)) (None, None)
    else {
      val pairs = perFile.map { case (f, v) => (f, v.get) }
      val vs = pairs.map(_._2)
      @annotation.nowarn
      def ord: Ordering[Any] = dataType match {
        case TimestampType | TimestampNTZType | LongType =>
          Ordering.Long.on[Any](_.asInstanceOf[Long])
        case IntegerType | DateType => Ordering.Int.on[Any](_.asInstanceOf[Int])
        case ShortType => Ordering.Short.on[Any](_.asInstanceOf[Short])
        case ByteType => Ordering.Byte.on[Any](_.asInstanceOf[Byte])
        case _: DecimalType => Ordering.fromLessThan[Any]((a, b) =>
          a.asInstanceOf[Decimal] < b.asInstanceOf[Decimal])
        // UTF8String.compareTo IS the unsigned-byte stats order
        case StringType => Ordering.fromLessThan[Any]((a, b) =>
          a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].compareTo(
            b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) < 0)
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      val mn = vs.map(_._1).min(ord)
      val mx = vs.map(_._2).max(ord)
      if (dv.isEmpty) (Some(mn), Some(mx))
      else {
        // a side is provable only when some UNVECTORED file attains it
        // (that file's extremal row survives all deletes)
        def unvectored(f: String): Boolean =
          !dv.contains(versionsDir(name).relativize(Paths.get(f)).toString)
        val mnOk = pairs.exists { case (f, (lo, _)) =>
          ord.equiv(lo, mn) && unvectored(f) }
        val mxOk = pairs.exists { case (f, (_, hi)) =>
          ord.equiv(hi, mx) && unvectored(f) }
        (if (mnOk) Some(mn) else None, if (mxOk) Some(mx) else None)
      }
    }
  }

  /** Number of data files currently backing the table (compaction
    * telemetry). */
  def fileCount(name: String): Long = currentManifest(name).files.size.toLong

  private def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

object ParquetCatalog {
  /** A table name is a SINGLE path component under the catalog root —
    * anything else (separators, a leading dot) could address the
    * internal trees (`.versions`, `.tmp-*`) or ESCAPE the root
    * entirely: a backtick-quoted SQL identifier like `` `..` `` reaches
    * the verbs verbatim, and `DROP TABLE` on it would recursively
    * delete the root's PARENT. Names failing this check never touch
    * the filesystem: [[ParquetCatalog.exists]] reports them absent and
    * every path builder refuses them loudly. */
  def isValidName(name: String): Boolean =
    name.nonEmpty && !name.startsWith(".") &&
      !name.exists(c => c == '/' || c == '\\')

  private[graft] def requireValidName(name: String): Unit =
    require(isValidName(name),
      s"invalid table name '$name': must be a single path component " +
        "(no '/', '\\', or leading '.')")

  /** [[ParquetCatalog.vacuum]]'s default orphan-sweep age floor: long
    * enough for any live writer's stage→commit window, short enough
    * that crashed-writer debris doesn't linger across a daily
    * retention job. */
  val DefaultVacuumMinAgeMs: Long = 20L * 60 * 1000

  /** Table property routing row-level DELETE/UPDATE merge-on-read
    * through deletion vectors (Delta's `enableDeletionVectors`). */
  val DeletionVectorsProp: String = "graft.deletionVectors"

  /** TBLPROPERTY spellings of the constructor's skipping knobs — what
    * lets a table created purely through SQL acquire parquet blooms
    * (`graft.bloomFor` = comma-separated columns, sized by
    * `graft.bloomNdv`) and a self-maintaining min/max skipping index
    * (`graft.indexFor` = comma-separated columns). */
  val BloomForProp: String = "graft.bloomFor"
  val BloomNdvProp: String = "graft.bloomNdv"
  val IndexForProp: String = "graft.indexFor"

  /** Bucketed-layout declaration, `<column>,<numBuckets>` — written by
    * [[ParquetCatalog.overwriteBucketedVersioned]], reported by the
    * registered catalog as a `bucket(n, col)` KeyGroupedPartitioning
    * (storage-partitioned joins without an identity partition join
    * key). */
  val BucketByProp: String = "graft.bucketBy"

  /** DECLARATIVE clustering (comma-separated columns), mirroring
    * `graft.bucketBy` (r20): `OPTIMIZE t` / engine-door `compact()`
    * with no explicit cluster arguments default to the declared
    * layout — Delta's clustered-table shape, where the cluster key is
    * table metadata retyped by no maintenance job. `graft.clusterBy`
    * (lexicographic range-cluster) additionally rides EVERY staged
    * write into a bucketed layout as an in-task sort, so min/max stats
    * stay tight between OPTIMIZE runs; `graft.zorderBy` applies at
    * OPTIMIZE/compact only (its key needs a min/max normalization pass
    * per write). Mutually exclusive; renames follow like the other
    * declarations. */
  val ClusterByProp: String = "graft.clusterBy"
  val ZorderByProp: String = "graft.zorderBy"

  /** Write-distribution cap for IDENTITY-only layouts (r20): a
    * positive int S — each identity partition lands in at most S
    * files per batch (distributed across S tasks via a row salt).
    * Bucketed layouts ignore it: there the (identity × bucket) cell
    * is the unit and the bucket count is the declared parallelism. */
  val WriteSplitsProp: String = "graft.writeSplits"

  /** The synthetic partition column bucketed layouts are stored under
    * (hive dirs `_gbucket=<id>`). */
  val BucketPartCol: String = "_gbucket"

  /** Every Nth append commits a self-contained manifest instead of a
    * delta: bounds any reader's resolution chain to N-1 hops while
    * keeping per-append metadata O(delta) — Delta's checkpoint-interval
    * trade, applied to the manifest format. */
  val SnapshotInterval: Int = 10

  /** What one write staged into `data/`: its files and any deletion-
    * vector sidecars (manifest-relative), the column ids the files'
    * footers carry, and the staged frame's schema (None when nothing
    * was staged). */
  private[storage] final case class Staged(files: Seq[String] = Nil,
      sidecars: Seq[String] = Nil, colIds: Map[String, Int] = Map.empty,
      schema: Option[StructType] = None) {
    /** The partition components the staged files landed in. */
    def parts: Set[String] = files.map(TableManifest.partitionComponent).toSet
  }

  /** How a commit's file list derives from its base version. */
  private[storage] sealed trait FileSet
  /** The staged files only: a full restage, whose homogeneous files
    * need no recorded schema. */
  private[storage] case object Restage extends FileSet
  /** The base's files `keep` accepts plus the staged ones, in one
    * self-contained manifest; the base's recorded schema still holds. */
  private[storage] final case class Carry(keep: String => Boolean) extends FileSet
  /** The base's files plus the staged ones as a DELTA manifest
    * (`base=` + added entries — O(delta) metadata bytes, the
    * amortization Delta's log gets from add-actions between
    * checkpoints) while the base chain is short, and as a SELF-
    * CONTAINED snapshot every [[ParquetCatalog.SnapshotInterval]]
    * commits, which bounds every reader's resolution chain. */
  private[storage] case object Append extends FileSet
  /** Exactly these files (restore, clone, migration). */
  private[storage] final case class Listed(files: Seq[String]) extends FileSet

  /** A partition-scoped commit that may fast-forward past disjoint
    * writers when its CAS loses ([[fastForward]]); `mergeRead` is a
    * keyed MERGE's (keys, source), whose read set must stay clear too. */
  private[storage] final case class FastForward(
      mergeRead: Option[(Seq[String], DataFrame)] = None)

  /** Process-wide, per-session refcount around the staged-write LTZ
    * MICROS override (`spark.sql.parquet.outputTimestampType` is
    * session-global and parquet has no per-write option): the conf
    * flips INT96 → TIMESTAMP_MICROS when the first concurrent stage
    * enters and restores when the last exits, so an overlapping stage
    * can never observe (or be broken by) a mid-flight restore. A
    * session already set to a non-INT96 value is the user's explicit
    * unit choice — `enter` declines and nothing is touched. */
  private[storage] object LtzMicrosOverride {
    private val TsKey = "spark.sql.parquet.outputTimestampType"
    private val depth = new java.util.HashMap[org.apache.spark.sql.SparkSession, Int]()
    /** True when the override is engaged for this stage (caller must
      * then balance with [[exit]]). */
    def enter(spark: org.apache.spark.sql.SparkSession): Boolean =
      depth.synchronized {
        val d = depth.getOrDefault(spark, 0)
        if (d == 0) {
          if (spark.conf.get(TsKey, "INT96") != "INT96") return false
          spark.conf.set(TsKey, "TIMESTAMP_MICROS")
        }
        depth.put(spark, d + 1)
        true
      }
    def exit(spark: org.apache.spark.sql.SparkSession): Unit =
      depth.synchronized {
        val d = depth.getOrDefault(spark, 0)
        if (d <= 1) { depth.remove(spark); spark.conf.set(TsKey, "INT96") }
        else depth.put(spark, d - 1)
      }
  }
}
