package graft.sources

import graft.functions.Fnv1a32
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.concurrent.TrieMap

/** DataSource V2 facade over the graft event-log layout:
  *
  * {{{
  *   spark.read.format("graft-events").load(logRoot)                       // events
  *   spark.read.format("graft-events").option("table", "snapshots").load(logRoot)
  * }}}
  *
  * External tools get the layout's scan optimizations without knowing it
  * exists: the scan builder derives `bucket = pmod(fnv1a32(aggregate_id), n)`
  * partition predicates from pushed `aggregate_id` point/IN filters, so a
  * point lookup lists ONE `bucket=N/` directory instead of the whole table —
  * the property that keeps stream reads O(stream) instead of O(log) at
  * 100 TB. Everything else (vectorized parquet, min/max skipping on the
  * ULID-sorted `id`, column pruning, AQE) is delegated to Spark's own
  * parquet DSv2 implementation, the same way the built-in avro connector
  * builds on [[FileTable]].
  *
  * The modulus comes from the `_graft_meta.json` marker [[GraftMeta]] that
  * [[graft.log.EventLog]] maintains inside each table directory — a reader
  * must never guess `numBuckets`, a wrong modulus would silently drop rows.
  *
  * Reference behavior mirrored: the store's point scans hit the
  * `(aggregate_id, aggregate_version)` index (store/postgresql/store.go:423);
  * here the bucket directory is that index's leading level.
  */
class GraftEventsDataSource extends FileDataSourceV2 {
  // DataFrameWriter routes FileDataSourceV2 saves through the V1 fallback
  // provider, not newWriteBuilder (SPARK-28396) — the fallback implements
  // CreatableRelationProvider and routes the batch through the log's commit
  // protocol (see [[GraftWriteSupport]]); raw parquet writers stay refused.
  override def fallbackFileFormat: Class[_ <: org.apache.spark.sql.execution.datasources.FileFormat] =
    classOf[ReadOnlyGraftParquetFormat]

  override def shortName(): String = "graft-events"

  override def getTable(options: CaseInsensitiveStringMap): Table = {
    val paths = tablePaths(options)
    new GraftEventsTable(getTableName(options, paths), sparkSession,
      getOptionsWithoutPaths(options), paths, None)
  }

  override def getTable(options: CaseInsensitiveStringMap, schema: StructType): Table = {
    val paths = tablePaths(options)
    new GraftEventsTable(getTableName(options, paths), sparkSession,
      getOptionsWithoutPaths(options), paths, Some(schema))
  }

  /** `load(root)` addresses the log root; `table` picks the inner table. */
  private def tablePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val table = Option(options.get("table")).getOrElse("events")
    require(table == "events" || table == "snapshots",
      s"graft-events: unknown table '$table' (expected events|snapshots)")
    getPaths(options).map(r => s"${r.stripSuffix("/")}/$table")
  }
}

/** A [[ParquetTable]] whose scans derive bucket partition filters. Writes
  * never touch parquet directly: they delegate to the log's commit protocol
  * ([[GraftWriteSupport]]), so an external Spark job appending through the
  * facade gets the same claim fencing and version minting as `EventLog`
  * callers (reference: the UNIQUE(aggregate_id, aggregate_version) index,
  * store/postgresql/store.go:702).
  */
class GraftEventsTable(
    tableName: String,
    sparkSession0: SparkSession,
    options0: CaseInsensitiveStringMap,
    paths0: Seq[String],
    userSpecifiedSchema0: Option[StructType])
  extends ParquetTable(tableName, sparkSession0, options0, paths0,
    userSpecifiedSchema0, classOf[ReadOnlyGraftParquetFormat]) {

  override def newScanBuilder(options: CaseInsensitiveStringMap): ParquetScanBuilder = {
    val numBuckets = paths0.headOption.flatMap(p => GraftMeta.numBuckets(sparkSession0, p))
    // Read-committed by default: exclude files of pending claims and files a
    // completed rewrite replaced, using the log's commit chain (empty/absent
    // on lock-mode logs → no wrapping). option("committed","false") reads raw.
    val committed = Option(options.get("committed")).forall(_.toBoolean)
    val idx =
      if (!committed) fileIndex
      else claimExclusion() match {
        case Some(excl) => new CommittedFileIndex(sparkSession0, fileIndex, excl)
        case None => fileIndex
      }
    new GraftScanBuilder(sparkSession0, idx, schema, dataSchema,
      mergedOptions(options), numBuckets)
  }

  /** Relative-name (`bucket=N/<basename>`) exclusion predicate from the
    * commit chain, or None when there is nothing to exclude.
    */
  private def claimExclusion(): Option[String => Boolean] = {
    val logRoot = paths0.headOption.map(p =>
      p.stripSuffix("/").stripSuffix("/events").stripSuffix("/snapshots"))
    logRoot.flatMap { root =>
      val chain = new graft.log.ManifestCommitLog(sparkSession0, root)
      val pending = chain.claims().filterNot(_.done).map(_.n).toSet
      val replaced = chain.replacedRelnames()
      if (pending.isEmpty && replaced.isEmpty) None
      // rel = table+bucket-qualified "<table>/bucket=N/<basename>"
      // (basenames recur across bucket dirs within one partitioned write,
      // and events/snapshots share one chain); the claim token is the
      // basename's prefix
      else Some(rel => replaced.contains(rel) ||
        graft.log.ManifestCommitLog.tokenClaim(rel).exists(pending))
    }
  }

  /** The write leg is V1-fallback-only (the whole batch routes through the
    * log's DRIVER-side commit protocol — a per-task V2 BatchWrite cannot
    * claim-fence); without the V1_BATCH_WRITE capability the SQL planner
    * would call `toBatch` on the write and fail.
    */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] = {
    val caps = new java.util.HashSet[org.apache.spark.sql.connector.catalog.TableCapability](super.capabilities())
    caps.add(org.apache.spark.sql.connector.catalog.TableCapability.V1_BATCH_WRITE)
    caps
  }

  /** DSv2 writes (catalog `INSERT INTO` / `DataFrameWriterV2.append`) wrap
    * the same commit-protocol delegate as the V1 fallback: the incoming
    * batch is ingest-shaped rows, versions and ids are minted by the log.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opts = {
      import scala.jdk.CollectionConverters._
      info.options.asCaseSensitiveMap().asScala.toMap
        .map { case (k, v) => k.toLowerCase -> v }
    }
    val root = GraftWriteSupport.logRootOf(paths0.head)
    new WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              if (overwrite) throw new UnsupportedOperationException(
                "graft-events: overwriting an event log is destructive — use " +
                  "EventLog maintenance APIs (compaction/migration) instead")
              GraftWriteSupport.write(data.sparkSession, data, root,
                org.apache.spark.sql.SaveMode.Append, opts)
            }
        }
    }
  }
}

/** A delegating file index that hides files by basename — the facade's
  * read-committed view. Only the two leaf-file accessors filter; every
  * listing/size/pruning method of [[PartitioningAwareFileIndex]] derives
  * from them, so partition pruning and min/max skipping behave exactly as
  * on the raw index.
  */
class CommittedFileIndex(
    spark: SparkSession,
    underlying: PartitioningAwareFileIndex,
    exclude: String => Boolean)
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private lazy val filtered: Seq[org.apache.hadoop.fs.FileStatus] =
    underlying.allFiles().filterNot(f =>
      exclude(graft.log.ManifestCommitLog.relname(f.getPath.toString)))

  override def partitionSpec(): org.apache.spark.sql.execution.datasources.PartitionSpec =
    underlying.partitionSpec()

  override def leafFiles: scala.collection.mutable.LinkedHashMap[Path, org.apache.hadoop.fs.FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, org.apache.hadoop.fs.FileStatus]
    filtered.foreach(f => m.put(f.getPath, f))
    m
  }

  override def leafDirToChildrenFiles: Map[Path, Array[org.apache.hadoop.fs.FileStatus]] =
    filtered.groupBy(_.getPath.getParent).view.mapValues(_.toArray).toMap

  override def rootPaths: Seq[Path] = underlying.rootPaths

  override def refresh(): Unit = underlying.refresh()
}

/** Parquet in every read respect; writes route through the commit protocol.
  *
  * `DataFrameWriter.save` falls back to this V1 provider for file-source-V2
  * formats (SPARK-28396), and [[org.apache.spark.sql.sources.CreatableRelationProvider]]
  * is matched BEFORE `FileFormat` in `DataSource.planForWriting` — so
  * `df.write.format("graft-events")` lands in [[createRelation]] with the
  * whole batch DataFrame and never opens a raw parquet writer.
  * [[prepareWrite]] still refuses: reaching it means something bypassed the
  * provider and tried to write files directly, which would skip the
  * per-stream optimistic version check.
  */
class ReadOnlyGraftParquetFormat extends ParquetFileFormat
  with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def prepareWrite(
      sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: StructType): org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "graft-events is read-only at the file level: append through " +
        "EventLog.append / df.write.format(\"graft-events\") so the commit " +
        "section can enforce per-stream optimistic versions")

  override def createRelation(
      ctx: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = opts.getOrElse("path", throw new IllegalArgumentException(
      "graft-events write requires a path (df.write.format(\"graft-events\").save(logRoot))"))
    GraftWriteSupport.write(data.sparkSession, data,
      GraftWriteSupport.logRootOf(path), mode, opts)
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }
}

/** The facade's write delegate: ingest-shaped rows (`aggregate_id,
  * aggregate_kind, kind, body[, discriminator]` plus a per-stream order
  * column, default `seq`) routed through [[graft.log.EventLog]]'s commit
  * protocol — ids/versions are MINTED by the log, never taken from the
  * input, and claims fence concurrent writers exactly as for native
  * callers. `SaveMode.Append` routes [[graft.log.EventLog.appendBulk]]
  * (streams may exist; versions continue; options `ledgerId`/`batchId`
  * opt into idempotent redelivery), `SaveMode.ErrorIfExists` routes
  * [[graft.log.EventLog.bulkImport]] (all-new streams; option `timeCol`
  * carries per-row epoch-millis). Overwrite/Ignore are refused — an event
  * log is append-only.
  *
  * Log parameters are DISCOVERED, not trusted from the caller: `numBuckets`
  * comes from the table's `_graft_meta.json` (option `numBuckets` only
  * seeds a brand-new log), commit mode from the presence of the claim
  * chain (option `commitMode` overrides), and declared `disc_<key>`
  * columns from the existing parquet schema so facade appends keep
  * materializing the same pushdown columns as native writers.
  */
object GraftWriteSupport {
  private val RequiredCols = Seq("aggregate_id", "aggregate_kind", "kind", "body")

  def logRootOf(path: String): String =
    path.stripSuffix("/").stripSuffix("/events").stripSuffix("/snapshots")

  private def logFor(spark: SparkSession, root: String,
      opts: Map[String, String]): graft.log.EventLog = {
    val eventsDir = s"$root/events"
    val numBuckets = GraftMeta.numBuckets(spark, eventsDir)
      .orElse(opts.get("numbuckets").map(_.toInt)).getOrElse(32)
    val mode = opts.get("commitmode").map(_.toLowerCase) match {
      case Some("manifest") => graft.log.CommitMode.Manifest
      case Some("lock") => graft.log.CommitMode.Lock
      case Some(other) => throw new IllegalArgumentException(
        s"graft-events: unknown commitMode '$other' (expected lock|manifest)")
      case None =>
        val chainDir = new Path(root, graft.log.ManifestCommitLog.CommitDir)
        val hasChain = chainDir.getFileSystem(spark.sessionState.newHadoopConf())
          .exists(chainDir)
        if (hasChain) graft.log.CommitMode.Manifest else graft.log.CommitMode.Lock
    }
    val discKeys =
      (try spark.read.parquet(eventsDir).schema.fieldNames.iterator
        .filter(_.startsWith("disc_")).map(_.stripPrefix("disc_")).toSet
      catch { case scala.util.control.NonFatal(_) => Set.empty[String] } // no events dir yet
      ) ++ GraftMeta.discKeys(spark, eventsDir) // ALTER-declared, possibly still data-less
    new graft.log.EventLog(spark, root, numBuckets,
      discriminatorKeys = discKeys, commitMode = mode)
  }

  def write(spark: SparkSession, df0: org.apache.spark.sql.DataFrame, root: String,
      mode: org.apache.spark.sql.SaveMode, opts0: Map[String, String]): Unit = {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions.{col, unix_millis}
    val seqCol = opts0.getOrElse("seqcol", "seq")
    // ENVELOPE-shaped input (the SQL `INSERT INTO` / CTAS path routes the
    // table's visible schema here): per-stream order is the existing
    // version column, event time rides created_at, and the minted columns
    // (id, hash, flags — placeholders or copies) are dropped; the log
    // re-mints them, exactly as for ingest-shaped callers.
    val envelope = !df0.columns.exists(_.equalsIgnoreCase(seqCol)) &&
      df0.columns.exists(_.equalsIgnoreCase("aggregate_version"))
    val (df, opts) =
      if (!envelope) (df0, opts0)
      else {
        var d = df0.withColumn(seqCol, col("aggregate_version").cast("long"))
          .drop("id", "aggregate_id_hash", "aggregate_version",
            "migration", "migrated", "bucket")
        val hasTs = df0.columns.exists(_.equalsIgnoreCase("created_at"))
        if (hasTs && mode == SaveMode.ErrorIfExists && !opts0.contains("timecol")) {
          d = d.withColumn("__evt_ms", unix_millis(col("created_at"))).drop("created_at")
          (d, opts0 + ("timecol" -> "__evt_ms"))
        } else (d.drop("created_at"), opts0)
      }
    val lower = df.columns.map(_.toLowerCase).toSet
    val missing = RequiredCols.filterNot(lower.contains)
    require(missing.isEmpty, s"graft-events write needs ingest-shaped rows " +
      s"(${RequiredCols.mkString(", ")}); missing: ${missing.mkString(", ")}")
    require(lower.contains(seqCol.toLowerCase), "graft-events write needs a " +
      s"per-stream order column '$seqCol' (override with option seqCol)")
    val log = logFor(spark, root, opts)
    mode match {
      case SaveMode.Append =>
        log.appendBulk(df, seqCol = seqCol, ledgerId = opts.get("ledgerid"),
          batchId = opts.get("batchid").map(_.toLong).getOrElse(-1L)): Unit
      case SaveMode.ErrorIfExists =>
        log.bulkImport(df, seqCol = seqCol, timeCol = opts.get("timecol")): Unit
      case other => throw new UnsupportedOperationException(
        s"graft-events: SaveMode.$other is not supported — Append continues " +
          "existing streams (appendBulk), ErrorIfExists imports all-new " +
          "streams (bulkImport); overwriting an event log is destructive")
    }
  }
}

/** Intercepts catalyst filter pushdown to add derived bucket predicates
  * before the stock parquet builder splits partition vs data filters (the
  * split is by attribute name, so a synthesized `bucket` reference lands in
  * the partition set and prunes directory listing).
  */
class GraftScanBuilder(
    spark: SparkSession,
    fileIndex: PartitioningAwareFileIndex,
    schema: StructType,
    dataSchema: StructType,
    options: CaseInsensitiveStringMap,
    numBuckets: Option[Int])
  extends ParquetScanBuilder(spark, fileIndex, schema, dataSchema, options) {

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // a brand-new (empty) log has a meta marker but no bucket=N directories
    // yet: nothing to prune, and a synthesized reference to the absent
    // partition column would fail the scan's attribute resolution
    val hasBucketPartition =
      fileIndex.partitionSchema.fieldNames.exists(_.equalsIgnoreCase("bucket"))
    val derived = numBuckets match {
      case Some(n) if hasBucketPartition => GraftBucketDerivation.derive(filters,
        () => AttributeReference("bucket", IntegerType)(), n)
      case _ => Nil
    }
    super.pushFilters(filters ++ derived)
  }
}

/** Derives bucket partition predicates from aggregate-id predicates. Shared
  * by the DSv2 scan builder and the V1 optimizer rule [[GraftBucketPruning]].
  */
object GraftBucketDerivation {

  def bucketFor(aggregateId: String, numBuckets: Int): Int =
    Math.floorMod(Fnv1a32.hashString(aggregateId), numBuckets)

  /** For every conjunct that pins `aggregate_id` to literals, emit the
    * implied predicate on the physical `bucket` column. `mkBucketAttr`
    * supplies the attribute (the relation's resolved attribute on the V1
    * path; a name-only reference on the V2 path).
    */
  def derive(conjuncts: Seq[Expression], mkBucketAttr: () => Expression,
      numBuckets: Int): Seq[Expression] = {
    def strLit(e: Expression): Option[String] = e match {
      case Literal(v: UTF8String, StringType) if v != null => Some(v.toString)
      case _ => None
    }
    def isAggId(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name.equalsIgnoreCase("aggregate_id")
      case _ => false
    }
    def bucketLits(ids: Iterable[String]): Seq[Expression] =
      ids.map(bucketFor(_, numBuckets)).toSeq.distinct.sorted.map(Literal(_))

    conjuncts.flatMap {
      case EqualTo(a, l) if isAggId(a) && strLit(l).isDefined =>
        Some(EqualTo(mkBucketAttr(), bucketLits(strLit(l)).head))
      case EqualTo(l, a) if isAggId(a) && strLit(l).isDefined =>
        Some(EqualTo(mkBucketAttr(), bucketLits(strLit(l)).head))
      case EqualNullSafe(a, l) if isAggId(a) && strLit(l).isDefined =>
        Some(EqualTo(mkBucketAttr(), bucketLits(strLit(l)).head))
      case In(a, vs) if isAggId(a) && vs.nonEmpty && vs.forall(strLit(_).isDefined) =>
        Some(In(mkBucketAttr(), bucketLits(vs.flatMap(strLit))))
      case InSet(a, hset) if isAggId(a) && hset.nonEmpty &&
          hset.forall(_.isInstanceOf[UTF8String]) =>
        Some(In(mkBucketAttr(), bucketLits(hset.map(_.asInstanceOf[UTF8String].toString))))
      case _ => None
    }
  }
}

/** The layout marker `_graft_meta.json` inside each table directory. Records
  * the bucket modulus (and layout version) so readers never guess it. The
  * underscore prefix keeps it invisible to parquet file listing and partition
  * discovery. Written through the Hadoop FS API — works on HDFS/object
  * stores, not just local disk.
  */
object GraftMeta {
  private val cache = TrieMap.empty[String, Option[Int]]

  def write(spark: SparkSession, tableDir: String, numBuckets: Int): Unit = {
    val p = metaPath(tableDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write(
        s"""{"layout":"graft-bucketed-v1","numBuckets":$numBuckets}""".getBytes("UTF-8"))
      finally out.close()
    }
    cache.put(cacheKey(tableDir), Some(numBuckets)): Unit
  }

  /** None when the directory carries no marker (not a graft table). Cached:
    * the optimizer rule consults this on every plan.
    */
  def numBuckets(spark: SparkSession, tableDir: String): Option[Int] =
    cache.getOrElseUpdate(cacheKey(tableDir), {
      try {
        val p = metaPath(tableDir)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          "\"numBuckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toInt)
        }
      } catch { case _: Exception => None }
    })

  /** Discriminator keys DECLARED on the log (the reference's
    * `WithDiscriminatorKeys`, store/postgresql/store.go:74-80) — persisted
    * in the meta marker so a key declared via `ALTER TABLE ... ADD COLUMNS
    * (disc_<key> STRING)` is allowed on writes BEFORE any row carries it
    * (the write path otherwise only infers keys from existing disc_
    * columns in the data files).
    */
  def discKeys(spark: SparkSession, tableDir: String): Set[String] = {
    val p = metaPath(tableDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      parseDiscKeys(body)
    }
  }

  private def parseDiscKeys(body: String): Set[String] =
    "\"discKeys\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(body)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Declare additional discriminator keys: rewrite the marker preserving
    * the layout fields. Single-writer scope (DDL is an operator action, like
    * the reference's schema bootstrap); the numBuckets cache is untouched.
    */
  def addDiscKeys(spark: SparkSession, tableDir: String, keys: Set[String]): Unit = {
    val p = metaPath(tableDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"no graft meta marker at $tableDir")
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val nb = "\"numBuckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"unreadable meta marker at $tableDir"))
    val all = (parseDiscKeys(body) ++ keys.map(_.toLowerCase)).toSeq.sorted
    val out = fs.create(p, true)
    try out.write(
      (s"""{"layout":"graft-bucketed-v1","numBuckets":$nb,""" +
        s""""discKeys":[${all.map(k => s"\"$k\"").mkString(",")}]}""").getBytes("UTF-8"))
    finally out.close()
  }

  /** Tests rewrite log dirs; let them reset the negative/positive cache. */
  def invalidate(tableDir: String): Unit = { cache.remove(cacheKey(tableDir)): Unit }

  private def metaPath(tableDir: String) = new Path(tableDir, "_graft_meta.json")
  private def cacheKey(tableDir: String) = new Path(tableDir).toString
}
