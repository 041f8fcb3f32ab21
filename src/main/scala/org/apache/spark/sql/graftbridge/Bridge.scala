package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst-Expression bridge. Spark 4 made these conversions
  * `private[sql]` (Column wraps a ColumnNode in sql-api), so the engine keeps
  * this one object inside an `org.apache.spark.sql` subpackage — the same
  * pattern Spark-ecosystem extension libraries use — and everything else in
  * the `graft` namespace on public APIs.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Full ColumnNode→Expression conversion through the session's converter —
    * required when `c` composes builtin `functions._` calls (they are
    * UnresolvedFunction column NODES; the plain `expression` wrapper would
    * reach codegen unevaluated). The result may contain unresolved catalyst
    * functions, which the analyzer resolves in its fixed point — exactly
    * what FunctionRegistry macro builders need.
    */
  def resolvedExpression(spark: org.apache.spark.sql.SparkSession,
      c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** Wrap a one-row/one-column DataFrame as a scalar-subquery Column — the
    * plan-level "evaluate once, feed every task" shape Spark's own runtime
    * filters use (expressions whose type checks demand a constant or scalar
    * subquery, e.g. `BloomFilterMightContain`, accept this where a
    * cross-joined attribute would fail analysis).
    */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.analyzed))

  /** The analyzed logical plan behind a DataFrame — what a table-valued
    * SQL function builder must return (the analyzer leaves the resolved
    * subtree alone inside the caller's larger plan).
    */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Drop the executor-cached blocks behind a `localCheckpoint()`ed frame.
    * A localCheckpoint materializes its RDD into block-manager storage with
    * no public handle to release it; long-running iterative state (one new
    * checkpoint per micro-batch) would otherwise accumulate superseded
    * block sets without bound. No-op for frames without checkpoints in
    * their plan. NOTE: walks the WHOLE analyzed plan and frees EVERY
    * checkpoint it finds — only for frames whose every embedded checkpoint
    * the caller owns (a frame returned by `localCheckpoint()` itself is
    * always safe: its plan is one lineage-truncated LogicalRDD).
    * [[graft.Checkpoints.release]] is the ownership-aware form.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }

  /** The RDD ids of every checkpointed (LogicalRDD) node in the frame's
    * analyzed plan — for a frame just returned by `localCheckpoint()`,
    * exactly its own materialized RDD.
    */
  def checkpointRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
    val b = Seq.newBuilder[Int]
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => b += lr.rdd.id
        case _ => ()
      }
    b.result()
  }

  /** Ownership-gated release: walk the frame's analyzed plan and unpersist
    * only the LogicalRDDs whose ids `owned` contains, removing each freed
    * id — checkpoints the caller did NOT create (a user's own
    * `localCheckpoint()`ed input embedded in an engine-built frame)
    * survive the walk untouched.
    */
  def unpersistOwned(df: org.apache.spark.sql.DataFrame,
      owned: java.util.Set[Integer]): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          if (owned.remove(Int.box(lr.rdd.id)))
            lr.rdd.unpersist(blocking = false)
        case _ => ()
      }

  /** Drain the listener bus — lets measurement tools attribute listener
    * events to the query that produced them (dev tooling only).
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Is this frame already a materialized leaf (checkpointed RDD or local
    * rows)? Lets "materialize once" helpers skip re-checkpointing a frame
    * a caller already pinned — the streaming model-screen passes its
    * per-query checkpointed model into the batch scorer every micro-batch,
    * and re-checkpointing there would leak one block set per batch.
    */
  def isMaterializedLeaf(df: org.apache.spark.sql.DataFrame): Boolean =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }

  /** Schema of a small UNPARTITIONED parquet table, read from one file
    * footer ON THE DRIVER — what Spark's schema inference computes with a
    * (driver-round-trip) job per `read.parquet` call. For the engine's
    * tiny single-write metadata tables (index centroids and the like,
    * where the id column's type follows the caller's corpus and cannot be
    * hard-coded) this replaces inference-job + collect-job with just the
    * collect. Matches inference semantics: mergeSchema=false reads one
    * footer too.
    */
  def parquetSchemaOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.types.StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    def leaf(d: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
      val st = fs.listStatus(d).sortBy(_.getPath.getName)
      st.collectFirst {
        case s if s.isFile && s.getPath.getName.endsWith(".parquet") => s.getPath
      }.orElse(st.filter(_.isDirectory).iterator.flatMap(s => leaf(s.getPath))
        .nextOption())
    }
    val file =
      if (fs.getFileStatus(p).isFile) p
      else leaf(p).getOrElse(throw new java.io.FileNotFoundException(
        s"no parquet file under $dir"))
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, file,
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(footer.getFileMetaData.getSchema)
  }

  /** Materialized block-storage footprint (memory + disk bytes) of a frame
    * that IS a localCheckpoint leaf — None for anything else, including a
    * leaf whose blocks are gone. Driver-side metadata only, zero jobs:
    * lets join-strategy gates decide on the frame's ACTUAL size instead of
    * the planner's width estimates (which are famously wrong for array
    * columns — the reason the jaccard verify pinned sort-merge).
    */
  def materializedLeafSize(df: org.apache.spark.sql.DataFrame): Option[Long] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize)
      case _ => None
    }

  /** First-row array length of a LocalRelation-backed frame, driver-side
    * with no job — None when the frame is not a local leaf or is empty.
    * Lets probe paths resolve a shared array dimensionality (matryoshka
    * truncation depth) from a driver-local metadata frame for free.
    */
  def localLeafArrayLen(df: org.apache.spark.sql.DataFrame,
      colName: String): Option[Int] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.data.nonEmpty =>
        val i = lr.schema.fieldIndex(colName)
        Option(lr.data.head.getArray(i)).map(_.numElements())
      case _ => None
    }

  /** Rows of a SMALL unpartitioned engine-written parquet table, read ON
    * THE DRIVER via parquet-hadoop — zero Spark jobs. Every distributed
    * read of a bounded metadata table (index parameters, centroid frames,
    * SQ scales, PQ codebooks — a handful of rows each by contract) paid a
    * full job round trip per read, and the index lifecycles read them once
    * per verb; at cluster scale each was a driver→cluster barrier for a
    * few hundred bytes (r17 opt). Wrap the result in
    * `spark.createDataFrame(rows, schema)` where a frame is needed: that
    * is a LocalRelation, so downstream broadcasts build without a
    * distributed job either.
    *
    * Failure semantics match the Spark read it replaces: a missing path
    * throws (FileNotFoundException), a corrupt/non-parquet file throws
    * from the parquet reader — nothing is swallowed (the corrupt-sq_meta
    * refusal contract). Supported types are the metadata tables' closed
    * set: boolean/int/long/float/double/string and arrays of the numeric
    * four; anything else throws rather than mis-reading.
    */
  def localParquetRows(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.types.StructType,
         java.util.List[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.types._
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val files: Seq[org.apache.hadoop.fs.Path] =
      if (fs.getFileStatus(p).isFile) Seq(p)
      else fs.listStatus(p)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath).sortBy(_.getName).toSeq
    if (files.isEmpty) throw new java.io.FileNotFoundException(
      s"no parquet file under $dir")
    val sparkSchema = parquetSchemaOf(spark, files.head.toString)

    def primitive(g: org.apache.parquet.example.data.Group, i: Int,
        dt: DataType): Any = dt match {
      case BooleanType => g.getBoolean(i, 0)
      case IntegerType => g.getInteger(i, 0)
      case LongType => g.getLong(i, 0)
      case FloatType => g.getFloat(i, 0)
      case DoubleType => g.getDouble(i, 0)
      case StringType => g.getString(i, 0)
      case other => throw new UnsupportedOperationException(
        s"localParquetRows: unsupported metadata column type $other in $dir")
    }
    def value(g: org.apache.parquet.example.data.Group, i: Int,
        dt: DataType): Any = dt match {
      case ArrayType(et, _) =>
        // standard 3-level list: group (LIST) { repeated group list {
        // optional <et> element } }
        val lst = g.getGroup(i, 0)
        val n = lst.getFieldRepetitionCount(0)
        (0 until n).map { j =>
          val el = lst.getGroup(0, j)
          if (el.getFieldRepetitionCount(0) == 0) null
          else primitive(el, 0, et)
        }
      case other => primitive(g, i, other)
    }

    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), f)
        .withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          val vals = sparkSchema.fields.zipWithIndex.map { case (fld, i) =>
            if (g.getFieldRepetitionCount(i) == 0) null
            else value(g, i, fld.dataType)
          }
          out.add(org.apache.spark.sql.Row(vals.toIndexedSeq: _*))
          g = reader.read()
        }
      } finally reader.close()
    }
    (sparkSchema, out)
  }

  /** Writes a driver-local frame ON THE DRIVER through Spark's own parquet
    * writer (`ParquetFileFormat.prepareWrite`'s `OutputWriter`, the object a
    * write task uses), so the files' footers — schema, row metadata, codec —
    * are the ones a Spark write of the same frame gets, with no job: the
    * frame's plan is evaluated locally (a `LocalTableScanExec` runs none).
    * One file per value of the int column `partCol`, its rows ascending in
    * the string column `sortCol`, at `dir/<partCol>=<v>/part-…parquet`;
    * `partCol` is not stored in the file, as in a partitioned Spark write.
    */
  def writeLocalPartitioned(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, partCol: String, sortCol: String,
      dir: String, options: Map[String, String]): Unit = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
    val output = plan.output
    val partIdx = output.indexWhere(_.name == partCol)
    val sortIdx = output.indexWhere(_.name == sortCol)
    val dataCols = output.filterNot(_.name == partCol)
    val dataSchema = org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(dataCols)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(options))
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, options, dataSchema)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val toData = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(dataCols, output)
    plan.executeCollect().groupBy(_.getInt(partIdx)).foreach { case (v, rows) =>
      val file = new org.apache.hadoop.fs.Path(s"$dir/$partCol=$v",
        s"part-00000-${java.util.UUID.randomUUID()}.c000${factory.getFileExtension(ctx)}")
      val writer = factory.newInstance(file.toString, dataSchema, ctx)
      try rows.sortWith((a, b) => a.getUTF8String(sortIdx).compareTo(b.getUTF8String(sortIdx)) < 0)
        .foreach(r => writer.write(toData(r)))
      finally writer.close()
    }
  }
}
