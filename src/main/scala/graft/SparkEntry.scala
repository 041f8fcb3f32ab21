package graft

import graft.Checkpoints.Ownable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` demonstrates one operator from SURVEY.md §2 over
  * the driver's synthetic tables; `oracleSql` holds the equivalent DuckDB SQL
  * the driver hash-compares against at sf0.01. Column names and types are
  * aligned on both sides (aggregates are explicitly aliased and cast).
  */
object SparkEntry {

  /** Throwaway log dir for the log-machinery oracle queries (w7/m5): each
    * evaluation builds a fresh log (the import/rebucket/prune IS what the
    * query times); a JVM shutdown hook reclaims the dirs so repeated
    * Verify/Bench/spec evaluations don't accumulate /tmp copies.
    */
  private def tempLogDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(d)
    }))
    d.getAbsolutePath
  }

  /** Per-table expected type CLASSES (`i` integral, `f` fractional,
    * `s` string, `t` timestamp-like, `vf` float vector) — the drift guard's
    * contract with the driver-generated testdata. Width changes inside a
    * class (int↔bigint, float↔double) are benign for filters/joins/aggs and
    * pass; a class flip or a missing column is a real generation change and
    * fails WITH THE TABLE/COLUMN/DTYPE NAMED (round-7 lesson: a silent
    * assumption cost the round its whole correctness artifact).
    */
  private val expectedCols: Map[String, Map[String, String]] = Map(
    "events" -> Map("event_id" -> "i", "user_id" -> "i", "event_type" -> "s",
      "value" -> "f", "props" -> "s", "ts" -> "t"),
    "lineitem" -> Map("l_orderkey" -> "i", "l_partkey" -> "i", "l_suppkey" -> "i",
      "l_linenumber" -> "i", "l_quantity" -> "f", "l_extendedprice" -> "f",
      "l_discount" -> "f", "l_tax" -> "f", "l_returnflag" -> "s",
      "l_linestatus" -> "s", "l_shipdate" -> "t"),
    "orders" -> Map("o_orderkey" -> "i", "o_custkey" -> "i", "o_orderstatus" -> "s",
      "o_totalprice" -> "f", "o_orderdate" -> "t", "o_orderpriority" -> "s"),
    "customer" -> Map("c_custkey" -> "i", "c_name" -> "s", "c_nationkey" -> "i",
      "c_acctbal" -> "f", "c_mktsegment" -> "s"),
    "nation" -> Map("n_nationkey" -> "i", "n_name" -> "s", "n_regionkey" -> "i"),
    "region" -> Map("r_regionkey" -> "i", "r_name" -> "s"),
    "part" -> Map("p_partkey" -> "i", "p_name" -> "s", "p_brand" -> "s",
      "p_type" -> "s", "p_size" -> "i", "p_retailprice" -> "f"),
    "supplier" -> Map("s_suppkey" -> "i", "s_name" -> "s", "s_nationkey" -> "i",
      "s_acctbal" -> "f"),
    "documents" -> Map("doc_id" -> "i", "text" -> "s", "lang" -> "s",
      "source" -> "s", "n_chars" -> "i"),
    "embeddings" -> Map("vec_id" -> "i", "embedding" -> "vf", "label" -> "i"))

  /** Inferred schema per testdata file, memoized for the session: the
    * inputs are immutable within a run, and every bare `read.parquet` pays
    * a distributed footer schema-inference JOB before any data is read —
    * one job per table per query evaluation, ~150 of them per bench sweep
    * (r16 opt). The memo holds SCHEMAS (metadata), never rows or results;
    * the drift guard below still validates every load against it.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types._
    // The driver's events table has shipped with ts as TIMESTAMP(NANOS) (rounds
    // 1-6) and TIMESTAMP(MICROS) (round 7+). Spark's parquet reader rejects
    // nanos by default; with nanosAsLong=true a nanos column reads as BIGINT
    // while a micros column reads as TIMESTAMP_NTZ. Adapt on the observed
    // dtype so the harness tolerates either vintage of testdata, and
    // normalize to TimestampType: truncate nanos-as-long to micros (what
    // DuckDB does loading the same file), cast NTZ to LTZ (value-preserving —
    // every harness session runs UTC) so downstream unix_millis/date
    // arithmetic sees one dtype regardless of vintage. The same NTZ
    // normalization applies to EVERY table (lineitem/orders date columns are
    // untagged micros too), and every load passes the drift guard above.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fpath = s"$dir/$name.parquet"
    // memo key carries the file's (mtime, length): a mid-session
    // regeneration of a testdata file re-reads its footer instead of
    // validating the stale cached schema — Spark fills columns missing
    // from the file as nulls, so a path-only key would let a rename/drop
    // slip past the drift guard below (ADVICE r16 fix). A directory's own
    // status misses an in-place part rewrite (its length is 0 and its mtime
    // moves only when an entry is added or removed), so a directory table
    // is keyed by its child count and its newest child's (mtime, length).
    // The key a load replaces is evicted. One driver-side status call (a
    // listing for a directory) per load; the schema job stays eliminated.
    val hp = new org.apache.hadoop.fs.Path(fpath)
    val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
    def stampOf(f: org.apache.hadoop.fs.FileStatus) = s"${f.getModificationTime}:${f.getLen}"
    val st = fs.getFileStatus(hp)
    val stamp =
      if (!st.isDirectory) stampOf(st)
      else {
        val kids = fs.listStatus(hp)
        s"${kids.length}/" + kids.maxByOption(k => (k.getModificationTime, k.getLen)).fold("")(stampOf)
      }
    val key = s"$fpath@$stamp"
    schemaCache.keySet.removeIf(k => k.startsWith(s"$fpath@") && k != key)
    val sch = schemaCache.computeIfAbsent(key, _ =>
      org.apache.spark.sql.graftbridge.Bridge.parquetSchemaOf(s, fpath))
    val raw = s.read.schema(sch).parquet(fpath)
    // ts may be ABSENT under a renaming regeneration — skip the conversion
    // and let the guard below report the named MISSING drift, instead of
    // dying here with Spark's bare "Field ts does not exist"
    val df0 =
      if (name == "events" &&
          raw.schema.fields.find(_.name == "ts").exists(_.dataType == LongType))
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val df = df0.schema.fields.foldLeft(df0) { (acc, fld) =>
      if (fld.dataType == TimestampNTZType)
        acc.withColumn(fld.name, col(fld.name).cast("timestamp"))
      else acc
    }
    def klass(dt: DataType): String = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => "i"
      // decimal is deliberately NOT in "f": a double→decimal regeneration
      // flips aggregate arithmetic and output dtypes — a semantic change
      // that must surface as named drift, not as oracle hash confusion
      case _: FloatType | _: DoubleType => "f"
      case _: StringType => "s"
      case _: TimestampType => "t"
      case ArrayType(et, _) if klass(et) == "f" => "vf"
      case _ => dt.simpleString
    }
    expectedCols.get(name).foreach(_.foreach { case (cn, want) =>
      val fld = df.schema.fields.find(_.name == cn).getOrElse(
        throw new IllegalStateException(s"testdata drift: $name.$cn is MISSING " +
          s"(found columns: ${df.columns.mkString(", ")}) — the driver changed " +
          "the generation; adapt SparkEntry.t()/queries (see HarnessDriftSpec)"))
      val got = klass(fld.dataType)
      if (got != want) throw new IllegalStateException(
        s"testdata drift: $name.$cn reads as ${fld.dataType.simpleString} " +
          s"(class $got), expected class $want — the driver changed the " +
          "generation; adapt SparkEntry.t() (see HarnessDriftSpec)")
    })
    df
  }

  /** The events table shaped as a bulkImport batch — one stream per user,
    * versions from event_id order, historical ULID times from ts — shared by
    * every log-machinery roundtrip query (w7/w8/m5/m6/m7): the import shape
    * is defined ONCE so the oracles can't silently diverge.
    */
  private def eventsImportBatch(s: SparkSession, dir: String,
      body: org.apache.spark.sql.Column = col("props")): DataFrame =
    t(s, dir, "events").select(
      concat(lit("u"), col("user_id")).as("aggregate_id"),
      lit("User").as("aggregate_kind"),
      col("event_type").as("kind"),
      body.as("body"),
      col("event_id").as("seq"),
      unix_millis(col("ts")).as("tms"))

  /** Run `body` with `graft.bulkClaim.inlineMax` forced to `n` (and restored
    * after) — the sidecar-path queries' scaffolding.
    */
  private def withInlineMax[A](n: Int)(body: => A): A = {
    val prev = sys.props.get("graft.bulkClaim.inlineMax")
    sys.props("graft.bulkClaim.inlineMax") = n.toString
    try body finally prev match {
      case Some(v) => sys.props.put("graft.bulkClaim.inlineMax", v): Unit
      case None => sys.props.remove("graft.bulkClaim.inlineMax"): Unit
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Per-stream ordered fold (A1/A4): rebuild a per-user read model from the
    * raw event log.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("a4_projection_state")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── S1: point scan of one stream, active rows, ordered by sequence ────
    // (store/postgresql/store.go:423-444)
    "s1_stream_scan" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("user_id") === 7)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
    }),

    // ── S2/W1: latest row per stream via window top-1 ─────────────────────
    // (store/postgresql/store.go:295-323)
    "s2_latest_per_key" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("value").as("last_value"))
    }),

    // ── S3: global keyset range scan with pushed-down predicates ──────────
    // (store/postgresql/store.go:497-518)
    "s3_range_scan" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_id") > 100 && col("event_id") <= 600 &&
          col("event_type").isin("purchase", "click"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    }),

    // ── S4: id IN (...) fetch ─────────────────────────────────────────────
    // (store/postgresql/store.go:665-674)
    "s4_by_ids" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_id").isin(5L, 17L, 101L, 233L, 377L))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    }),

    // ── S5: outbox batch = lowest-N ids joined back to full rows ──────────
    // (store/postgresql/outbox.go:47-75) — left-semi join, broadcastable.
    "s5_outbox_batch" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val pending = ev.select(col("event_id")).orderBy(col("event_id")).limit(50)
      ev.join(broadcast(pending), Seq("event_id"), "left_semi")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    }),

    // ── F1: composite pushdown filter: kind OR-list + payload predicate
    //       + hash-split selector (store/store.go:75-82) ───────────────────
    "f1_composite_filter" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "signup") &&
          get_json_object(col("props"), "$.k").cast("int") >= 50 &&
          pmod(col("user_id"), lit(4)) === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
    }),

    // ── A4: projection read model: per-stream balance fold ────────────────
    // (test/integration/projection_mock.go:62-106) — purchases add, errors
    // subtract; map-side partial agg, one shuffle on the stream key.
    "a4_projection_state" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          round(sum(
            when(col("event_type") === "purchase", col("value"))
              .when(col("event_type") === "error", -col("value"))
              .otherwise(lit(0.0))), 2).as("balance"),
          count(lit(1)).as("n_events"),
          max(col("event_id")).as("last_event_id"))
    }),

    // ── A5: distinct streams of one kind ──────────────────────────────────
    // (store/postgresql/projection_migration.go:182-220)
    "a5_distinct_streams" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
    }),

    // ── A6: min/max resume tokens over the log ────────────────────────────
    // (projection/projection.go:295-317)
    "a6_resume_bounds" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"),
          count(lit(1)).as("n"))
    }),

    // ── O1: ops observability — per-partition projection lag over a REAL
    //    catchup (projection/projection.go:295-317 resume tokens, graded
    //    like a data query). Import the events table into a throwaway log
    //    (historical ULID times from ts), run Projector.catchup with the
    //    clock FROZEN at Jan 15, and report per dedup partition: events
    //    covered, the LAG (committed events past the saved watermark a live
    //    stream would still deliver), the newest event time, and the
    //    checkpointed watermark time read back from the token table. The
    //    oracle re-derives partitions from the FNV hash (p1's formula) and
    //    the lag from the time cutoff — ULID order == time order, so
    //    `id > timeMax(cutoff)` ⟺ `epoch_ms(ts) > cutoff`. This gates the
    //    ops surface (bulkImport → catchup → CheckpointStore round trip)
    //    with the same hash-match rigor as the data queries.
    "o1_lag_stats" -> ((s, dir) => {
      val tmp = tempLogDir("grafto1")
      val log = new graft.log.EventLog(s, tmp, numBuckets = 8, ulidSeed = Some(91L))
      log.bulkImport(eventsImportBatch(s, dir), seqCol = "seq", timeCol = Some("tms"))
      val proj = new graft.streaming.Projector(log, "o1", s"$tmp/proj",
        partitions = 4, untilOffsetMs = 0L)
      val cutoffMs = java.time.Instant.parse("2024-01-15T00:00:00Z").toEpochMilli
      proj.catchup(_ => (), nowMs = cutoffMs)
      import s.implicits._
      val tokens = proj.checkpoints.load("o1").toSeq
        .collect { case (p, c) if p > 0 => (p.toLong, c.event_id) }
        .toDF("partition", "chk_id")
      log.activeEvents
        .select(col("id"), col("aggregate_id_hash"))
        .withColumn("partition",
          graft.functions.calc_partition(col("aggregate_id_hash"), 4).cast("long"))
        .join(broadcast(tokens), Seq("partition"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("id") > col("chk_id"), 1L).otherwise(0L)).as("lag"),
          max(graft.functions.ulid_millis(col("id"))).as("max_t_ms"),
          max(graft.functions.ulid_millis(col("chk_id"))).as("chk_t_ms"))
    }),

    // ── W2: per-stream version assignment (ordered sequence) ──────────────
    // (store/postgresql/store.go:436)
    "w2_version_assign" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          row_number().over(w).cast("long").as("aggregate_version"))
    }),

    // ── W3: keyset pagination: batch after a cursor ───────────────────────
    // (projection/player.go:133-151)
    "w3_keyset_page" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_id") > 500)
        .orderBy(col("event_id"))
        .limit(100)
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),

    // ── P2/P3: hash split partitioning: events per split ──────────────────
    // (util/common.go:13-18, projection/projection.go:181-211)
    "p3_split_counts" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(pmod(col("user_id"), lit(4)).as("split"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_streams"))
    }),

    // ── P1/P2: the custom Fnv1a32 Catalyst expression + CalcPartition,
    //    checked against a byte-level FNV-1a emulation in the oracle ───────
    "p1_fnv_hash" -> ((s, dir) => {
      import graft.functions.{fnv1a32, calc_partition}
      t(s, dir, "events")
        .select(col("event_type")).distinct()
        .select(col("event_type"),
          fnv1a32(col("event_type")).cast("long").as("h"),
          calc_partition(fnv1a32(col("event_type")), 4).cast("long").as("partition"))
    }),

    // ── J2: broadcast dim join (snapshot ⋈ tail-events shape) ─────────────
    "j2_broadcast_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("total_price"),
          count(lit(1)).as("n_orders"))
    }),

    // ── Q1-style pricing summary (headline agg for bench) ─────────────────
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // ── J4: as-of join (latest error at-or-before each signup, per user) ──
    "j4_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts"))
      val r = ev.filter(col("event_type") === "error")
      ops.AsOf.asofJoin(l, r, "user_id", "ts", "ts",
          valueCols = Seq("event_id", "value"), rightOrd = "event_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_event_id"), col("asof_value"))
    }),

    // ── TPC-H Q10: returned-item revenue (fact ⋈ fact + broadcast dims) ───
    "q10_returned_items" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // ── TPC-H Q14: promo revenue share (fact ⋈ broadcast part) ────────────
    "q14_promo_effect" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-03-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      val part = t(s, dir, "part")
      // exact decimal sums; the final ratio is one double division of two
      // combine-order-independent operands
      val disc = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "ECONOMY", disc).otherwise(lit(0).cast("decimal(18,4)")))
            .as("__promo"),
          sum(disc).as("__all"))
        .select(round(lit(100.0) * col("__promo").cast("double") /
          col("__all").cast("double"), 6).as("promo_pct"))
    }),

    // ── J5: full dimension-hierarchy rollup (region ⋈ nation ⋈ supplier) ──
    "j5_dim_rollup" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
        .withColumn("__bal", col("s_acctbal").cast("decimal(18,4)"))
      sup
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(avg(col("__bal")).cast("double"), 4).as("avg_acctbal"))
    }),

    // ── TPC-H Q6: tight-filter revenue scan (pure pushdown + exact sum) ───
    "q6_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1994-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1995-01-01")) &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        // per-row product in double (identical both engines), then exact
        // decimal sum — combine order can never change the result
        .agg(sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
    }),

    // ── TPC-H Q19 shape: disjunctive multi-column predicate over a
    //    broadcast fact⋈dim join — the OR-of-ANDs mixes join-side and
    //    fact-side columns, so it can only apply POST-join; the partial
    //    per-brand conjuncts (p_brand ∈ …, quantity ranges) still prune.
    //    Exact decimal sum (q6's convention) keeps the compare order-free.
    "q19_disjunctive_pred" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30)))
        .agg(sum((col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }),

    // ── TPC-H Q4 shape: EXISTS → left-semi join, then grouped rollup —
    //    the semi-join never duplicates an order however many matching
    //    lineitems exist (a plain join + distinct would pay a dedup).
    "q4_priority_exists" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
            .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // ── A1: per-stream ORDERED fold (the event-sourcing core) ─────────────
    // (eventstore.go:249-300) — typed sorted-group fold, no collect_list
    // materialization: balance resets on 'error', accumulates purchases.
    // Order-dependence makes this a genuine fold, yet it stays
    // SQL-checkable via the last-reset formulation.
    "a1_rehydrate_fold" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .as[(Long, Long, String, Double)]
        .groupByKey(_._1)
        .flatMapSortedGroups(col("event_id")) { (uid, it) =>
          var balance = 0.0
          var n = 0L
          it.foreach { case (_, _, tpe, v) =>
            tpe match {
              case "error" => balance = 0.0
              case "purchase" => balance += v
              case _ =>
            }
            n += 1
          }
          Iterator((uid, math.rint(balance * 100) / 100, n))
        }
        .toDF("user_id", "balance", "n_events")
    }),

    // ── M1 Forget: columnar body scrub, row count unchanged ───────────────
    // (eventstore.go:405-432) — the copy-on-write rewrite expression.
    "m1_forget_scrub" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          when(col("event_type") === "signup", lit("{}"))
            .otherwise(col("props")).as("props"))
    }),

    // ── F7: envelope→domain decode via the kind registry (from_json) ──────
    // (encoding/jsoncodec/codec.go:26-44): per-kind schema, parsed struct.
    "f7_codec_decode" -> ((s, dir) => {
      val reg = new codec.Codec().register("purchase",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType))))
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          reg.decoded(col("event_type"), col("props"), "purchase").getField("k").as("k"))
    }),

    // ── M3 upcast-at-read: lift old payload shape to new ──────────────────
    // (encoding/jsoncodec/codec.go:51-80)
    "m3_upcast_read" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          to_json(struct((get_json_object(col("props"), "$.k").cast("int") * 2).as("k2")))
            .as("props_v2"))
    }),

    // ── F6: kind-prefix subscription matcher ("prefix*" | exact) ──────────
    // (store/eventbus.go:61-83)
    "f6_prefix_match" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type").startsWith("p") || col("event_type") === "click")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    }),

    // ── F8/S11: event → bus message shaping (key = stream key, value =
    //    JSON envelope) — the Kafka sink projection (sink/sink.go:118-129) ──
    "f8_message_shaping" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_id") < 100)
        .select(col("event_id"),
          col("user_id").cast("string").as("key"),
          to_json(struct(col("event_id"), col("event_type"), col("value"))).as("value"))
    }),

    // ── J3: snapshot ⋈ tail-events stitch (retrieve shape) ────────────────
    // (eventstore.go:249-300): state at a cutoff + fold of the tail.
    "j3_snapshot_stitch" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def bal = sum(when(col("event_type") === "purchase", col("value"))
        .when(col("event_type") === "error", -col("value")).otherwise(lit(0.0)))
      val snap = ev.filter(col("event_id") <= 5000).groupBy(col("user_id"))
        .agg(bal.as("snap_balance"), max(col("event_id")).as("snap_id"))
      val tail = ev.filter(col("event_id") > 5000).groupBy(col("user_id"))
        .agg(bal.as("tail_balance"), max(col("event_id")).as("last_id"))
      snap.join(tail, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          round(coalesce(col("snap_balance"), lit(0.0)) +
            coalesce(col("tail_balance"), lit(0.0)), 2).as("balance"),
          coalesce(col("snap_id"), lit(-1L)).as("snap_id"),
          coalesce(col("last_id"), col("snap_id")).as("last_id"))
    }),

    // ── T8: tumbling event-time window aggregation ────────────────────────
    "t8_tumbling_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("total_value"))
    }),

    // ── T8: session window (30-minute gap) per stream ─────────────────────
    "t8_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n"), col("total_value"))
    }),

    // ── T8: sliding window (2h width, 1h slide) ───────────────────────────
    "t8_sliding_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(col("w.start").as("window_start"), col("n"), col("total_value"))
    }),

    // ── Q3-style shipping-priority join (bench headline) ──────────────────
    "q3_shipping" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderdate") < to_timestamp(lit("1995-03-15")))
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_orderdate"), col("revenue"))
    }),

    // ── Q5-style local-supplier multi-join (bench headline) ───────────────
    "q5_local_supplier" -> ((s, dir) => {
      // one shuffle join (lineitem ⋈ orders); every dimension broadcasts
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    }),

    // ── Q18-style large-volume orders: agg → having → join → top-k ────────
    "q18_big_orders" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // the having-filter shrinks lineitem to a per-order sliver BEFORE the
      // orders join (one shuffle on l_orderkey, map-side combined); customer
      // broadcasts; quantities are integer-valued doubles so the sum and the
      // >250 cut are exact under any combine order
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      o.join(big, o("o_orderkey") === big("l_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // ── J6: banded interval join — purchases inside 6-hour error episodes
    //    (the range-containment shape done as an equi-join on time bins;
    //    zero-match episodes kept via the left rollup)
    "j6_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val episodes = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("episode_id"),
          col("ts").as("ep_start"),
          (col("ts") + expr("INTERVAL 6 HOURS")).as("ep_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts").as("p_ts"), col("value"))
      val matched = ops.Interval.intervalJoin(episodes, purchases,
        Seq("user_id"), "ep_start", "ep_end", "p_ts",
        binMillis = 6L * 3600 * 1000)
      episodes.join(
          matched.groupBy(col("episode_id"))
            .agg(count(lit(1)).as("__n"), sum(col("value")).as("__v")),
          Seq("episode_id"), "left")
        .select(col("user_id"), col("episode_id"),
          coalesce(col("__n"), lit(0L)).as("n_purchases"),
          round(coalesce(col("__v"), lit(0.0)), 2).as("purchase_value"))
    }),

    // ── M8: COMPACTION promoted to the oracle gate (like m6 migrate / m7
    //    fence): bulkImport through a manifest sidecar claim, then a
    //    file-level rewrite claim per bucket (the append-safe incremental
    //    compaction) + snapshot-store compaction; the read-back must be
    //    indistinguishable from the never-compacted log.
    "m8_compact_roundtrip" -> ((s, dir) => withInlineMax(8) {
      val tmp = tempLogDir("graftm8")
      val log = new graft.log.EventLog(s, tmp, numBuckets = 8,
        ulidSeed = Some(88L), commitMode = graft.log.CommitMode.Manifest)
      log.bulkImport(eventsImportBatch(s, dir), seqCol = "seq", timeCol = Some("tms"))
      log.compact()
      log.compactSnapshots()
      log.activeEvents.select(
        col("aggregate_id"),
        col("aggregate_version").cast("long").as("aggregate_version"),
        col("kind"),
        graft.functions.ulid_millis(col("id")).as("t_ms"))
    }),

    // ── M9: manifest-mode re-bucketing via copy + cutover (the zero-
    //    downtime 100 TB recipe): sidecar import → compact ONE bucket (so
    //    replaced files are still on disk — the copy must read committed,
    //    not raw) → rebucketCopy to a different bucket count → the NEW log
    //    must be indistinguishable from the source.
    "m9_rebucket_copy" -> ((s, dir) => withInlineMax(8) {
      val tmp = tempLogDir("graftm9")
      val log = new graft.log.EventLog(s, tmp, numBuckets = 8,
        ulidSeed = Some(89L), commitMode = graft.log.CommitMode.Manifest)
      log.bulkImport(eventsImportBatch(s, dir), seqCol = "seq", timeCol = Some("tms"))
      log.compact(buckets = Some(Seq(0)))
      log.rebucketCopy(s"$tmp-copy", 5).activeEvents.select(
        col("aggregate_id"),
        col("aggregate_version").cast("long").as("aggregate_version"),
        col("kind"),
        graft.functions.ulid_millis(col("id")).as("t_ms"))
    }),

    // ── M10: the EXTERNAL-WRITER path, oracle-checked: ingest-shaped rows
    //    written through df.write.format("graft-events") — ErrorIfExists
    //    bootstraps the log via bulkImport, a second Append batch CONTINUES
    //    the same streams via appendBulk, both claim-fenced in manifest
    //    mode — and the read-back must reproduce the oracle's per-stream
    //    versions exactly (appendBulk stamps wall-clock ULID times, so the
    //    time component is w7's check, not this one's).
    "m10_facade_write" -> ((s, dir) => {
      val tmp = tempLogDir("graftm10")
      val batch = eventsImportBatch(s, dir)
      // any seq threshold keeps batch 1 a per-stream PREFIX (versions are
      // minted in seq order); streams living entirely in batch 2 are new
      val thr = batch.agg(max(col("seq"))).head().getLong(0) / 2
      batch.filter(col("seq") <= thr).write.format("graft-events")
        .option("numBuckets", "8").option("commitMode", "manifest")
        .option("timeCol", "tms").save(tmp)
      batch.filter(col("seq") > thr).write.format("graft-events")
        .mode("append").save(tmp)
      new graft.log.EventLog(s, tmp, numBuckets = 8,
          commitMode = graft.log.CommitMode.Manifest)
        .activeEvents.select(
          col("aggregate_id"),
          col("aggregate_version").cast("long").as("aggregate_version"),
          col("kind"),
          col("body"))
    }),

    // ── A8: as-of (time-travel) state — the fold bounded at an instant ────
    // (the temporal query an event log exists for; id bound pushes down)
    "a8_asof_state" -> ((s, dir) => {
      val cutoff = to_timestamp(lit("2024-01-15 00:00:00"))
      t(s, dir, "events")
        .filter(col("ts") <= cutoff)
        .groupBy(col("user_id"))
        .agg(
          round(sum(when(col("event_type") === "purchase", col("value"))
            .when(col("event_type") === "error", -col("value"))
            .otherwise(lit(0.0))), 2).as("balance_asof"),
          max(col("event_id")).as("version_asof"),
          count(lit(1)).as("n_events_asof"))
    }),

    // ── W7: the REAL log machinery round trip, oracle-checked: bulkImport
    //    the events table into a throwaway EventLog (per-stream versions
    //    from seq order, historical ULID times from timeCol), REBUCKET it,
    //    and read back. Versions must reproduce the oracle's window and the
    //    ULID time component must carry the original event time — this
    //    promotes bulkImport + rebucket from spec-only to hash-checked.
    "w7_bulk_roundtrip" -> ((s, dir) => {
      val tmp = tempLogDir("graftw7")
      val log = new graft.log.EventLog(s, tmp, numBuckets = 8, ulidSeed = Some(77L))
      log.bulkImport(eventsImportBatch(s, dir), seqCol = "seq", timeCol = Some("tms"))
      log.rebucket(3).activeEvents.select(
        col("aggregate_id"),
        col("aggregate_version").cast("long").as("aggregate_version"),
        col("kind"),
        graft.functions.ulid_millis(col("id")).as("t_ms"))
    }),

    // ── W8: the same bulk roundtrip through MANIFEST commit with the inline
    //    threshold forced below the stream count, so the reservations ride a
    //    parquet SIDECAR claim (round-7 mechanism) and the read-back goes
    //    through the committed view — the oracle proves the claim machinery
    //    is invisible to query results.
    "w8_sidecar_roundtrip" -> ((s, dir) => withInlineMax(8) {
      val tmp = tempLogDir("graftw8")
      val log = new graft.log.EventLog(s, tmp, numBuckets = 8,
        ulidSeed = Some(78L), commitMode = graft.log.CommitMode.Manifest)
      log.bulkImport(eventsImportBatch(s, dir), seqCol = "seq", timeCol = Some("tms"))
      require(log.manifest.claims().exists(_.streamsRef.isDefined),
        "w8 must exercise the sidecar claim path")
      log.activeEvents.select(
        col("aggregate_id"),
        col("aggregate_version").cast("long").as("aggregate_version"),
        col("kind"),
        graft.functions.ulid_millis(col("id")).as("t_ms"))
    }),

    // ── M5: retention keeps folds reproducible, oracle-checked: import the
    //    events table, snapshot every stream's state as of Jan 15, prune
    //    everything older AND covered (pruneSnapshotted), rebuild state as
    //    snapshot ⊕ tail fold. Must equal the oracle's split fold over FULL
    //    history — the reproducibility contract event-log TTL must keep.
    "m5_retention_stitch" -> ((s, dir) => {
      val tmp = tempLogDir("graftm5")
      val log = new graft.log.EventLog(s, tmp, numBuckets = 8, ulidSeed = Some(55L))
      val cutoffMs = java.time.Instant.parse("2024-01-15T00:00:00Z").toEpochMilli
      log.bulkImport(
        eventsImportBatch(s, dir, body = to_json(struct(col("value").as("v")))),
        seqCol = "seq", timeCol = Some("tms"))
      def bal = sum(
        when(col("kind") === "purchase",
          get_json_object(col("body"), "$.v").cast("double"))
        .when(col("kind") === "error",
          -get_json_object(col("body"), "$.v").cast("double"))
        .otherwise(lit(0.0)))
      val bound = graft.core.Ulid.timeOnly(cutoffMs)
      log.saveSnapshots(log.activeEvents.filter(col("id") < bound)
        .groupBy(col("aggregate_id"))
        .agg(bal.as("b"), max(col("aggregate_version")).as("v"))
        .select(lit(bound).as("id"), col("aggregate_id"),
          col("v").as("aggregate_version"), lit("User").as("aggregate_kind"),
          to_json(struct(col("b").as("b"))).as("body"),
          lit(new java.sql.Timestamp(cutoffMs)).as("created_at"),
          typedLit(Map.empty[String, String]).as("discriminator")))
      val dropped = log.pruneSnapshotted(cutoffMs)
      require(dropped > 0, "retention must drop covered history at this SF")
      val snapState = log.snapshots.select(col("aggregate_id"),
        get_json_object(col("body"), "$.b").cast("double").as("sb"),
        col("aggregate_version").as("sv"))
      val tail = log.activeEvents
        .join(snapState.select(col("aggregate_id"), col("sv")),
          Seq("aggregate_id"), "left")
        .filter(col("sv").isNull || col("aggregate_version") > col("sv"))
        .groupBy(col("aggregate_id"))
        .agg(bal.as("tb"), max(col("aggregate_version")).as("tv"))
      snapState.join(tail, Seq("aggregate_id"), "full_outer")
        .select(col("aggregate_id"),
          round(coalesce(col("sb"), lit(0.0)) + coalesce(col("tb"), lit(0.0)), 2)
            .as("balance"),
          greatest(coalesce(col("sv"), lit(0)), coalesce(col("tv"), lit(0)))
            .cast("long").as("head_version"))
    }),

    // ── M2 oracle-checked, through the round-8 SIDECAR claim path: import
    //    the events table into a manifest-mode log with the inline threshold
    //    forced below the stream count, migrateDistributed every stream
    //    containing a "purchase" (rename it purchase_v2), and read the
    //    active view back. The oracle reconstructs the exact post-migration
    //    version chain (copies at n+1+rn for migrated streams, originals
    //    elsewhere) — proving the invalidation rewrite, fence+copy append
    //    and sidecar reservation claim are invisible to query results.
    "m6_migrate_sidecar" -> ((s, dir) => withInlineMax(8) {
      val tmp = tempLogDir("graftm6")
      val log = new graft.log.EventLog(s, tmp, numBuckets = 8,
        ulidSeed = Some(66L), commitMode = graft.log.CommitMode.Manifest)
      log.bulkImport(eventsImportBatch(s, dir), seqCol = "seq", timeCol = Some("tms"))
      log.migrateDistributed(1, Set("purchase"), evs => Some(evs.map(e =>
        if (e.kind == "purchase") graft.log.EventDetail("purchase_v2", e.body)
        else graft.log.EventDetail(e.kind, e.body))), dense = true).count(): Unit
      require(log.manifest.claims().exists(c =>
        c.kind == graft.log.CommitClaim.KindRewrite && c.streamsRef.isDefined),
        "m6 must exercise the sidecar migration claim path")
      log.activeEvents.select(
        col("aggregate_id"),
        col("aggregate_version").cast("long").as("aggregate_version"),
        col("kind"), col("body"))
    }),

    // ── M4 oracle-checked through the same sidecar path: a kind-wide NoOp
    //    fence pass (rebuild-projection fencing) over the imported log; the
    //    oracle is originals ∪ one NoOp per stream at head+1.
    "m7_fence_pass" -> ((s, dir) => withInlineMax(8) {
      val tmp = tempLogDir("graftm7")
      val log = new graft.log.EventLog(s, tmp, numBuckets = 8,
        ulidSeed = Some(67L), commitMode = graft.log.CommitMode.Manifest)
      log.bulkImport(eventsImportBatch(s, dir), seqCol = "seq", timeCol = Some("tms"))
      require(log.appendNoOpFences("User") > 0, "fence pass must fence streams")
      require(log.manifest.claims().last.streamsRef.isDefined,
        "m7 must exercise the sidecar fence claim path")
      log.activeEvents.select(
        col("aggregate_id"),
        col("aggregate_version").cast("long").as("aggregate_version"),
        col("kind"))
    }),

    // ── approx sketches (engine capability beyond the reference). HLL
    //    estimates are engine-specific, so the sketch VALUES cannot be
    //    oracle-compared — instead the query emits exact-distinct twins and
    //    in-query bounded-error booleans (|approx−exact|/exact within 3·rsd
    //    for the default 5% sketch, 5% for the rsd=0.01 sketch); the oracle
    //    asserts the booleans true, which gates the sketch accuracy itself ──
    "x1_approx_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // Sketches + exact twins WITHOUT a multi-distinct Expand (which
      // multiplies the scan ×3 before the shuffle — measured 6× slower):
      // each exact distinct is its own partial-aggregated two-phase count,
      // joined back on the (tiny, broadcast) group key.
      val approxAgg = ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("__au"),
          approx_count_distinct(col("event_id"), 0.01).as("__ae"),
          count(lit(1)).as("n"))
      val exactUsers = ev.select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("exact_users"))
      val exactEvents = ev.select(col("event_type"), col("event_id")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("exact_events"))
      approxAgg
        .join(broadcast(exactUsers), Seq("event_type"))
        .join(broadcast(exactEvents), Seq("event_type"))
        .select(col("event_type"), col("exact_users"), col("exact_events"), col("n"),
          (abs(col("__au") - col("exact_users")).cast("double") / col("exact_users")
            <= 0.15).as("users_within_bound"),
          (abs(col("__ae") - col("exact_events")).cast("double") / col("exact_events")
            <= 0.05).as("events_within_bound"))
    }),

    // ── sketches: MERGEABILITY — the property that makes sketches usable
    // at 100 TB (per-partition/per-day sketches union into the global one
    // without rescanning). Per-type DataSketches HLL sketches are unioned
    // and must (a) equal the single-pass sketch exactly — same registers,
    // order-insensitive max-merge — and (b) land within the configured
    // error of the exact twin. The sketch values never reach the output;
    // the booleans gate them (the x1 discipline).
    "x11_sketch_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val merged = ev.groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("__m"))
      val direct = ev
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("__d"))
      val exact = ev.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("exact_users"))
      exact.crossJoin(broadcast(merged)).crossJoin(broadcast(direct))
        .select(col("exact_users"),
          (col("__m") === col("__d")).as("merge_lossless"),
          (abs(col("__m") - col("exact_users")).cast("double")
            / col("exact_users") <= 0.05).as("merged_within_bound"))
    }),

    // ═══ LLM-pipeline operators (graft.ops) over documents/embeddings ═════

    // ── text analysis: token counting ─────────────────────────────────────
    "t1_token_count" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        ops.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        ops.TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        length(col("text")).cast("long").as("len_chars"))
    }),

    // ── text analysis: quality scoring ────────────────────────────────────
    "t2_quality_score" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        ops.TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        ops.TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        ops.TextAnalysis.avgTokenLen(col("text")).as("avg_token_len"),
        ops.TextAnalysis.distinctRatio(col("text")).as("distinct_ratio"))
    }),

    // ── text analysis: language ID (stopword-overlap heuristic) ───────────
    "t3_lang_id" -> ((s, dir) => {
      val lid = ops.TextAnalysis.langId(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        lid.getField("lang").as("predicted_lang"),
        lid.getField("score").as("lang_score"))
    }),

    // ── text analysis: corpus-statistics pass — per-doc rare-word signal
    //    (avg document frequency of its tokens + hapax count) ──────────────
    "t5_rare_word_ratio" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(ops.TextAnalysis.tokens(col("text"))).as("t"))
      val dfreq = toks.distinct()
        .groupBy(col("t")).agg(count(lit(1)).as("df"))
      // df is vocab-sized — broadcast it EXPLICITLY so the token join never
      // hash-partitions the corpus token rows: a shuffled join on `t` puts
      // every "the"/"and" occurrence in one task (the classic stop-word hot
      // key), and leaving the choice to AQE makes the safe plan a runtime
      // accident instead of a property. Same cutoff rationale as
      // tfidfTopTerms: beyond ~100M distinct tokens drop the hint + salt.
      toks.join(broadcast(dfreq), Seq("t"))
        .groupBy(col("doc_id"))
        .agg(round(avg(col("df")), 4).as("avg_token_df"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_hapax"))
    }),

    // ── text analysis: document fingerprint ───────────────────────────────
    "t4_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        ops.TextAnalysis.fingerprint(col("text")).as("fp"))
    }),

    // ── text analysis: blocklist screening + redaction (PII-filter shape) ─
    "t6_blocklist_scrub" -> ((s, dir) => {
      val terms = Seq("spark", "customer", "vector", "window")
      t(s, dir, "documents").select(col("doc_id"),
        ops.TextAnalysis.blocklistHits(col("text"), terms).as("n_hits"),
        md5(ops.TextAnalysis.blocklistScrub(col("text"), terms)).as("scrub_md5"))
    }),

    // ── text analysis: corpus-level bigram frequencies (top-k) ────────────
    "t7_bigram_topk" -> ((s, dir) => {
      t(s, dir, "documents")
        // materialize tokens before shingling (CollapseProject re-evaluates
        // non-attribute subexpressions per lambda reference)
        .select(ops.TextAnalysis.tokens(col("text")).as("__ws"))
        .select(explode(ops.Dedup.shinglesFromTokens(col("__ws"), 2)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)
    }),

    // ── dedup: exact groups by fingerprint ────────────────────────────────
    "d1_exact_dedup" -> ((s, dir) =>
      ops.Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")),

    // ── dedup: MinHash + banded LSH candidate pairs ───────────────────────
    "d2_minhash_lsh" -> ((s, dir) =>
      ops.Dedup.lshCandidatePairs(t(s, dir, "documents"), "doc_id", "text")),

    // ── dedup: 32-bit SimHash per document ────────────────────────────────
    "d3_simhash" -> ((s, dir) =>
      ops.Dedup.simhash32(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("sh_id", "doc_id")),

    // ── dedup: simhash near-dup pairs (byte-band pigeonhole + hamming) ────
    "d10_simhash_pairs" -> ((s, dir) =>
      ops.Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 2)),

    // ── dedup: n-gram Jaccard verification of the LSH candidates ──────────
    "d4_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // one materialized tokenize→shingle pass feeds LSH and verification
      val sets = ops.Dedup.shingleSets(docs, "doc_id", "text").checkpointOwned()
      ops.Dedup.jaccardVerifyFromSets(sets,
        ops.Dedup.lshCandidatePairsFromSets(sets), threshold = 0.2)
    }),

    // ── dedup: survivors via connected components of the near-dup graph ───
    "d6_dedup_survivors" -> ((s, dir) =>
      ops.Dedup.dedupSurvivors(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.2, rounds = 3)),

    // ── dedup: EXACT components (large-star/small-star to convergence) ────
    // Same verified pair graph as d6, but diameter-proof: a duplicate CHAIN
    // collapses to ONE component regardless of length, where d6's fixed
    // 3-round propagation is one-hop-per-round. The oracle is true reach-
    // ability (recursive closure), so this gates CONVERGENCE, not a round
    // count.
    "d15_cc_clusters" -> ((s, dir) =>
      ops.Dedup.dedupSurvivors(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.2, exact = true)),

    // ── dedup: INCREMENTAL component maintenance — ids ≡ 1 (mod 10) arrive
    // as a batch against the rest as accepted corpus; only components the
    // batch touches recompute, and the result must hash-match the oracle's
    // FULL recursive-closure recompute over the whole pair graph ───────────
    "d16_incremental_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sets = ops.Dedup.shingleSets(docs, "doc_id", "text").checkpointOwned()
      val pairs = ops.Dedup.jaccardVerifyFromSets(sets,
          ops.Dedup.lshCandidatePairsFromSets(sets), threshold = 0.2)
        .select(col("doc_a"), col("doc_b")).checkpointOwned()
      def isBatch(c: org.apache.spark.sql.Column) = pmod(c, lit(10)) === 1
      val corpusPairs = pairs.filter(!isBatch(col("doc_a")) && !isBatch(col("doc_b")))
      val newPairs = pairs.filter(isBatch(col("doc_a")) || isBatch(col("doc_b")))
      val corpusNodes = docs.filter(!isBatch(col("doc_id")))
        .select(col("doc_id").as("node"))
      val batchNodes = docs.filter(isBatch(col("doc_id")))
        .select(col("doc_id").as("node"))
      // production reads `existing` from a persisted assignment table;
      // checkpointing is the in-query stand-in (it is consumed 3× inside
      // incrementalComponents: touched semi, affected semi, anti pass)
      val existing = ops.Dedup.connectedComponents(corpusNodes, corpusPairs)
        .checkpointOwned()
      ops.Dedup.incrementalComponents(existing, batchNodes, newPairs)
        .select(col("node").as("doc_id"), col("label").as("component"),
          (col("node") === col("label")).as("is_survivor"))
    }),

    // ── sampling: leakage-safe train/val/test split — duplicate families
    // move as a UNIT (hash of the exact component id, not the doc id), so
    // near-identical docs can never straddle the train/test boundary ───────
    "x9_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val comp = ops.Dedup.dedupSurvivors(docs, "doc_id", "text",
          threshold = 0.2, exact = true)
        .select(col("doc_id"), col("component"))
      ops.Sampling.assignSplitBy(docs.join(comp, "doc_id"),
          col("component"), salt = "split")
        .select(col("doc_id"), col("component"), col("split"))
    }),

    // ── dedup: survivors elected by QUALITY, not min id (pipeline shape) ──
    "d8_quality_survivors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val comp = ops.Dedup.dedupSurvivors(docs, "doc_id", "text",
          threshold = 0.2, rounds = 3)
        .select(col("doc_id"), col("component"))
      val scored = docs.select(col("doc_id"),
        ops.TextAnalysis.distinctRatio(col("text")).as("quality"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("quality").desc, col("doc_id"))
      comp.join(scored, Seq("doc_id"))
        .withColumn("keep", row_number().over(w) === 1)
        .select(col("doc_id"), col("component"), col("quality"), col("keep"))
    }),

    // ── similarity: exact brute-force cosine top-k ────────────────────────
    "e1_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
    }),

    // ── similarity: MATRYOSHKA truncation-depth dashboard — exact
    //    recall@k of prefix-truncated cosine against the full-dim truth,
    //    per depth (the MRL decision table: how many leading components
    //    the corpus can afford to store). Exact arithmetic end to end ─────
    "e20_matryoshka_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.matryoshkaRecall(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, dims = Seq(8, 16, 32))
    }),

    // ── similarity: seeded-SRP LSH bucketed ANN top-k (multi-probe) ───────
    "e2_lsh_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.signLshTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3, bits = 8, probeRadius = 1)
    }),

    // ── similarity: IVF cell-probe ANN (the second scale path) ────────────
    "e3_ivf_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.ivfTopK(emb, emb.filter(col("vec_id").between(100, 109)),
        "vec_id", "embedding", k = 3, nlist = 8, nprobe = 2)
    }),

    // ── similarity: MATRYOSHKA depth made load-bearing — the e20 decision
    //    table's chosen depth (16 of 64) feeds the PERSISTED index build:
    //    vectors and centroids store only the prefix (4× smaller), appends
    //    and probes auto-truncate to the stored dimensionality, and the
    //    full-cell probe re-derives the dashboard's exact recall@5 against
    //    full-dim truth ON THE REAL ARTIFACT — the e20 promise, verified
    //    on what actually persisted ──────────────────────────────────────
    "e21_mrl_indexed_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte21")
      ops.Similarity.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 8,
        codec = ops.Similarity.IvfCodec.Raw(depth = Some(16)))
      ops.Similarity.appendToIvfIndex(s, idx,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 20)
      // full-cell probe: every vector is in exactly one cell, so the only
      // approximation left IS the truncation — recall isolates the depth
      val approx = ops.Similarity.ivfTopKIndexed(s, idx, queries,
        "vec_id", "embedding", k = 5, nprobe = 8)
      val truth = ops.Similarity.cosineTopK(emb, queries,
          "vec_id", "embedding", 5)
        .select(col("qid"), col("vec_id"), lit(1).as("hit"))
      approx.select(col("qid"), col("vec_id"))
        .join(broadcast(truth), Seq("qid", "vec_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"),
          count(lit(1)).as("n_candidates"))
        .select(lit(16).as("depth"), col("n_hits"), col("n_candidates"),
          round(col("n_hits") / col("n_candidates"), 6).as("recall"))
    }),

    // ── similarity: auto-nprobe ANN — the probe width chosen from the
    //    index's cell-occupancy census under a scanned-rows budget (the
    //    skew gate on the embedding family: worst-case cost = the nprobe
    //    largest cells). The chosen nprobe rides every row; the oracle
    //    re-derives census, prefix sums, nprobe and the probe itself ──────
    "e22_auto_nprobe_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte22")
      ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, nlist = 8)
      ops.Similarity.ivfTopKIndexedAuto(s, idx,
        emb.filter(col("vec_id").between(100, 109)),
        "vec_id", "embedding", k = 3, maxScannedPerProbe = emb.count() / 2)
    }),

    // ── similarity: persisted IVF index roundtrip (build → append → load →
    //    probe). Centroids come from the full corpus (production: trained on
    //    a sample), the index is BUILT on even ids and incrementally
    //    APPENDED with odd ids — assignments agree with a one-shot build, so
    //    the e3 declarative-IVF oracle must reproduce the result exactly.
    //    The cell table persists PARTITIONED BY cell: the probe join prunes
    //    unprobed cells at the parquet level (the 100-TB query shape).
    "e6_indexed_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte6")
      val cents = ops.Similarity.defaultCentroids(emb, "vec_id", "embedding", 8)
      ops.Similarity.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 8, centroids = Some(cents))
      ops.Similarity.appendToIvfIndex(s, idx,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding")
      ops.Similarity.ivfTopKIndexed(s, idx,
        emb.filter(col("vec_id").between(100, 109)),
        "vec_id", "embedding", k = 3, nprobe = 2)
    }),

    // ── similarity: IVF RECLUSTER invariant — after drifted appends and a
    //    retrain (staged rewrite + swap), a FULL probe (nprobe = nlist)
    //    must equal the exact scan no matter where k-means put the cells:
    //    every vector lives in exactly one cell and every cell is probed,
    //    so the oracle is the plain exact top-k. This pins the rewrite
    //    (no vector lost/duplicated by the swap) through the hash gate;
    //    the recall-restoration curve itself is SkewTextOpsSpec's check.
    "e9_recluster_fullprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte9")
      ops.Similarity.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 8)
      ops.Similarity.appendToIvfIndex(s, idx,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding")
      // one Lloyd round: the full-probe invariant holds for ANY clustering,
      // so extra refinement only buys bench seconds, not correctness
      ops.Similarity.reclusterIvfIndex(s, idx, nlist = 8, iters = 1)
      ops.Similarity.ivfTopKIndexed(s, idx, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, nprobe = 8)
    }),

    // ── similarity: IVF-PQ with K-MEANS codebooks — the trained-books path
    //    oracle-gated by EQUIVALENCE (the e9 trick): probing every cell
    //    with exhaustive rerank must equal the exact cosine scan WHATEVER
    //    the books are, because every candidate is exact-rescored. The
    //    engine side runs the full trained lifecycle (Lloyd books over the
    //    corpus, build, code-only pre-rank, rescore); the oracle is the
    //    exact top-k SQL. Recall QUALITY of trained books is the
    //    `Scale ann` floor; their plumbing correctness is gated here.
    "e16_pqk_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte16")
      val books = ops.Similarity.pqCodebooksKmeans(emb,
        "vec_id", "embedding", m = 8, kc = 16, iters = 4)
      ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, nlist = 8,
        codec = ops.Similarity.IvfCodec.Pq(m = 8, kc = 16, codebooks = Some(books)))
      ops.Similarity.ivfProbe(s, idx,
        emb.filter(col("vec_id").between(100, 109)),
        "vec_id", "embedding", k = 3, nprobe = 8, rerank = 1000000)
    }),

    // ── similarity: SemDeDup — cluster-then-dedup on embeddings ───────────
    "e7_semdedup" -> ((s, dir) =>
      ops.Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nlist = 8)),

    // ── similarity: SEMANTIC DEDUP SCREEN against a persisted index — the
    //    batch-vs-accepted-corpus decision (`semScreen`, the micro-batch
    //    body of StreamAggs.semDedupAtIngest), oracle-gated by EQUIVALENCE
    //    (the e9 trick): with every cell probed and exhaustive rerank the
    //    top-1 neighbor is the exact cosine argmax, so the verdict equals
    //    the oracle's threshold on the exact scan whatever the SQ8 layout
    //    did to the pre-rank. Build on evens, screen 100 odd vectors.
    "e17_semdedup_screen" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte17")
      ops.Similarity.buildIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 8, codec = ops.Similarity.IvfCodec.Sq())
      ops.Similarity.semScreen(s, idx,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1 && col("vec_id") < 200),
        "vec_id", "embedding", threshold = 0.3, nprobe = 8, rerank = 1000000)
    }),

    // ── similarity: embedding QC — centroid-distance outlier screen (a
    // zero-shuffle codegen projection: vectors no cluster claims are the
    // corrupt/off-distribution embeddings screened before training) ───────
    "e10_embedding_outliers" -> ((s, dir) =>
      ops.Similarity.centroidOutliers(t(s, dir, "embeddings"), "vec_id",
        "embedding", simFloor = 0.1, nlist = 8)),

    // ── similarity: IVF-index FORGET (GDPR) — the ANN twin of d18: after
    //    removing every vec_id ≡ 0 (mod 3) from the SQ8 index (vector,
    //    codes and assignment in one copy-on-write geometry version), a
    //    full probe with exhaustive rerank must equal the exact cosine
    //    scan over the SURVIVORS — a forgotten vector surfacing as a
    //    neighbor, or a survivor lost by the rewrite, breaks the hash.
    "e18_ivf_forget" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte18")
      ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, nlist = 8,
        codec = ops.Similarity.IvfCodec.Sq())
      ops.Similarity.forgetFromIvfIndex(s, idx,
        emb.filter(pmod(col("vec_id"), lit(3)) === 0).select(col("vec_id")),
        "vec_id")
      ops.Similarity.ivfProbe(s, idx,
        emb.filter(col("vec_id").between(100, 109)),
        "vec_id", "embedding", k = 3, nprobe = 8, rerank = 1000000)
    }),

    // ── similarity: SQ8 compressed-domain ANN (integer dot products) ──────
    "e8_sq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.sqTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
    }),

    // ── similarity: persisted IVF-SQ8 index (build evens → append odds →
    //    quantized probe with exact rescoring). The probe scores candidates
    //    by the signed int8 dot product over the persisted code column (the
    //    4× bandwidth win at 100 TB), then exact-rescored the top rerank·k.
    //    Scale AND centroids freeze at build time, so the oracle re-derives
    //    the scale from the even half only — the append contract under test.
    "e11_ivfsq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte11")
      val cents = ops.Similarity.defaultCentroids(emb, "vec_id", "embedding", 8)
      ops.Similarity.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 8, centroids = Some(cents),
        codec = ops.Similarity.IvfCodec.Sq())
      ops.Similarity.appendToIvfIndex(s, idx,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding")
      ops.Similarity.ivfProbe(s, idx,
        emb.filter(col("vec_id").between(100, 109)),
        "vec_id", "embedding", k = 3, nprobe = 2, rerank = 4)
    }),

    // ── similarity: NORMALIZED IVF-SQ8 index — e11's lifecycle with
    //    normalize = true, so the int8 pre-rank approximates COSINE. The
    //    oracle re-derives the normalization, the even-half scale over the
    //    NORMALIZED evens, and both code sets from normalized vectors;
    //    final sims are exact cosines of the RAW query against the stored
    //    (normalized) corpus vector — cosine is norm-invariant, so the
    //    values equal the raw-against-raw ranking.
    "e15_ivfsq_norm" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte15")
      val cents = ops.Similarity.defaultCentroids(emb, "vec_id", "embedding", 8)
      ops.Similarity.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 8, centroids = Some(cents),
        codec = ops.Similarity.IvfCodec.Sq(normalize = true))
      ops.Similarity.appendToIvfIndex(s, idx,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding")
      ops.Similarity.ivfProbe(s, idx,
        emb.filter(col("vec_id").between(100, 109)),
        "vec_id", "embedding", k = 3, nprobe = 2, rerank = 4)
    }),

    // ── similarity: persisted IVF-PQ index (build evens → append odds →
    //    code-only probe with ADC pre-rank and exact rescoring). Coarse
    //    centroids AND codebooks freeze at build; the oracle re-derives
    //    the books from the even half only — the same append contract as
    //    e11, in the 32×-compressed domain.
    "e13_ivfpq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte13")
      val cents = ops.Similarity.defaultCentroids(emb, "vec_id", "embedding", 8)
      ops.Similarity.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 8, centroids = Some(cents),
        codec = ops.Similarity.IvfCodec.Pq(m = 8, kc = 16))
      ops.Similarity.appendToIvfIndex(s, idx,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding")
      ops.Similarity.ivfProbe(s, idx,
        emb.filter(col("vec_id").between(100, 109)),
        "vec_id", "embedding", k = 3, nprobe = 2, rerank = 4)
    }),

    // ── similarity: product quantization (PQ/ADC) — each 64-dim vector
    //    becomes 8 one-byte codes (32× compression); queries rank the
    //    corpus by SUMS OF TABLE LOOKUPS, no float math against the corpus.
    //    Codebooks are the deterministic first-16 subvector seed, so the
    //    oracle re-derives codes, tables and ranks declaratively.
    "e12_pq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, m = 8, kc = 16)
    }),

    // ── similarity: per-cell index health — the maintenance scheduler's
    //    input for the recluster decision. Build evens, append odds against
    //    the frozen centroids (e11's contract), then report occupancy and
    //    cosine-to-own-centroid stats per cell; the oracle re-derives every
    //    assignment and the same rounded stats from the raw table.
    "e14_index_health" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte14")
      val cents = ops.Similarity.defaultCentroids(emb, "vec_id", "embedding", 8)
      ops.Similarity.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 8, centroids = Some(cents))
      ops.Similarity.appendToIvfIndex(s, idx,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding")
      ops.Similarity.ivfIndexHealth(s, idx)
    }),

    // ── similarity: IVF collision DENSITY — e14's layout summarized as
    //    same-cell pair mass: the exhaustive-distance work an nprobe=1
    //    probe pays inside its own cell, and how close the grid is to
    //    collapse (collision_prob → 1). Same build+append fixture as e14;
    //    ratios re-derived from the exact integer census in both engines.
    "e19_ivf_density" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempLogDir("grafte19")
      val cents = ops.Similarity.defaultCentroids(emb, "vec_id", "embedding", 8)
      ops.Similarity.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 8, centroids = Some(cents))
      ops.Similarity.appendToIvfIndex(s, idx,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding")
      ops.Similarity.ivfIndexDensity(s, idx).select(col("n"), col("cells"),
        col("collision_pairs"),
        round(col("collision_pairs") * lit(2.0)
          / (col("n") * (col("n") - lit(1))), 6).as("collision_prob"),
        round(col("collision_pairs") * lit(2.0) / col("n"), 6)
          .as("exp_scanned_per_probe"))
    }),

    // ── similarity: ANN quality — recall@k of SRP-LSH vs exact ────────────
    "e4_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      ops.Similarity.recallAtK(
        ops.Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 3),
        ops.Similarity.signLshTopK(emb, queries, "vec_id", "embedding", k = 3,
          bits = 8, probeRadius = 1),
        k = 3)
    }),

    // ── similarity: recall with the multi-table OR-construction ───────────
    // 8 tables × 8 bits × radius-1 probes: mean recall ≈ 0.65 on this corpus
    // (true neighbours at cosine 0.26–0.49) vs 0.08 single-table — measured
    // by a standalone recall probe; candidates stay an equi-join sliver of
    // the corpus.
    "e5_multitable_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      ops.Similarity.recallAtK(
        ops.Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 3),
        ops.Similarity.signLshTopKMulti(emb, queries, "vec_id", "embedding",
          k = 3, bits = 8, tables = 8, probeRadius = 1),
        k = 3)
    }),

    // ── dedup: embedding-cosine near-dup pairs (bucketed) ─────────────────
    "d5_embedding_dedup" -> ((s, dir) =>
      ops.Dedup.embeddingCandidates(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.15)),

    // ── dedup: embedding near-dup components + survivors ──────────────────
    "d7_embedding_survivors" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = ops.Dedup.embeddingCandidates(emb, "vec_id", "embedding",
          threshold = 0.15)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      ops.Dedup.labelPropagation(emb.select(col("vec_id").as("node")), pairs, rounds = 3)
        .select(col("node").as("vec_id"), col("label").as("component"),
          (col("node") === col("label")).as("is_survivor"))
    }),

    // ── sketch/stats: exact per-group quantiles (sorted-agg path) ─────────
    // ── sketches: approx quantiles (GK sketch) gated by exact twins ───────
    // same contract as x1: the sketch value never reaches the output — the
    // in-query booleans assert it landed inside its rank-error bound, and
    // the oracle recomputes the exact side + literal-true booleans. At
    // 100 TB the sketch is the only affordable form (one pass, bounded
    // state); the exact twin exists to keep the sketch honest at test SFs.
    "x7_approx_quantiles" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val acc = 1000 // rank error ≤ n/acc; margins below allow 5× that
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          percentile(col("value"), lit(0.5)).as("__e50"),
          percentile(col("value"), lit(0.9)).as("__e90"),
          percentile(col("value"), lit(0.495)).as("__lo50"),
          percentile(col("value"), lit(0.505)).as("__hi50"),
          percentile(col("value"), lit(0.895)).as("__lo90"),
          percentile(col("value"), lit(0.905)).as("__hi90"),
          percentile_approx(col("value"), lit(0.5), lit(acc)).as("__a50"),
          percentile_approx(col("value"), lit(0.9), lit(acc)).as("__a90"))
        .select(col("event_type"), col("n"),
          round(col("__e50"), 6).as("p50"), round(col("__e90"), 6).as("p90"),
          (col("__a50") >= col("__lo50") && col("__a50") <= col("__hi50"))
            .as("p50_within_bound"),
          (col("__a90") >= col("__lo90") && col("__a90") <= col("__hi90"))
            .as("p90_within_bound"))
    }),

    "x2_quantiles" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("__p50"),
          percentile(col("value"), lit(0.95)).as("__p95"))
        .select(col("event_type"), round(col("__p50"), 6).as("p50"),
          round(col("__p95"), 6).as("p95"))
    }),

    // ── sampling/census: the per-(source, lang) DATA CARD — the census a
    //    corpus release ships, as ONE aggregation over ONE scan (doc count,
    //    token/char mass, length quantiles, corpus distinct-token ratio,
    //    PII incidence). Ratio-of-sums on exact longs, quantiles by the
    //    x2 interpolation-parity rule — every column oracle-exact ─────────
    // (exactQuantiles = true explicitly: the ORACLE twin wants exact
    // interpolated percentiles; the API default is the bounded sketch)
    "x12_data_card" -> ((s, dir) =>
      ops.TextAnalysis.dataCard(t(s, dir, "documents"), "text",
        Seq("source", "lang"), exactQuantiles = true)),

    // ── text: top-3 salient terms per doc (linear TF-IDF, df over corpus) ─
    "t9_tfidf" -> ((s, dir) =>
      ops.TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .filter(col("doc_id") < 30)),

    // ── dedup: eval-set contamination (probe containment in corpus) ───────
    "d9_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Dedup.containment(docs, docs.filter(col("doc_id") < 25),
        "doc_id", "text", threshold = 0.15)
    }),

    // ── dedup: Bloom-prefiltered contamination screen (huge probe sets) ───
    "d14_bloom_screen" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Dedup.containmentBloom(docs,
        docs.filter(col("doc_id") >= 25 && col("doc_id") < 50),
        "doc_id", "text", threshold = 0.15)
    }),

    // ── dedup: span-level exact-substring dedup (C4-style line dedup) ─────
    "d11_span_dedup" -> ((s, dir) =>
      ops.Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text",
          spanTokens = 10)
        .select(col("doc_id"), col("n_spans"), col("n_dropped"),
          md5(col("kept_text")).as("kept_md5"))),

    // ── dedup: exact duplicated-substring removal (overlapping windows) ───
    "d13_substring_dedup" -> ((s, dir) =>
      ops.Dedup.substringDedup(t(s, dir, "documents"), "doc_id", "text",
          windowTokens = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_dropped"),
          md5(col("kept_text")).as("kept_md5"))),

    // ── dedup: incremental batch-vs-corpus screen (continuous ingest) ─────
    "d12_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = ops.Sampling.hashBucket(col("doc_id"), "inc", 10000)
      ops.Dedup.incrementalDedup(
        docs.filter(bucket >= 2000), docs.filter(bucket < 2000),
        "doc_id", "text", threshold = 0.2)
    }),

    // ── dedup: PERSISTED LSH index lifecycle (build → append → streaming
    //    appendBatch → compact → appendBatch → screen). The corpus reaches
    //    the signature table through four different write paths, one batch
    //    is folded by compaction and one still lives in the ingest side
    //    area when the screen runs — and the verdicts must equal d12's
    //    independent DuckDB re-derivation exactly, because the persisted
    //    index is semantically nothing but the corpus signatures. The
    //    screen's candidate join carries the (band, sb) partition columns,
    //    so the index scan prunes to the batch's buckets (the 100-TB
    //    screen shape: the corpus is only touched by the verify sliver).
    "d17_lsh_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = ops.Sampling.hashBucket(col("doc_id"), "inc", 10000)
      val corpus = docs.filter(bucket >= 2000)
      val idx = tempLogDir("graftd17")
      // sigBuckets sizes the (band × bucket) partition grid; the dynamic-
      // partitioned COMMIT costs ~12 ms/dir (measured), so the grid must
      // scale with the corpus — 16 here (64 dirs) for the bench tiers, a
      // few thousand at 100 TB where the commit amortizes over the write
      ops.LshIndex.build(docs.filter(bucket >= 6000), "doc_id", "text", idx,
        sigBuckets = 16)
      ops.LshIndex.append(s, idx,
        docs.filter(bucket >= 5000 && bucket < 6000), "doc_id", "text")
      ops.LshIndex.appendBatch(s, idx,
        docs.filter(bucket >= 3500 && bucket < 5000), "doc_id", "text",
        batchId = 1)
      ops.LshIndex.compactIngest(s, idx) // batch 1 folds into the main table
      ops.LshIndex.appendBatch(s, idx,
        docs.filter(bucket >= 2000 && bucket < 3500), "doc_id", "text",
        batchId = 2) // batch 2 stays in ingest: the screen reads the union
      ops.LshIndex.screen(s, idx, corpus, docs.filter(bucket < 2000),
        "doc_id", "text", threshold = 0.2)
    }),

    // ── dedup: LSH-index FORGET (GDPR) — content-derived fingerprints
    //    participate in the erasure story: after forgetting the 2000–4999
    //    bucket range, the screen must behave EXACTLY as if the index had
    //    been built on the surviving corpus — the oracle re-derives the
    //    screen over bucket ≥ 5000 only, so one surviving victim signature
    //    (or one lost survivor) breaks the hash.
    "d18_lsh_forget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = ops.Sampling.hashBucket(col("doc_id"), "inc", 10000)
      val idx = tempLogDir("graftd18")
      ops.LshIndex.build(docs.filter(bucket >= 2000), "doc_id", "text", idx,
        sigBuckets = 16)
      ops.LshIndex.forget(s, idx,
        docs.filter(bucket >= 2000 && bucket < 5000).select(col("doc_id")),
        "doc_id")
      ops.LshIndex.screen(s, idx, docs.filter(bucket >= 5000),
        docs.filter(bucket < 2000), "doc_id", "text", threshold = 0.2)
    }),

    // ── dedup: LSH-index HEALTH — the maintenance scheduler's skew signal:
    //    the topK heaviest (band, sig) buckets. Candidate expansion is
    //    quadratic IN THE BUCKET, so this is what decides a maxBucketSize
    //    cap or an upstream exact-dedup pass; the oracle re-derives every
    //    signature and the exact top-20 (ties broken on (band, sig)).
    "d19_lsh_health" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = tempLogDir("graftd19")
      ops.LshIndex.build(docs, "doc_id", "text", idx, sigBuckets = 16)
      ops.LshIndex.health(s, idx, topK = 20)
    }),

    // ── dedup: LSH-index collision DENSITY — d19's census completed into
    //    the accidental-candidate-mass dashboard: per band, how many
    //    same-signature pairs the grid holds and what candidate volume a
    //    corpus-drawn probe implies (the safe-radius / cap-decision input,
    //    learned from the index instead of a postmortem). The float ratios
    //    are re-derived from the exact integer census in BOTH engines.
    "d20_lsh_density" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = tempLogDir("graftd20")
      ops.LshIndex.build(docs, "doc_id", "text", idx, sigBuckets = 16)
      ops.LshIndex.density(s, idx).select(col("band"), col("n"),
        col("buckets"), col("collision_pairs"),
        round(col("collision_pairs") * lit(2.0)
          / (col("n") * (col("n") - lit(1))), 6).as("collision_prob"),
        round(col("collision_pairs") * lit(2.0) / col("n"), 6)
          .as("exp_candidates_per_probe"))
    }),

    // ── dedup: density-GATED screen — the boilerplate-skew cap chosen
    //    from the index's own bucket census instead of by operator guess
    //    (d20's dashboard made load-bearing, the mm19/phash principle on
    //    the text family). The plant: a 40-copy boilerplate class (pairs
    //    quadratically — must fall OUTSIDE the cap) and 3-copy duplicate
    //    classes (real dup structure — must stay INSIDE it). The chosen
    //    cap rides every row; the oracle re-derives census, cap, capped
    //    candidate join and exact-Jaccard verify from source text ────────
    "d21_auto_capped_screen" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id"), col("text"))
      val boilerText = docs.filter(col("doc_id") === 0)
        .select(col("text").as("__bt"))
      val boiler = base.filter(col("doc_id") < 40)
        .crossJoin(broadcast(boilerText))
        .select((col("doc_id") + 10000).as("doc_id"), col("__bt").as("text"))
      val midSrc = base.filter(pmod(col("doc_id"), lit(10)) === 0 &&
        col("doc_id").between(10, 100))
      // checkpoint the planted union: at 100 TB the corpus is ONE table,
      // and without the collapse the screen's semi-join prune re-executes
      // its candidate-id distinct once per union leg
      val corpus = base.filter(col("doc_id") < 400)
        .unionByName(boiler)
        .unionByName(midSrc.select((col("doc_id") + 20000).as("doc_id"), col("text")))
        .unionByName(midSrc.select((col("doc_id") + 21000).as("doc_id"), col("text")))
        .checkpointOwned()
      val probeText = docs.filter(col("doc_id") === 10)
        .select(col("text").as("__pt"))
      val batch = base.filter(col("doc_id") >= 400 && col("doc_id") < 450)
        .unionByName(boilerText.select(lit(30000L).as("doc_id"),
          col("__bt").as("text")))
        .unionByName(probeText.select(lit(30010L).as("doc_id"),
          col("__pt").as("text")))
      val idx = tempLogDir("graftd21")
      ops.LshIndex.build(corpus, "doc_id", "text", idx, sigBuckets = 16)
      ops.LshIndex.screenAuto(s, idx, corpus, batch, "doc_id", "text",
        threshold = 0.2, maxCandidatesPerProbe = 4.0)
    }),

    // ── text: PII screening + typed redaction (email / phone / IPv4) ──────
    // The corpus is digit-free word salad, so the query plants PII
    // deterministically from doc_id — both engines derive the identical
    // input, and the counts/redaction exercise real matches.
    "t12_pii_redact" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" call 555-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
            lit("-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(""),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" from 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"),
            lit("."),
            (pmod(col("doc_id"), lit(254)) + 1).cast("string")))
          .otherwise(""))
      t(s, dir, "documents").select(col("doc_id"),
        ops.TextAnalysis.piiEmailCount(aug).as("n_emails"),
        ops.TextAnalysis.piiPhoneCount(aug).as("n_phones"),
        ops.TextAnalysis.piiIpCount(aug).as("n_ips"),
        md5(ops.TextAnalysis.piiRedact(aug)).as("red_md5"))
    }),

    // ── text: CCNet-style bigram-LM quality score (self-scored corpus) ────
    "t13_lm_quality" -> ((s, dir) =>
      ops.TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")),

    // ── text: encoding/mojibake QC — replacement-char and control-char
    //    screening (the data-janitorial pass before any text op; corpus text
    //    is clean, so doc_id%7 rows get a planted mojibake tail exactly like
    //    t12 plants PII — the flag must split on it)
    "t15_encoding_qc" -> ((s, dir) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 7 === 0, lit("\u0001\uFFFDx")).otherwise(lit("")))
      val nRepl = regexp_count(aug, lit("\uFFFD")).cast("long")
      val nCtrl = regexp_count(aug, lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).cast("long")
      t(s, dir, "documents").select(col("doc_id"),
        length(aug).cast("long").as("n_chars"),
        nRepl.as("n_replacement"), nCtrl.as("n_control"),
        (nRepl === 0 && nCtrl * 1000 <= length(aug)).as("clean"))
    }),

    // ── text: Unicode script mix — the language-consistency QC (mixed-script
    //    documents are boilerplate/spam signals; the corpus is ASCII, so
    //    planted Han/Cyrillic tails on doc_id%5 rows exercise the split)
    "t16_script_mix" -> ((s, dir) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 1, lit(" 你好世界"))
          .when(col("doc_id") % 5 === 2, lit(" привет мир"))
          .otherwise(lit("")))
      val nLatin = regexp_count(aug, lit("\\p{IsLatin}")).cast("long")
      val nHan = regexp_count(aug, lit("\\p{IsHan}")).cast("long")
      val nCyr = regexp_count(aug, lit("\\p{IsCyrillic}")).cast("long")
      t(s, dir, "documents").select(col("doc_id"),
        nLatin.as("n_latin"), nHan.as("n_han"), nCyr.as("n_cyrillic"),
        regexp_count(aug, lit("[0-9]")).cast("long").as("n_digit"),
        // dominant script, ties broken latin > han > cyrillic (explicit
        // priority keeps the verdict deterministic and oracle-exact)
        when(nLatin >= nHan && nLatin >= nCyr, lit("latin"))
          .when(nHan >= nCyr, lit("han")).otherwise(lit("cyrillic"))
          .as("main_script"),
        // mixed = the NON-dominant letter mass holds >10% of the total
        // (a pure-Han or pure-Cyrillic doc is not mixed)
        ((nLatin + nHan + nCyr - greatest(nLatin, nHan, nCyr)) * 10 >
          (nLatin + nHan + nCyr)).as("mixed"))
    }),

    // ── text: Gopher composite quality rules (integer-exact counts) ───────
    "t14_gopher_rules" -> ((s, dir) =>
      ops.TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text")),

    // ── text: markup strip — the boilerplate-extraction pass over scraped
    //    HTML (tags → word boundaries, entities decoded with &amp; LAST,
    //    whitespace normalized). The corpus is plain text, so each doc is
    //    wrapped in a deterministic markup shell the SAME way on both
    //    sides — the strip must recover the payload exactly, and the
    //    per-mille markup-density quality signal rides along ──────────────
    "t17_markup_strip" -> ((s, dir) => {
      val raw = concat(lit("<html><body><h1>Doc "), col("doc_id").cast("string"),
        lit("</h1>\n<p class=\"body\">"), col("text"),
        lit("</p>\n<br/>&quot;tail&quot; &amp;lt; &#39;end&#39;&nbsp;</body></html>"))
      val clean = ops.TextAnalysis.stripMarkup(raw)
      t(s, dir, "documents").select(col("doc_id"),
        length(raw).cast("long").as("raw_len"),
        length(clean).cast("long").as("clean_len"),
        ops.TextAnalysis.markupDensityPerMille(raw).as("markup_pm"),
        md5(clean).as("clean_md5"))
    }),

    // ── REAL BPE, round 0: the adjacent-character-pair census over the
    //    distinct-word table — the oracle-expressible half of the trainer
    //    (the argmax of this census IS the first learned merge). Corpus
    //    read once; the census aggregate runs over vocabulary-sized data ──
    "t18_bpe_pair_census" -> ((s, dir) => {
      ops.TextAnalysis.bpePairCensus(t(s, dir, "documents"), "text")
        .orderBy(desc("pair_count"), col("lhs"), col("rhs"))
        .limit(20)
        .select(col("lhs"), col("rhs"), col("pair_count"))
    }),

    // ── REAL BPE, trained + applied: one merge learned from the corpus
    //    (census argmax, deterministic tiebreak), then per-document token
    //    counts under it. A single merge over character symbols equals
    //    leftmost-nonoverlapping string replacement, which SQL's replace()
    //    implements exactly — so the oracle re-learns the merge AND
    //    re-counts every document independently; a hash match gates the
    //    trainer's argmax, the encoder's greedy merge, and the
    //    vocabulary-join shape all at once ─────────────────────────────────
    "t19_bpe_token_count" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = ops.TextAnalysis.bpeTrain(docs, "text", nMerges = 1)
      ops.TextAnalysis.bpeTokenCount(docs, "doc_id", "text", merges)
    }),

    // ── REAL BPE, production output: documents encoded to token-ID
    //    sequences under the trained merge table + deterministic vocabulary
    //    (alphabet lexicographic, merges appended by rank). Exploded
    //    (word_no, sub_no) keeps every value scalar and the order total;
    //    the oracle re-learns the merge, rebuilds the vocabulary, and
    //    re-tokenizes every word via the leftmost-nonoverlapping
    //    replace-with-sentinel trick ─────────────────────────────────────
    "t22_bpe_encode_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = ops.TextAnalysis.bpeTrain(docs, "text", nMerges = 1)
      val vocab = ops.TextAnalysis.bpeVocab(docs, "text", merges)
      ops.TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges, vocab)
    }),

    // ── the tokenizer feeding the packer: context-window bins from REAL
    //    BPE counts instead of the whitespace proxy — bpeTrain →
    //    bpeTokenCount → packSequencesBy composed end to end under one
    //    oracle (the merge, every count, and every bin re-derived) ────────
    "t23_bpe_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = ops.TextAnalysis.bpeTrain(docs, "text", nMerges = 1)
      val counts = ops.TextAnalysis.bpeTokenCount(docs, "doc_id", "text", merges)
      ops.TextAnalysis.packSequencesBy(
        counts.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "doc_id", "source", "n_bpe_tokens", budgetTokens = 256)
    }),

    // ── learned quality filter, closed form: add-k Naive Bayes trained on
    //    a deterministic 3/4 slice (label = the corpus's own `lang = 'en'`
    //    flag — the fastText-classifier call shape), scoring the held-out
    //    quarter. The held-out docs DO hit unseen words, so the oracle
    //    match gates the smoothing floors and the prior, not just the
    //    census join ─────────────────────────────────────────────────────
    "t20_nb_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = ops.TextAnalysis.nbTrain(
        docs.filter(col("doc_id") % 4 =!= 0)
          .withColumn("__pos", col("lang") === "en"),
        "text", "__pos")
      ops.TextAnalysis.nbScore(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", model)
    }),

    // ── DSIR importance weights: tilt the non-English pool toward the
    //    English slice. Hashed-unigram censuses (1024 buckets, md5-parity
    //    hash) → one log-ratio table → per-doc sums; the oracle re-derives
    //    both distributions and every weight from scratch ────────────────
    "t21_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.TextAnalysis.dsirWeights(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 1024)
    }),

    // ── composed pipeline, oracle-gated end to end: quality gate from the
    //    gopher COUNTS (thresholds re-tuned for this corpus without a
    //    re-scan — the reason the counts are first-class columns) → exact
    //    dedup survivors → deterministic train split → per-source token
    //    budget. ONE scan of documents; the only shuffles are the dedup
    //    fingerprint window and the final per-source aggregate.
    "w9_pipeline_e2e" -> ((s, dir) => {
      val g = ops.TextAnalysis.gopherRules(t(s, dir, "documents"),
          "doc_id", "text", keep = Seq("source", "text"))
        .filter(col("word_count") >= 30 &&
          col("hash_count") * 10 <= col("word_count") &&
          col("ellipsis_count") * 10 <= col("word_count") &&
          col("alpha_words") * 10 >= col("word_count") * 8)
        .select(col("doc_id"), col("source"),
          ops.TextAnalysis.fingerprint(col("text")).as("fp"),
          ops.TextAnalysis.tokenCount(col("text")).as("n_tok"))
      val kept = g
        .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .filter(col("doc_id") === col("keep_id"))
      ops.Sampling.assignSplit(kept, "doc_id", salt = "pipe")
        .filter(col("split") === "train")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    }),

    // ── curriculum: quality-staged phases + per-phase sequence packing ────
    //    (anneal from clean to noisy: phase 0 = top quality tercile). The
    //    scale-safe form of a global ntile(): exact quality cutoffs come
    //    from ONE percentile aggregate broadcast back onto the corpus — no
    //    single-partition global window ever exists; packing windows
    //    partition by (phase, source) like w6, so no giant window partition
    //    either.
    "x8_curriculum" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        ops.TextAnalysis.tokenCount(col("text")).as("n_tok"),
        ops.TextAnalysis.distinctRatio(col("text")).as("quality"))
      val cuts = d.agg(percentile(col("quality"), lit(1.0 / 3)).as("c1"),
        percentile(col("quality"), lit(2.0 / 3)).as("c2"))
      val ph = d.crossJoin(broadcast(cuts))
        .withColumn("phase", when(col("quality") <= col("c1"), lit(2L))
          .when(col("quality") <= col("c2"), lit(1L)).otherwise(lit(0L)))
      val w = Window.partitionBy(col("phase"), col("source")).orderBy(col("doc_id"))
      ph.select(col("doc_id"), col("source"), col("n_tok"), col("phase"),
        ((sum(col("n_tok")).over(w) - col("n_tok")) / 512).cast("long").as("bin"))
    }),

    // ── sampling: per-domain contribution cap ─────────────────────────────
    "x5_domain_cap" -> ((s, dir) =>
      ops.Sampling.capPerKey(t(s, dir, "documents"), "doc_id", "source",
          cap = 10, salt = "cap")
        .select(col("doc_id"), col("source"), col("cap_rank"))),

    // ── sampling: temperature-weighted domain mixture to a token budget ───
    "x6_mixture_sample" -> ((s, dir) =>
      ops.Sampling.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
        ops.TextAnalysis.tokenCount(col("text")), budgetTokens = 10000,
        alpha = 0.5, salt = "mx")),

    // ── text: duplicate n-gram fraction (repetition quality filter) ───────
    "t11_repetition" -> ((s, dir) =>
      ops.TextAnalysis.repetitionFraction(t(s, dir, "documents"), "doc_id", "text")),

    // ── text: context-window chunking with overlap ────────────────────────
    "t10_chunk" -> ((s, dir) =>
      ops.TextAnalysis.chunk(t(s, dir, "documents").filter(col("doc_id") < 20),
        "doc_id", "text", chunkTokens = 20, overlap = 5)),

    // ── window: greedy sequence packing into token-budget bins ────────────
    "w6_seq_pack" -> ((s, dir) =>
      ops.TextAnalysis.packSequences(t(s, dir, "documents"),
        "doc_id", "text", "source", budgetTokens = 256)),

    // ── layout: Morton (Z-order) clustering key — the multi-dimensional
    // file/row-group skipping lever; pure shift/mask/add bit math, fully
    // inside whole-stage codegen and recomputed bit-for-bit by the oracle ──
    "z1_zorder_key" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        ops.Layout.zorderKey(Seq(pmod(col("user_id"), lit(1024)),
          pmod(col("event_id"), lit(1024))), bitsPerDim = 10).as("zkey"))),

    // ── sampling: stratified deterministic mixture (per-source rates) ─────
    "x3_hash_sample" -> ((s, dir) =>
      ops.Sampling.hashSampleBy(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultRate = 0.1, salt = "mix")
        .select(col("doc_id"), col("source"))),

    // ── sampling: train/val/test split assignment by id hash ──────────────
    "x4_split_assign" -> ((s, dir) =>
      ops.Sampling.assignSplit(t(s, dir, "documents"), "doc_id", salt = "split")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("source")).as("n_sources"))),

    // ── sampling: weighted draws without replacement (Efraimidis-Spirakis
    // hash keys) — quality-weighted per-source selection, deterministic ────
    "x10_weighted_sample" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("source"),
        ops.TextAnalysis.distinctRatio(col("text")).as("quality"))
      ops.Sampling.weightedSample(scored, "doc_id", col("quality"), k = 5,
        groupCols = Seq("source"), salt = "es")
    }),

    // ── DSIR made load-bearing: importance RESAMPLING — the weights drive
    //    the Efraimidis–Spirakis sampler (key ∝ w ⇒ draws without
    //    replacement ∝ importance), per-source, fully deterministic. The
    //    oracle re-derives weights AND keys AND ranks — the whole
    //    model→weight→selection chain under one hash gate ─────────────────
    "x13_dsir_resample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = ops.TextAnalysis.dsirWeights(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 1024)
      ops.Sampling.weightedSample(
        w.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "doc_id", exp(col("dsir_logw")), k = 3,
        groupCols = Seq("source"), salt = "dsir")
    }),

    // ── skew: salted two-phase aggregation (== plain aggregate) ───────────
    "w4_salted_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        // exact decimal sums: both engines agree regardless of combine order
        .withColumn("__v", col("value").cast("decimal(18,6)"))
      ops.Skew.saltedSumCount(ev, "event_type", "__v",
          saltExpr = pmod(col("user_id"), lit(16)), salts = 16)
        .select(col("event_type"), col("n_rows"),
          col("total").cast("double").as("total"))
    }),

    // ── codec: base64 body encode/decode round trip (§2.10) ───────────────
    "c1_base64" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          // Spark's base64 is MIME-wrapped (76-char CRLF lines); normalize
          // to the standard unwrapped form
          regexp_replace(base64(col("text").cast("binary")), "[\\r\\n]", "").as("b64"),
          (unbase64(base64(col("text").cast("binary"))).cast("string") === col("text"))
            .as("roundtrip_ok"))
    }),

    // ── multimodal: binary packing + metadata + frame fingerprint ─────────
    "mm_binary_meta" -> ((s, dir) => {
      val packed = ops.Multimodal.pack(t(s, dir, "documents"), "doc_id", "text", "text/plain")
      ops.Multimodal.frameSample(packed, frameBytes = 16)
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
          col("frame_fp"))
    }),

    // ── multimodal: every fixed-size frame, one row per frame (video) ─────
    "mm2_frame_sample" -> ((s, dir) => {
      val packed = ops.Multimodal.pack(t(s, dir, "documents"), "doc_id", "text", "video/raw")
      ops.Multimodal.frameSampleAll(packed, frameBytes = 16)
        .select(col("media_id"), col("frame_no"), col("frame_fp"))
    }),

    // ── multimodal: resize stub (stride byte-sample, metadata update) ─────
    "mm3_resize" -> ((s, dir) => {
      val packed = ops.Multimodal.pack(t(s, dir, "documents"), "doc_id", "text", "image/raw")
      ops.Multimodal.resize(packed, factor = 2)
        .select(col("media_id"), col("resized_meta.n_bytes").as("out_bytes"),
          md5(hex(col("resized"))).as("resized_fp"))
    }),

    // ── multimodal: batched decode kernel (exact-integer stub, verified) ──
    "mm4_features" -> ((s, dir) => {
      val packed = ops.Multimodal.pack(t(s, dir, "documents"), "doc_id", "text", "audio/raw")
        .filter(col("media_id") < 50)
      ops.Multimodal.extractFeatureSums(packed, dim = 8)
        .select(col("media_id"), posexplode(col("feature_sums")).as(Seq("j", "sum_b")))
        .select(col("media_id"), col("j").cast("long").as("j"),
          round(col("sum_b") / 255.0, 4).as("f"))
    }),

    // ── multimodal: REAL decode (javax.imageio PNG+BMP) → perceptual hash ─
    // the engine encodes a deterministic raster, DECODES it with the JDK's
    // real codecs, and hashes the decoded pixels; the oracle re-derives the
    // hashes from the SOURCE bytes without decoding — a hash match proves
    // the encode→decode legs lossless end to end
    "mm5_phash" -> ((s, dir) => {
      val packed = ops.Multimodal.pack(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", "image/gray")
      ops.Multimodal.perceptualHash(ops.Multimodal.synthImages(packed))
        .select(col("media_id"), col("img_w"), col("img_h"),
          col("dhash"), col("ahash"))
    }),

    // ── multimodal: image near-dup via 4×16-bit dHash pigeonhole banding ──
    // maxDist=3 makes banding recall TOTAL, so the oracle is the EXACT
    // all-pairs hamming join — the gate verifies the banding recall claim,
    // not just the arithmetic
    "mm6_image_neardup" -> ((s, dir) => {
      ops.Multimodal.phashNearDupPairs(mmPlantedHashes(s, dir), maxDist = 3)
    }),

    // ── multimodal: REAL audio decode (javax.sound.sampled WAV) → integer
    // frame energies; the oracle re-derives them from the source bytes
    // without decoding — a match proves the RIFF round-trip lossless ──────
    "mm8_audio_energy" -> ((s, dir) => {
      val packed = ops.Multimodal.pack(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", "audio/wav")
      ops.Multimodal.audioFeatures(ops.Multimodal.synthAudio(packed))
        .select(col("media_id"), col("n_samples"), col("sample_rate"),
          posexplode(col("energies")).as(Seq("f", "energy")))
        .select(col("media_id"), col("n_samples"), col("sample_rate"),
          col("f").cast("long").as("f"), col("energy"))
    }),

    // ── multimodal: image-dedup SURVIVORS — exact components over the
    // hamming-banded pair graph, gated by the d15 recursive-closure truth ─
    "mm7_image_survivors" -> ((s, dir) => {
      val hashed = mmPlantedHashes(s, dir).checkpointOwned()
      val pairs = ops.Multimodal.phashNearDupPairs(hashed, maxDist = 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      ops.Dedup.connectedComponents(
          hashed.select(col("media_id").as("node")), pairs)
        .select(col("node").as("media_id"), col("label").as("component"),
          (col("node") === col("label")).as("is_survivor"))
    }),

    // ── multimodal: REAL video container (RIFF/AVI, uncompressed DIB
    // frames — pure-JDK byte work both ways) → per-frame perceptual hashes.
    // The oracle re-derives every frame's hash from the SOURCE bytes
    // without touching the container, so a hash match proves BOTH codec
    // legs (AVI chunk walk + DIB de-pad/flip, BMP re-encode) lossless ─────
    "mm9_video_frames" -> ((s, dir) => {
      val packed = ops.Multimodal.pack(
        t(s, dir, "documents").filter(col("doc_id") < 120),
        "doc_id", "text", "video/avi")
      ops.Multimodal.perceptualHash(
          ops.Multimodal.videoFrames(ops.Multimodal.synthVideo(packed)))
        .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
          col("img_w"), col("img_h"), col("dhash"), col("ahash"))
    }),

    // ── multimodal: video near-dup by FRAME-HASH OVERLAP — frame-aligned
    // banded pairs rolled up per video pair (>= half the frames within
    // hamming 3). At maxDist 3 banding recall is total, so the oracle is
    // the EXACT per-frame hamming join + the same rollup ──────────────────
    "mm10_video_neardup" -> ((s, dir) => {
      val frames = mmPlantedVideoHashes(s, dir)
      val fid = frames.select(
        (col("media_id") * 10 + col("frame_no")).cast("long").as("media_id"),
        col("dh0"), col("dh1"), col("dh2"), col("dh3"))
      ops.Multimodal.phashNearDupPairs(fid, maxDist = 3)
        .filter(pmod(col("id_a"), lit(10)) === pmod(col("id_b"), lit(10)))
        .groupBy(floor(col("id_a") / 10).cast("long").as("vid_a"),
          floor(col("id_b") / 10).cast("long").as("vid_b"))
        .agg(count(lit(1)).as("matched_frames"))
        .filter(col("matched_frames") >= 2)
    }),

    // ── multimodal: REAL header sniff — magic-byte format detection plus
    // container geometry (PNG IHDR, BMP BITMAPINFOHEADER, RIFF/WAVE fmt +
    // data, RIFF/AVI avih), header-only. The media are REAL encoded
    // containers with PLANTED geometry, so the oracle knows every field by
    // construction — a match proves the parse pulls the true values out of
    // genuine codec output. Corrupt (truncated header) and unknown (text
    // bytes) blobs route as data, never as exceptions ─────────────────────
    "mm11_sniff_meta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def slab(lo: Int, hi: Int) = ops.Multimodal.pack(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", "raw")
      val img = ops.Multimodal.synthImages(slab(0, 100))
        .select(col("media_id"), col("img").as("blob"))
      val wav = ops.Multimodal.synthAudio(slab(100, 150))
        .select(col("media_id"), col("audio").as("blob"))
      val avi = ops.Multimodal.synthVideo(slab(150, 200))
        .select(col("media_id"), col("video").as("blob"))
      val corrupt = img.filter(col("media_id") < 10)
        .select((col("media_id") + 1000).as("media_id"),
          substring(col("blob"), 1, 14).as("blob"))
      val unknown = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 2000).as("media_id"),
          col("text").cast("binary").as("blob"))
      ops.Multimodal.sniffMeta(
          img.unionByName(wav).unionByName(avi)
            .unionByName(corrupt).unionByName(unknown), "blob")
        .select(col("media_id"), col("fmt"), col("width"), col("height"),
          col("n_frames"), col("n_channels"), col("sample_rate"),
          col("n_samples"))
    }),

    // ── multimodal: the INTAKE ROUTER — sniff verdict → decode-leg route,
    // over a mixed planted corpus spanning every verdict class: lossless
    // images (png/bmp), REAL lossy JPEG + REAL GIF (new codec legs), PCM
    // audio, µ-law audio (the overlay patches the synth's fmt tag to 7 —
    // same header geometry, a payload class the decode legs refuse), DIB
    // and MJPG video, truncated headers, and plain text. Routing is a pure
    // Column policy over the sniff fields — zero exchanges; the oracle is
    // the plant itself (the mm11 principle, extended to the DECISION) ─────
    "mm20_intake_route" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def slab(lo: Int, hi: Int) = ops.Multimodal.pack(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", "raw")
      def blob(df: DataFrame, c: String) =
        df.select(col("media_id"), col(c).as("blob"))
      val img = blob(ops.Multimodal.synthImages(slab(0, 100)), "img")
      val jpg = blob(ops.Multimodal.synthImages(slab(100, 140), format = "jpg"), "img")
      val gif = blob(ops.Multimodal.synthImages(slab(140, 180), format = "gif"), "img")
      val wav = blob(ops.Multimodal.synthAudio(slab(180, 230)), "audio")
      val ulaw = ops.Multimodal.synthAudio(slab(230, 260))
        .select(col("media_id"),
          overlay(col("audio"), lit(Array[Byte](7, 0)), lit(21)).as("blob"))
      val avi = blob(ops.Multimodal.synthVideo(slab(260, 300)), "video")
      val mjpg = blob(ops.Multimodal.synthVideo(slab(300, 330), codec = "MJPG"), "video")
      val corrupt = img.filter(col("media_id") < 10)
        .select((col("media_id") + 1000).as("media_id"),
          substring(col("blob"), 1, 14).as("blob"))
      val unknown = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 2000).as("media_id"),
          col("text").cast("binary").as("blob"))
      ops.Multimodal.routeIntake(
          img.unionByName(jpg).unionByName(gif).unionByName(wav)
            .unionByName(ulaw).unionByName(avi).unionByName(mjpg)
            .unionByName(corrupt).unionByName(unknown), "blob")
        .select(col("media_id"), col("fmt"), col("codec"), col("route"))
    }),

    // ── multimodal FLAGSHIP: the routed intake PIPELINE — one mixed blob
    // table (png/bmp, GIF, PCM audio, DIB video, µ-law) → route → each
    // modality's decode leg → ONE unified fingerprint table. Quarantined
    // rows surface as verdict rows (nothing drops silently); every
    // decoded hash is re-derived by the oracle from SOURCE bytes — the
    // GIF rows are the first oracle-exact hashes through the GIF codec
    // (lossless by the identity-palette construction). The routed frame
    // is checkpointed: four consumers, one synth+sniff execution ─────────
    "mm21_routed_fingerprints" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def slab(lo: Int, hi: Int) = ops.Multimodal.pack(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", "raw")
      def blob(df: DataFrame, c: String) =
        df.select(col("media_id"), col(c).as("blob"))
      val mixed = blob(ops.Multimodal.synthImages(slab(0, 80)), "img")
        .unionByName(blob(ops.Multimodal.synthImages(slab(80, 120), format = "gif"), "img"))
        .unionByName(blob(ops.Multimodal.synthAudio(slab(120, 160)), "audio"))
        .unionByName(blob(ops.Multimodal.synthVideo(slab(160, 200)), "video"))
        .unionByName(ops.Multimodal.synthAudio(slab(200, 220))
          .select(col("media_id"),
            overlay(col("audio"), lit(Array[Byte](7, 0)), lit(21)).as("blob")))
      val routed = ops.Multimodal.routeIntake(mixed, "blob")
        .select(col("media_id"), col("blob"), col("route")).checkpointOwned()
      def words(pre: String) = Seq(
        col(pre + "0").as("w0"), col(pre + "1").as("w1"),
        col(pre + "2").as("w2"), col(pre + "3").as("w3"))
      val imgs = ops.Multimodal.perceptualHash(
          routed.filter(col("route") === "image")
            .select(col("media_id"), col("blob").as("img")))
        .select(col("media_id") +: lit("image").as("modality") +:
          lit(0).as("item_no") +: words("dh"): _*)
      val auds = ops.Multimodal.audioFingerprint(
          routed.filter(col("route") === "audio")
            .select(col("media_id"), col("blob").as("audio")))
        .select(col("media_id") +: lit("audio").as("modality") +:
          lit(0).as("item_no") +: words("af"): _*)
      val vids = ops.Multimodal.perceptualHash(ops.Multimodal.videoFrames(
          routed.filter(col("route") === "video")
            .select(col("media_id"), col("blob").as("video"))))
        .select(col("media_id") +: lit("video").as("modality") +:
          col("frame_no").cast("int").as("item_no") +: words("dh"): _*)
      val held = routed.filter(!col("route").isin("image", "audio", "video"))
        .select(col("media_id"), col("route").as("modality"),
          lit(0).as("item_no"), lit(null).cast("int").as("w0"),
          lit(null).cast("int").as("w1"), lit(null).cast("int").as("w2"),
          lit(null).cast("int").as("w3"))
      imgs.unionByName(auds).unionByName(vids).unionByName(held)
    }),

    // ── multimodal: INCREMENTAL RE-ROUTE after a policy upgrade — the
    // routed corpus persists PARTITIONED BY route with each verdict's
    // policy version; a version bump re-sniffs ONLY the undecided
    // partitions (quarantine/corrupt/unknown — partition-pruned, the
    // decided blobs' bytes never re-read), decided verdicts keep the
    // version that made them. The census over (route, re_routed) is the
    // upgrade's audit trail: exactly the undecided slice carries the new
    // version, and the total re-routed count rides every row ───────────────
    "mm22_incremental_reroute" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def slab(lo: Int, hi: Int) = ops.Multimodal.pack(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", "raw")
      def blob(df: DataFrame, c: String) =
        df.select(col("media_id"), col(c).as("blob"))
      val mixed = blob(ops.Multimodal.synthImages(slab(0, 100)), "img")
        .unionByName(blob(ops.Multimodal.synthImages(slab(100, 140), format = "jpg"), "img"))
        .unionByName(blob(ops.Multimodal.synthImages(slab(140, 180), format = "gif"), "img"))
        .unionByName(blob(ops.Multimodal.synthAudio(slab(180, 230)), "audio"))
        .unionByName(ops.Multimodal.synthAudio(slab(230, 260))
          .select(col("media_id"),
            overlay(col("audio"), lit(Array[Byte](7, 0)), lit(21)).as("blob")))
        .unionByName(blob(ops.Multimodal.synthVideo(slab(260, 300)), "video"))
        .unionByName(blob(ops.Multimodal.synthVideo(slab(300, 330), codec = "MJPG"), "video"))
        .unionByName(blob(ops.Multimodal.synthImages(slab(0, 10)), "img")
          .select((col("media_id") + 1000).as("media_id"),
            substring(col("blob"), 1, 14).as("blob")))
        .unionByName(docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 2000).as("media_id"),
            col("text").cast("binary").as("blob")))
      val idx = tempLogDir("graftmm22")
      ops.Multimodal.persistRouted(
        ops.Multimodal.routeIntake(mixed, "blob"), idx)
      val n = ops.Multimodal.reRoutePersisted(s, idx, "blob",
        currentVersion = ops.Multimodal.RoutePolicyVersion + 1)
      s.read.parquet(idx)
        .groupBy(col("route"),
          (col("route_policy") === ops.Multimodal.RoutePolicyVersion + 1)
            .as("re_routed"))
        .agg(count(lit(1)).as("n_blobs"))
        .withColumn("n_rerouted_total", lit(n))
    }),

    // ── multimodal: the FRAMES-AS-VIDEO GIF leg lands + the policy-v3
    // upgrade arc in one region — a corpus routed under policy v2 (animated
    // GIFs in the promised `quarantine:gif-animated` re-route bucket)
    // persists partitioned by route; reRoutePersisted carries it across the
    // v3 widening (re-sniffing ONLY the quarantine slice — the AVI rows'
    // bytes never re-read, their verdicts keep policy 2); then BOTH video
    // containers decode through one videoFrames leg (AVI record walk; GIF
    // LZW + compositor) into identical per-frame hashes. The oracle is ONE
    // grid CTE over both slabs: gif and avi frames share the planted pixel
    // rule, so a hash match proves the GIF chain (ImageIO LZW encode →
    // parseGif composite → BMP re-encode) lossless end to end, and the
    // policy column pins which rows the upgrade re-decided ──────────────────
    "mm23_gif_video_upgrade" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def slab(lo: Int, hi: Int) = ops.Multimodal.pack(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", "raw")
      def blob(df: DataFrame) =
        df.select(col("media_id"), col("video").as("blob"))
      val gifs = blob(ops.Multimodal.synthAnimGif(slab(0, 40)))
      val avis = blob(ops.Multimodal.synthVideo(slab(40, 80)))
      val idx = tempLogDir("graftmm23")
      ops.Multimodal.persistRouted(ops.Multimodal.routeIntake(
        gifs.unionByName(avis), "blob", policyVersion = 2), idx)
      ops.Multimodal.reRoutePersisted(s, idx, "blob")
      ops.Multimodal.perceptualHash(ops.Multimodal.videoFrames(
          s.read.parquet(idx).filter(col("route") === "video")
            .select(col("media_id"), col("route_policy"), col("blob").as("video"))))
        .select(col("media_id"), col("route_policy"), col("frame_no"),
          col("dhash"), col("ahash"))
    }),

    // ── multimodal: persisted PERCEPTUAL-HASH index — the image twin of
    // d17 (third IndexLifecycle family). Full lifecycle (build + append +
    // streaming ingest + compact + pending ingest), then a screen whose
    // Hamming verify is INDEX-RESIDENT (stored rows carry their full hash;
    // the image corpus is never re-decoded). maxDist 3 makes banding
    // recall total, so the oracle is the EXACT hamming screen — the gate
    // verifies the whole lifecycle collapses to one re-derivation ────────
    "mm12_phash_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def img(df: DataFrame) = ops.Multimodal.synthImages(
          ops.Multimodal.pack(df, "doc_id", "text", "raw"))
        .select(col("media_id").as("img_id"), col("img"))
      val base = docs.filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      val idx = tempLogDir("graftmm12")
      ops.PhashIndex.build(img(base.filter(col("doc_id") < 100)),
        "img_id", "img", idx, sigBuckets = 8)
      ops.PhashIndex.append(s, idx,
        img(base.filter(col("doc_id") >= 100 && col("doc_id") < 140)),
        "img_id", "img")
      ops.PhashIndex.appendBatch(s, idx,
        img(base.filter(col("doc_id") >= 140 && col("doc_id") < 170)),
        "img_id", "img", batchId = 1)
      ops.PhashIndex.compactIngest(s, idx) // batch 1 folds into sigs/
      ops.PhashIndex.appendBatch(s, idx,
        img(base.filter(col("doc_id") >= 170)),
        "img_id", "img", batchId = 2) // stays in ingest: screen reads union
      val batch = base.filter(col("doc_id") < 60)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(base.filter(col("doc_id") >= 60 && col("doc_id") < 120)
          .select((col("doc_id") + 20000).as("doc_id"),
            translate(col("text"), "e", "f").as("text")))
        .unionByName(docs.filter(col("doc_id") >= 200 && col("doc_id") < 260)
          .select((col("doc_id") + 30000).as("doc_id"), col("text")))
      ops.PhashIndex.screen(s, idx, img(batch), "img_id", "img", maxDist = 3)
    }),

    // ── multimodal: the AUDIO tenant of the banded-hash index family,
    //    oracle-promoted — the mm12 lifecycle (build + append + streaming
    //    ingest + compact + pending ingest, then an index-resident screen)
    //    run entirely through the fingerprint-AGNOSTIC entry points on
    //    audioFingerprint words. Same collapse principle as d17/mm12: the
    //    whole persisted lifecycle must equal one exact re-derivation of
    //    every fingerprint from source bytes (banding recall total at
    //    hamming 3), so one hash gates the agnostic signer, the fold
    //    protocol, and the energy-contour codec together ──────────────────
    "mm24_audio_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val afCols = Seq("af0", "af1", "af2", "af3")
      def fp(df: DataFrame) = ops.Multimodal.audioFingerprint(
          ops.Multimodal.synthAudio(
            ops.Multimodal.pack(df, "doc_id", "text", "raw")))
        .select(col("media_id").as("aud_id") +: afCols.map(col): _*)
      val base = docs.filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      val idx = tempLogDir("graftmm24")
      ops.PhashIndex.buildHashed(fp(base.filter(col("doc_id") < 100)),
        "aud_id", afCols, idx, sigBuckets = 8)
      ops.PhashIndex.appendHashed(s, idx,
        fp(base.filter(col("doc_id") >= 100 && col("doc_id") < 140)),
        "aud_id", afCols)
      ops.PhashIndex.appendBatchHashed(s, idx,
        fp(base.filter(col("doc_id") >= 140 && col("doc_id") < 170)),
        "aud_id", afCols, batchId = 1)
      ops.PhashIndex.compactIngest(s, idx) // batch 1 folds into sigs/
      ops.PhashIndex.appendBatchHashed(s, idx,
        fp(base.filter(col("doc_id") >= 170)),
        "aud_id", afCols, batchId = 2) // pending: screen reads the union
      val batch = base.filter(col("doc_id") < 60)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(base.filter(col("doc_id") >= 60 && col("doc_id") < 120)
          .select((col("doc_id") + 20000).as("doc_id"),
            translate(col("text"), "e", "f").as("text")))
        .unionByName(docs.filter(col("doc_id") >= 200 && col("doc_id") < 260)
          .select((col("doc_id") + 30000).as("doc_id"), col("text")))
      ops.PhashIndex.screenHashed(s, idx, fp(batch), "aud_id", afCols,
        maxDist = 3)
    }),

    // ── multimodal: phash-index collision DENSITY by Hamming radius — the
    //    accidental-match dashboard (the "34% at 4M flat rasters" number,
    //    learned from the index BEFORE screening in anger): per d ≤ 4,
    //    P(hamming ≤ d | band collision) and the implied matches a
    //    corpus-drawn probe pulls. The cap exceeds every bucket at this
    //    fixture, so the sampled estimator must be EXACT — the oracle
    //    re-derives every hash from source bytes and measures ALL
    //    within-bucket pair incidences.
    "mm18_phash_density" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def img(df: DataFrame) = ops.Multimodal.synthImages(
          ops.Multimodal.pack(df, "doc_id", "text", "raw"))
        .select(col("media_id").as("img_id"), col("img"))
      val idx = tempLogDir("graftmm18")
      ops.PhashIndex.build(img(docs.filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text"))),
        "img_id", "img", idx, sigBuckets = 8)
      ops.PhashIndex.densityByDist(s, idx, perBucketCap = 256, maxDist = 4)
        .select(col("max_dist"), col("collision_pairs"), col("sampled_pairs"),
          round(col("p_match_given_collision"), 6)
            .as("p_match_given_collision"),
          round(col("implied_matches_per_probe"), 6)
            .as("implied_matches_per_probe"))
    }),

    // ── multimodal: DENSITY-GATED screen — the dashboard made
    //    load-bearing: the screening radius is LEARNED from the index
    //    (largest d ≤ 3 whose implied accidental-match rate fits the 0.5
    //    budget) and travels with the verdicts as max_dist; the oracle
    //    re-derives the radius decision from source bytes and screens at
    //    exactly it, so a wrong learned radius breaks the hash.
    "mm19_density_gated_screen" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def img(df: DataFrame) = ops.Multimodal.synthImages(
          ops.Multimodal.pack(df, "doc_id", "text", "raw"))
        .select(col("media_id").as("img_id"), col("img"))
      val base = docs.filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      val idx = tempLogDir("graftmm19")
      ops.PhashIndex.build(img(base), "img_id", "img", idx, sigBuckets = 8)
      val batch = base.filter(col("doc_id") < 60)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(base.filter(col("doc_id") >= 60 && col("doc_id") < 120)
          .select((col("doc_id") + 20000).as("doc_id"),
            translate(col("text"), "e", "f").as("text")))
        .unionByName(docs.filter(col("doc_id") >= 200 && col("doc_id") < 260)
          .select((col("doc_id") + 30000).as("doc_id"), col("text")))
      ops.PhashIndex.screenAuto(s, idx, img(batch), "img_id", "img",
        maxImpliedPerProbe = 0.5, perBucketCap = 256)
    }),

    // ── multimodal: CROSS-MODAL contamination — video frames screened
    // against the persisted image index (frame f=0's pixel rule equals the
    // image rule, so an image leaked into a video is a frame-hash match:
    // the training-data "image appears in video corpus" audit). Rollup per
    // video: matched frame count + earliest matching image ────────────────
    "mm13_cross_modal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def img(df: DataFrame) = ops.Multimodal.synthImages(
          ops.Multimodal.pack(df, "doc_id", "text", "raw"))
        .select(col("media_id").as("img_id"), col("img"))
      val idx = tempLogDir("graftmm13")
      ops.PhashIndex.build(
        img(docs.filter(col("doc_id") < 150).select(col("doc_id"), col("text"))),
        "img_id", "img", idx, sigBuckets = 8)
      val vsrc = docs.filter(col("doc_id") < 60)
          .select((col("doc_id") + 50000).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 60000).as("doc_id"),
            translate(col("text"), "e", "f").as("text")))
        .unionByName(docs.filter(col("doc_id") >= 200 && col("doc_id") < 240)
          .select((col("doc_id") + 70000).as("doc_id"), col("text")))
      val frames = ops.Multimodal.videoFrames(ops.Multimodal.synthVideo(
          ops.Multimodal.pack(vsrc, "doc_id", "text", "raw")))
        .select((col("media_id") * 10 + col("frame_no")).cast("long").as("fid"),
          col("img"))
      ops.PhashIndex.candidates(s, idx, frames, "fid", "img", maxDist = 3)
        .groupBy(floor(col("b_id") / 10).cast("long").as("video_id"))
        .agg(countDistinct(pmod(col("b_id"), lit(10))).as("n_matched_frames"),
          min(col("c_id")).as("first_image"))
    }),

    // ── multimodal: JOINT text+image dedup — one component graph over the
    // UNION of verified text near-dup pairs (d6's machinery) and image
    // hamming pairs (mm6's): a document duplicated in EITHER modality
    // collapses (same text re-rendered, same image re-captioned — the
    // web-scrape dup classes a single-modality pass misses). Exact
    // components; the oracle re-derives both pair sets and the closure ───
    "mm14_joint_dedup" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val slice = base
        .unionByName(base.select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionByName(base.select((col("doc_id") + 20000).as("doc_id"),
          translate(col("text"), "e", "f").as("text")))
        .unionByName(base.select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"), lit(" appended alpha beta gamma tokens")).as("text")))
        .checkpointOwned() // consumed 3×: text sets, image hashes, nodes
      val sets = ops.Dedup.shingleSets(slice, "doc_id", "text").checkpointOwned()
      val textPairs = ops.Dedup.jaccardVerifyFromSets(sets,
          ops.Dedup.lshCandidatePairsFromSets(sets), threshold = 0.2)
        .select(col("doc_a"), col("doc_b"))
      val imgPairs = ops.Multimodal.phashNearDupPairs(
          ops.Multimodal.perceptualHash(ops.Multimodal.synthImages(
            ops.Multimodal.pack(slice, "doc_id", "text", "raw"))), maxDist = 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      ops.Dedup.connectedComponents(slice.select(col("doc_id").as("node")),
          textPairs.unionByName(imgPairs).distinct())
        .select(col("node").as("doc_id"), col("label").as("component"),
          (col("node") === col("label")).as("is_survivor"))
    }),

    // ── multimodal: AUDIO near-dup via the 64-bit energy-contour
    // fingerprint — near-dup now spans all three modalities through ONE
    // banded pair machine (text simhash, image/video dHash, audio contour).
    // maxDist 3 keeps banding recall total, so the oracle is the EXACT
    // hamming join over fingerprints re-derived from SOURCE bytes — the
    // match proves the WAV decode + contour arithmetic end to end ─────────
    "mm15_audio_fingerprint" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val planted = base
        .unionByName(base.select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionByName(base.select((col("doc_id") + 20000).as("doc_id"),
          translate(col("text"), "e", "f").as("text")))
      val fp = ops.Multimodal.audioFingerprint(ops.Multimodal.synthAudio(
        ops.Multimodal.pack(planted, "doc_id", "text", "raw")))
      ops.Multimodal.phashNearDupPairs(
        fp.select(col("media_id"), col("af0").as("dh0"), col("af1").as("dh1"),
          col("af2").as("dh2"), col("af3").as("dh3")), maxDist = 3)
    }),

    // ── multimodal: REAL image resize (decode → integer box-downscale →
    // BMP re-encode) — at factor w/9 = h/8 the resize IS the perceptual
    // hash's canonical-grid resampling, so hashing the RESIZED image must
    // reproduce the original's hash exactly; the oracle re-derives that
    // hash from SOURCE bytes, so one equality gates decode, the scale
    // arithmetic, and the re-encode leg together ──────────────────────────
    "mm16_resize_real" -> ((s, dir) => {
      val packed = ops.Multimodal.pack(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", "raw")
      ops.Multimodal.perceptualHash(
          ops.Multimodal.resizeImages(ops.Multimodal.synthImages(packed),
            factor = 4),
          "resized_img")
        .select(col("media_id"), col("rs_w"), col("rs_h"),
          col("dhash"), col("ahash"))
    }),

    // ── multimodal: ALL-modality joint dedup — ONE component graph over
    // the union of text (LSH+Jaccard), image (dHash), audio (energy
    // contour) and video (frame-rollup) pair sets. The planted class spans
    // three-plus modalities BY CONSTRUCTION: +10000 copies are identical
    // (every modality links them), +20000 e→f translations perturb each
    // source byte by one (image/audio/video fingerprints survive, the
    // token-level text pairs do NOT), +30000 appended-token copies are
    // text near-dups whose rasters shift (text-only edge) — so assembling
    // the full dup class REQUIRES edges from at least three modality
    // machines, which is the web-scrape dup-class story mm14 started ─────
    "mm17_all_modal_dedup" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
      val slice = base
        .unionByName(base.select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionByName(base.select((col("doc_id") + 20000).as("doc_id"),
          translate(col("text"), "e", "f").as("text")))
        .unionByName(base.select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"), lit(" appended alpha beta gamma tokens")).as("text")))
        .checkpointOwned() // consumed 4×: text sets, packed media, nodes
      val sets = ops.Dedup.shingleSets(slice, "doc_id", "text").checkpointOwned()
      val textPairs = ops.Dedup.jaccardVerifyFromSets(sets,
          ops.Dedup.lshCandidatePairsFromSets(sets), threshold = 0.2)
        .select(col("doc_a"), col("doc_b"))
      // ONE pack feeds all three media synthesizers (decode-once shape)
      val packed = ops.Multimodal.pack(slice, "doc_id", "text", "raw")
        .checkpointOwned()
      val imgPairs = ops.Multimodal.phashNearDupPairs(
          ops.Multimodal.perceptualHash(ops.Multimodal.synthImages(packed)),
          maxDist = 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val audPairs = ops.Multimodal.phashNearDupPairs(
          ops.Multimodal.audioFingerprint(ops.Multimodal.synthAudio(packed))
            .select(col("media_id"), col("af0").as("dh0"), col("af1").as("dh1"),
              col("af2").as("dh2"), col("af3").as("dh3")), maxDist = 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val fid = ops.Multimodal.perceptualHash(ops.Multimodal.videoFrames(
          ops.Multimodal.synthVideo(packed)))
        .select((col("media_id") * 10 + col("frame_no")).cast("long").as("media_id"),
          col("dh0"), col("dh1"), col("dh2"), col("dh3"))
      val vidPairs = ops.Multimodal.phashNearDupPairs(fid, maxDist = 3)
        .filter(pmod(col("id_a"), lit(10)) === pmod(col("id_b"), lit(10)))
        .groupBy(floor(col("id_a") / 10).cast("long").as("doc_a"),
          floor(col("id_b") / 10).cast("long").as("doc_b"))
        .agg(count(lit(1)).as("mf")).filter(col("mf") >= 2)
        .select(col("doc_a"), col("doc_b"))
      ops.Dedup.connectedComponents(slice.select(col("doc_id").as("node")),
          textPairs.unionByName(imgPairs).unionByName(audPairs)
            .unionByName(vidPairs).distinct())
        .select(col("node").as("doc_id"), col("label").as("component"),
          (col("node") === col("label")).as("is_survivor"))
    }),

    // ── Set ops: intersect / except of filtered subsets (§2.7) ────────────
    "u2_active_minus_error" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val bigClickUsers = ev.filter(col("event_type") === "click" && col("value") > 250)
        .select("user_id")
      val signupUsers = ev.filter(col("event_type") === "signup").select("user_id")
      val bigErrorUsers = ev.filter(col("event_type") === "error" && col("value") > 300)
        .select("user_id")
      // signed-up heavy clickers with no heavy errors
      bigClickUsers.intersect(signupUsers).except(bigErrorUsers)
    }),

    // ── window: percentile rank of doc quality within its source (§2.5) ───
    "w5_quality_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          ops.TextAnalysis.distinctRatio(col("text")).as("quality"))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
    }),

    // ── Set op: union of filtered subsets (§2.7) ──────────────────────────
    "u1_union_kinds" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.filter(col("event_type") === "signup")
      val b = ev.filter(col("event_type") === "error" && col("value") > 100)
      a.unionByName(b)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    })
  )

  /** SQL twins of `Similarity.srpBucket`, generated from the SAME seeded ±1
    * sign matrix as the Spark plan. ±1 coefficients keep each projection a
    * plain left-to-right sum/difference of double elements — bit-identical
    * between Spark codegen and DuckDB, which decimal Gaussian literals would
    * not be.
    */
  private def srpProjSql(row: Array[Int]): String =
    row.zipWithIndex.map { case (s, j) =>
      val term = s"emb[${j + 1}]"
      if (j == 0) (if (s > 0) term else s"-$term")
      else (if (s > 0) s" + $term" else s" - $term")
    }.mkString("(", "", ")")

  private def srpBucketSql(tableSigns: Array[Array[Int]]): String = {
    val bits = tableSigns.length
    tableSigns.zipWithIndex.map { case (row, i) =>
      s"CASE WHEN ${srpProjSql(row)} >= 0 THEN ${1 << (bits - 1 - i)} ELSE 0 END"
    }.mkString("(", " + ", ")")
  }

  private def srpMasksSql(bits: Int, radius: Int): String =
    ops.Similarity.probeMasks(bits, radius).mkString("[", ", ", "]")

  /** Multi-table SRP banding pair CTE shared by the d5 and d7 oracles — the
    * SQL twin of `Similarity.cosinePairs` at its defaults (16-bit buckets ×
    * 8 tables, same seeded ±1 matrix): `pairs(id_a, id_b, sim)`.
    */
  /** The declarative IVF oracle (deterministic first-8 centroids, 1-cell
    * corpus assign, 2-cell query probe, exact cosine top-3) — shared by e3
    * (in-memory IVF) and e6 (persisted-index roundtrip): both must equal
    * this one-shot assignment exactly.
    */
  private val ivfOracleSql: String =
    """WITH cents AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
      |               FROM embeddings ORDER BY vec_id LIMIT 8),
      |corpus AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
      |cassign AS (SELECT vec_id, ce, cent_id AS cell,
      |                   row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crn
      |            FROM (SELECT vec_id, ce, cent_id,
      |                         round(list_cosine_similarity(ce, cent), 6) AS csim
      |                  FROM corpus CROSS JOIN cents)),
      |ccells AS (SELECT vec_id, ce, cell FROM cassign WHERE crn = 1),
      |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
      |      WHERE vec_id BETWEEN 100 AND 109),
      |qassign AS (SELECT qid, qe, cent_id AS cell,
      |                   row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cent_id) AS crn
      |            FROM (SELECT qid, qe, cent_id,
      |                         round(list_cosine_similarity(qe, cent), 6) AS csim
      |                  FROM q CROSS JOIN cents)),
      |qcells AS (SELECT qid, qe, cell FROM qassign WHERE crn <= 2),
      |c AS (SELECT qid, vec_id, round(list_cosine_similarity(qe, ce), 6) AS sim
      |      FROM ccells JOIN qcells USING (cell) WHERE vec_id != qid),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM c)
      |SELECT qid, vec_id, sim, rn FROM r WHERE rn <= 3""".stripMargin

  /** The shared dHash/aHash re-derivation CTE of the mm5/mm6 oracles: the
    * 36×32 cyclic raster from the source bytes (mm4's hex-byte pattern),
    * floor-mean 4×4 boxes → the 9×8 grid, gradient/brightness bits packed
    * MSB-first into four 16-bit words (`dh(d0..d3)` / `ah(a0..a3)`) —
    * integer-exact mirrors of [[graft.ops.Multimodal.perceptualHash]]'s
    * post-decode arithmetic.
    */
  /** The planted image-near-dup corpus of mm6/mm7, hashed: the testdata's
    * planted TEXT near-dups change lengths, which scrambles the cyclic
    * raster — so the image dups are planted here. Each base doc < 200 plus
    * an identical copy (hamming 0) and a pixel-noise copy (every 'e' byte
    * +1 shifts each 4×4 box mean by at most 1 → tiny gradient hamming);
    * the oracle's [[mmPlantedSrcSql]] is the same construction.
    */
  private def mmPlantedHashes(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val planted = base
      .unionByName(base.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(base.select((col("doc_id") + 20000).as("doc_id"),
        translate(col("text"), "e", "f").as("text")))
    ops.Multimodal.perceptualHash(ops.Multimodal.synthImages(
      ops.Multimodal.pack(planted, "doc_id", "text", "image/gray")))
  }

  private val mmPlantedSrcSql: String =
    """SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 200
      | UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 200
      | UNION ALL SELECT doc_id + 20000, translate(text, 'e', 'f')
      |           FROM documents WHERE doc_id < 200""".stripMargin

  /** mm10's planted corpus, as VIDEOS: same construction as
    * [[mmPlantedHashes]] (identical copy → hamming 0 on every frame;
    * translate-noise copy → tiny per-frame gradient hamming), hashed one
    * row per (video, frame) through the full container round-trip.
    */
  private def mmPlantedVideoHashes(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    val planted = base
      .unionByName(base.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(base.select((col("doc_id") + 20000).as("doc_id"),
        translate(col("text"), "e", "f").as("text")))
    ops.Multimodal.perceptualHash(ops.Multimodal.videoFrames(
      ops.Multimodal.synthVideo(
        ops.Multimodal.pack(planted, "doc_id", "text", "video/avi"))))
  }

  private val mmPlantedVideoSrcSql: String =
    """SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 120
      | UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 120
      | UNION ALL SELECT doc_id + 20000, translate(text, 'e', 'f')
      |           FROM documents WHERE doc_id < 120""".stripMargin

  private def mmPhashCte(srcSql: String): String =
    "WITH " + mmPhashCteBody(srcSql)

  private def mmPhashCteBody(srcSql: String): String =
    s"""src AS ($srcSql),
      |""".stripMargin + mmGridCteBody(
      """SELECT media_id, hex(text::BLOB) AS hx,
        |             octet_length(text::BLOB) AS n
        |      FROM src""".stripMargin,
      Seq("media_id"), "i % n")

  /** The video twin: same grid/hash derivation keyed by (media_id, f) —
    * frame f's raster pixel i is source byte ((f·1152 + i) mod n), the
    * [[graft.ops.Multimodal.synthVideo]] rule.
    */
  private def mmVideoCteBody(srcSql: String, nFrames: Int): String =
    s"""src AS ($srcSql),
      |""".stripMargin + mmGridCteBody(
      s"""SELECT media_id, unnest(range($nFrames)) AS f, hx, n
        |      FROM (SELECT media_id, hex(text::BLOB) AS hx,
        |                   octet_length(text::BLOB) AS n FROM src) hh""".stripMargin,
      Seq("media_id", "f"), "(f*1152 + i) % n")

  /** The keyed core shared by the image (keys = media_id) and video
    * (keys = media_id, f) hash re-derivations: `hSql` yields one row per
    * key tuple with `hx` (hex of the source bytes) and `n` (byte count);
    * raster pixel `i` is source byte `pix`; output CTEs `dh`/`ah` carry the
    * four 16-bit band words per key tuple.
    */
  /** `prefix` renames every CTE (`h` → `<prefix>h`, …) so two grid
    * derivations — e.g. mm17's image hashes beside its video frame hashes —
    * can live in ONE statement without name collisions.
    */
  private def mmGridCteBody(hSql: String, keys: Seq[String], pix: String,
      prefix: String = ""): String = {
    val k = keys.mkString(", ")
    val kg = (1 to keys.length).mkString(", ")
    def eq(l: String, r: String) = keys.map(c => s"$l.$c = $r.$c").mkString(" AND ")
    def ql(t: String) = keys.map(c => s"$t.$c").mkString(", ")
    def words(alias: Char): String = (0 to 3).map(j =>
      s"         (sum(CASE WHEN p // 16 = $j THEN bit << (15 - p % 16) ELSE 0 END))::INTEGER AS $alias$j")
      .mkString(",\n")
    val P = prefix
    s"""${P}h AS ($hSql),
      |${P}px AS (SELECT $k, unnest(range(1152)) AS i, hx, n FROM ${P}h),
      |${P}pv AS (SELECT $k, i,
      |         (strpos('0123456789ABCDEF', substring(hx, 2*($pix)+1, 1))-1)*16
      |       + (strpos('0123456789ABCDEF', substring(hx, 2*($pix)+2, 1))-1) AS v
      |       FROM ${P}px),
      |${P}grid AS (SELECT $k, (i // 36) // 4 AS gr, (i % 36) // 4 AS gc,
      |                (sum(v))::BIGINT // 16 AS g
      |         FROM ${P}pv GROUP BY ${(1 to keys.length + 2).mkString(", ")}),
      |${P}db AS (SELECT ${ql("a")}, a.gr*8 + a.gc AS p,
      |              CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
      |       FROM ${P}grid a JOIN ${P}grid b ON ${eq("a", "b")}
      |        AND a.gr = b.gr AND b.gc = a.gc + 1
      |       WHERE a.gc < 8),
      |${P}am AS (SELECT $k, (sum(g))::BIGINT // 64 AS m FROM ${P}grid
      |       WHERE gc < 8 GROUP BY $kg),
      |${P}ab AS (SELECT ${ql("g")}, g.gr*8 + g.gc AS p,
      |              CASE WHEN g.g > ${P}am.m THEN 1 ELSE 0 END AS bit
      |       FROM ${P}grid g JOIN ${P}am ON ${eq("g", s"${P}am")} WHERE g.gc < 8),
      |${P}dh AS (SELECT $k,
      |${words('d')}
      |       FROM ${P}db GROUP BY $kg),
      |${P}ah AS (SELECT $k,
      |${words('a')}
      |       FROM ${P}ab GROUP BY $kg)""".stripMargin
  }

  /** The 64-bit energy-contour audio-fingerprint re-derivation (mm15's
    * arithmetic) over `srcExpr` — any relation with `(media_id, text)` —
    * through CTE `af(media_id, a0..a3)`. CTE names are `au`-prefixed so
    * the chain composes beside the image/video grids in one statement.
    */
  private def audioFpCteOver(srcExpr: String): String =
    s"""auh AS (SELECT media_id, hex(text::BLOB) AS hx,
      |               octet_length(text::BLOB) AS n FROM $srcExpr),
      |aupx AS (SELECT media_id, unnest(range(2048)) AS i, hx, n FROM auh),
      |aupv AS (SELECT media_id, i,
      |         (strpos('0123456789ABCDEF', substring(hx, 2*(i % n)+1, 1))-1)*16
      |       + (strpos('0123456789ABCDEF', substring(hx, 2*(i % n)+2, 1))-1) AS v
      |       FROM aupx),
      |aue AS (SELECT media_id, i // 32 AS f, (sum(abs(v - 128)))::BIGINT AS e
      |      FROM aupv GROUP BY 1, 2),
      |aubits AS (SELECT a.media_id, a.f AS p,
      |                CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
      |         FROM aue a JOIN aue b ON a.media_id = b.media_id
      |          AND b.f = (a.f + 1) % 64),
      |af AS (SELECT media_id,
      |         (sum(CASE WHEN p // 16 = 0 THEN bit << (15 - p % 16) ELSE 0 END))::INTEGER AS a0,
      |         (sum(CASE WHEN p // 16 = 1 THEN bit << (15 - p % 16) ELSE 0 END))::INTEGER AS a1,
      |         (sum(CASE WHEN p // 16 = 2 THEN bit << (15 - p % 16) ELSE 0 END))::INTEGER AS a2,
      |         (sum(CASE WHEN p // 16 = 3 THEN bit << (15 - p % 16) ELSE 0 END))::INTEGER AS a3
      |       FROM aubits GROUP BY media_id)""".stripMargin

  private def embPairsCte(threshold: Double): String = {
    val tables = 8; val bits = 16
    val signs = ops.Similarity.srpSigns(ops.Similarity.SrpSeed, tables, bits, 64)
    val bucketCols = (0 until tables)
      .map(t => s"${srpBucketSql(signs(t))} AS b$t").mkString(",\n        ")
    val unionAll = (0 until tables)
      .map(t => s"SELECT vec_id, emb, $t AS t, b$t AS bucket FROM eb")
      .mkString("\n       UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |eb AS (SELECT vec_id, emb,
      |        $bucketCols
      |       FROM e),
      |c AS ($unionAll),
      |p0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |              round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
      |       FROM c a JOIN c b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |pairs AS (SELECT id_a, id_b, max(sim) AS sim FROM p0
      |          WHERE sim >= $threshold GROUP BY id_a, id_b)""".stripMargin
  }

  /** The MinHash-LSH → Jaccard-verify pair derivation (through
    * `pairs(doc_a, doc_b)`), shared by the d6/d8 label-propagation oracles
    * and d15's exact-components oracle — ONE SQL restatement of the
    * candidate machinery, three component policies on top.
    */
  /** The verified text near-dup pair CTE over an arbitrary `(doc_id,
    * text)` source — `documents` for the d-family oracles, the planted
    * multimodal slice for mm14's joint graph.
    */
  private def dedupPairsCteOver(src: String): String =
    s"""tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') ws FROM $src),
      |sh AS (SELECT doc_id, unnest(list_transform(range(len(ws)-2),
      |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
      |       FROM tok WHERE len(ws) >= 3),
      |xs AS (SELECT doc_id,
      |              (((md5_number(shingle) % 4294967296) + 4294967296) % 4294967296)
      |                % 2147483647 AS x
      |       FROM sh),
      |mh0 AS (SELECT doc_id,
      |               min((1299721*x + 104729) % 2147483647) AS sig0,
      |               min((50331653*x + 15485863) % 2147483647) AS sig1,
      |               min((2750159*x + 32452843) % 2147483647) AS sig2,
      |               min((198491317*x + 982451653) % 2147483647) AS sig3
      |        FROM xs GROUP BY doc_id),
      |mh AS (SELECT doc_id, 0 AS band, sig0 AS sig FROM mh0
      |       UNION ALL SELECT doc_id, 1, sig1 FROM mh0
      |       UNION ALL SELECT doc_id, 2, sig2 FROM mh0
      |       UNION ALL SELECT doc_id, 3, sig3 FROM mh0),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM mh a JOIN mh b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws)-2),
      |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
      |         FROM tok WHERE len(ws) >= 3),
      |pairs AS (SELECT doc_a, doc_b FROM cand
      |          JOIN sets sa ON sa.doc_id = doc_a JOIN sets sb ON sb.doc_id = doc_b
      |          WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
      |                / len(list_distinct(sa.sh || sb.sh)) >= 0.2)""".stripMargin

  private val dedupPairsCte: String = dedupPairsCteOver("documents")

  /** True-reachability closure over [[dedupPairsCte]]'s verified pair graph
    * (through `lab(node, component)`) — ONE statement of exact-component
    * truth, shared by the d15/d16 oracles (d16's incremental truth IS
    * d15's full recompute) and extended by x9's split formula.
    */
  private val dedupClosureCte: String =
    s"""WITH RECURSIVE $dedupPairsCte,
      |sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs
      |        UNION SELECT doc_b, doc_a FROM pairs),
      |reach(u, v) AS (SELECT u, v FROM sym
      |                UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
      |                       WHERE s.v <> r.u),
      |lab AS (SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u)""".stripMargin

  /** [[dedupClosureCte]] + the per-document back-join: the full exact-
    * components oracle, used verbatim for d15 and d16.
    */
  private val dedupClosureComponentsSql: String =
    s"""$dedupClosureCte
      |SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component,
      |       coalesce(l.component, d.doc_id) = d.doc_id AS is_survivor
      |FROM documents d LEFT JOIN lab l ON l.node = d.doc_id""".stripMargin

  /** The 3-round label-propagation chain over [[dedupPairsCte]] (through
    * `l3(node, label)`) — the d6/d8 component machinery.
    */
  private val dedupComponentsCte: String =
    s"""WITH $dedupPairsCte,
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |l0 AS (SELECT doc_id AS node, doc_id AS label FROM documents),
      |l1 AS (SELECT l0.node, least(l0.label, coalesce(min(n.label), l0.label)) AS label
      |       FROM l0 LEFT JOIN edges e ON e.src = l0.node LEFT JOIN l0 n ON n.node = e.dst
      |       GROUP BY l0.node, l0.label),
      |l2 AS (SELECT l1.node, least(l1.label, coalesce(min(n.label), l1.label)) AS label
      |       FROM l1 LEFT JOIN edges e ON e.src = l1.node LEFT JOIN l1 n ON n.node = e.dst
      |       GROUP BY l1.node, l1.label),
      |l3 AS (SELECT l2.node, least(l2.label, coalesce(min(n.label), l2.label)) AS label
      |       FROM l2 LEFT JOIN edges e ON e.src = l2.node LEFT JOIN l2 n ON n.node = e.dst
      |       GROUP BY l2.node, l2.label)""".stripMargin

  /** DuckDB-equivalent SQL per query (same table names = parquet basenames). */
  def oracleSql: Map[String, String] = Map(
    "s1_stream_scan" ->
      """SELECT event_id, user_id, event_type, value, ts
        |FROM events WHERE user_id = 7""".stripMargin,

    "s2_latest_per_key" ->
      """SELECT user_id, event_id AS last_event_id,
        |       event_type AS last_event_type, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "s3_range_scan" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id > 100 AND event_id <= 600
        |  AND event_type IN ('purchase','click')""".stripMargin,

    "s4_by_ids" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id IN (5, 17, 101, 233, 377)""".stripMargin,

    "s5_outbox_batch" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id IN (SELECT event_id FROM events ORDER BY event_id LIMIT 50)""".stripMargin,

    "f1_composite_filter" ->
      """SELECT event_id, user_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events
        |WHERE event_type IN ('purchase','signup')
        |  AND CAST(json_extract_string(props, '$.k') AS INT) >= 50
        |  AND user_id % 4 = 1""".stripMargin,

    "a4_projection_state" ->
      """SELECT user_id,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value
        |                      WHEN event_type = 'error' THEN -value
        |                      ELSE 0.0 END), 2) AS balance,
        |       count(*) AS n_events,
        |       max(event_id) AS last_event_id
        |FROM events GROUP BY user_id""".stripMargin,

    "a5_distinct_streams" ->
      "SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'",

    "a6_resume_bounds" ->
      """SELECT event_type, min(event_id) AS min_event_id,
        |       max(event_id) AS max_event_id, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "o1_lag_stats" ->
      """WITH f AS (
        |  SELECT ts,
        |         ((list_reduce(
        |            list_prepend(2166136261::BIGINT,
        |              list_transform(range(length('u' || user_id)),
        |                i -> ascii(substr('u' || user_id, (i+1)::INT, 1))::BIGINT)),
        |            (h, c) -> (xor(h, c) * 16777619) % 4294967296) & 2147483647)
        |          % 4 + 1)::BIGINT AS partition
        |  FROM events)
        |SELECT partition, count(*) AS n_total,
        |       sum(CASE WHEN epoch_ms(ts) > 1705276800000 THEN 1 ELSE 0 END)::BIGINT AS lag,
        |       max(epoch_ms(ts)) AS max_t_ms,
        |       1705276800000::BIGINT AS chk_t_ms
        |FROM f GROUP BY partition""".stripMargin,

    "w2_version_assign" ->
      """SELECT user_id, event_id,
        |       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS aggregate_version
        |FROM events""".stripMargin,

    "w3_keyset_page" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id > 500 ORDER BY event_id LIMIT 100""".stripMargin,

    "p3_split_counts" ->
      """SELECT user_id % 4 AS split, count(*) AS n,
        |       count(DISTINCT user_id) AS n_streams
        |FROM events GROUP BY user_id % 4""".stripMargin,

    "p1_fnv_hash" ->
      """WITH d AS (SELECT DISTINCT event_type FROM events),
        |f AS (SELECT event_type,
        |             list_reduce(
        |               list_prepend(2166136261::BIGINT,
        |                 list_transform(range(length(event_type)),
        |                   i -> ascii(substr(event_type, (i+1)::INT, 1))::BIGINT)),
        |               (h, c) -> (xor(h, c) * 16777619) % 4294967296) & 2147483647 AS h
        |      FROM d)
        |SELECT event_type, h, h % 4 + 1 AS partition FROM f""".stripMargin,

    "j2_broadcast_join" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS total_price,
        |       count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "a1_rehydrate_fold" ->
      """WITH r AS (
        |  SELECT user_id,
        |         coalesce(max(event_id) FILTER (WHERE event_type = 'error'), -1) AS rid,
        |         count(*) AS n_events
        |  FROM events GROUP BY user_id)
        |SELECT e.user_id,
        |       round(coalesce(sum(CASE WHEN e.event_type = 'purchase'
        |                               AND e.event_id > r.rid THEN e.value END), 0), 2) AS balance,
        |       any_value(r.n_events) AS n_events
        |FROM events e JOIN r ON e.user_id = r.user_id
        |GROUP BY e.user_id""".stripMargin,

    "m1_forget_scrub" ->
      """SELECT event_id, event_type,
        |       CASE WHEN event_type = 'signup' THEN '{}' ELSE props END AS props
        |FROM events""".stripMargin,

    "f7_codec_decode" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    "m3_upcast_read" ->
      """SELECT event_id,
        |       json_object('k2', CAST(json_extract_string(props, '$.k') AS INT) * 2)::VARCHAR AS props_v2
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    "f6_prefix_match" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |WHERE event_type LIKE 'p%' OR event_type = 'click'
        |GROUP BY event_type""".stripMargin,

    "f8_message_shaping" ->
      """SELECT event_id, CAST(user_id AS VARCHAR) AS key,
        |       json_object('event_id', event_id, 'event_type', event_type, 'value', value)::VARCHAR AS value
        |FROM events WHERE event_id < 100""".stripMargin,

    "j3_snapshot_stitch" ->
      """WITH snap AS (
        |  SELECT user_id,
        |         sum(CASE WHEN event_type = 'purchase' THEN value
        |                  WHEN event_type = 'error' THEN -value ELSE 0.0 END) AS snap_balance,
        |         max(event_id) AS snap_id
        |  FROM events WHERE event_id <= 5000 GROUP BY user_id),
        |tail AS (
        |  SELECT user_id,
        |         sum(CASE WHEN event_type = 'purchase' THEN value
        |                  WHEN event_type = 'error' THEN -value ELSE 0.0 END) AS tail_balance,
        |         max(event_id) AS last_id
        |  FROM events WHERE event_id > 5000 GROUP BY user_id)
        |SELECT coalesce(snap.user_id, tail.user_id) AS user_id,
        |       round(coalesce(snap_balance, 0.0) + coalesce(tail_balance, 0.0), 2) AS balance,
        |       coalesce(snap_id, -1) AS snap_id,
        |       coalesce(last_id, snap_id) AS last_id
        |FROM snap FULL OUTER JOIN tail ON snap.user_id = tail.user_id""".stripMargin,

    "t8_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "t8_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |      FROM g)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n,
        |       round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "t8_sliding_window" ->
      """WITH w AS (
        |  SELECT date_trunc('hour', ts) AS window_start, value FROM events
        |  UNION ALL
        |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, value FROM events)
        |SELECT window_start, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM w GROUP BY window_start""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "j6_interval_join" ->
      """WITH ep AS (SELECT user_id, event_id AS episode_id, ts AS s,
        |                   ts + INTERVAL 6 HOUR AS e
        |            FROM events WHERE event_type = 'error'),
        |j AS (SELECT ep.episode_id, ep.user_id, p.event_id, p.value
        |      FROM ep LEFT JOIN events p ON p.user_id = ep.user_id
        |        AND p.event_type = 'purchase' AND p.ts >= ep.s AND p.ts <= ep.e)
        |SELECT user_id, episode_id, count(event_id)::BIGINT AS n_purchases,
        |       round(coalesce(sum(value), 0), 2) AS purchase_value
        |FROM j GROUP BY 1, 2""".stripMargin,

    "q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |             FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "w7_bulk_roundtrip" ->
      """SELECT 'u' || user_id AS aggregate_id,
        |       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS aggregate_version,
        |       event_type AS kind,
        |       epoch_ms(ts) AS t_ms
        |FROM events""".stripMargin,

    "m9_rebucket_copy" ->
      """SELECT 'u' || user_id AS aggregate_id,
        |       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS aggregate_version,
        |       event_type AS kind,
        |       epoch_ms(ts) AS t_ms
        |FROM events""".stripMargin,

    "m8_compact_roundtrip" ->
      """SELECT 'u' || user_id AS aggregate_id,
        |       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS aggregate_version,
        |       event_type AS kind,
        |       epoch_ms(ts) AS t_ms
        |FROM events""".stripMargin,

    "m10_facade_write" ->
      """SELECT 'u' || user_id AS aggregate_id,
        |       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS aggregate_version,
        |       event_type AS kind,
        |       props AS body
        |FROM events""".stripMargin,

    "w8_sidecar_roundtrip" ->
      """SELECT 'u' || user_id AS aggregate_id,
        |       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS aggregate_version,
        |       event_type AS kind,
        |       epoch_ms(ts) AS t_ms
        |FROM events""".stripMargin,

    "m5_retention_stitch" ->
      """WITH v AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |           FROM events),
        |snap AS (SELECT user_id,
        |                sum(CASE WHEN event_type = 'purchase' THEN value
        |                         WHEN event_type = 'error' THEN -value ELSE 0.0 END) AS sb,
        |                max(rn) AS sv
        |         FROM v WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id),
        |tail AS (SELECT user_id,
        |                sum(CASE WHEN event_type = 'purchase' THEN value
        |                         WHEN event_type = 'error' THEN -value ELSE 0.0 END) AS tb,
        |                max(rn) AS tv
        |         FROM v WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id)
        |SELECT 'u' || user_id AS aggregate_id,
        |       round(coalesce(sb, 0) + coalesce(tb, 0), 2) AS balance,
        |       greatest(coalesce(sv, 0), coalesce(tv, 0)) AS head_version
        |FROM snap FULL OUTER JOIN tail USING (user_id)""".stripMargin,

    "m6_migrate_sidecar" ->
      """WITH v AS (SELECT 'u' || user_id AS aggregate_id, event_type, props,
        |                  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |                  count(*) OVER (PARTITION BY user_id) AS n,
        |                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |                    OVER (PARTITION BY user_id) AS hasp
        |           FROM events)
        |SELECT aggregate_id,
        |       (CASE WHEN hasp = 1 THEN n + 1 + rn ELSE rn END)::BIGINT AS aggregate_version,
        |       CASE WHEN hasp = 1 AND event_type = 'purchase'
        |            THEN 'purchase_v2' ELSE event_type END AS kind,
        |       props AS body
        |FROM v""".stripMargin,

    "m7_fence_pass" ->
      """WITH v AS (SELECT 'u' || user_id AS aggregate_id, event_type,
        |                  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |           FROM events)
        |SELECT aggregate_id, rn::BIGINT AS aggregate_version, event_type AS kind FROM v
        |UNION ALL
        |SELECT 'u' || user_id, (count(*) + 1)::BIGINT, 'NoOp'
        |FROM events GROUP BY user_id""".stripMargin,

    "a8_asof_state" ->
      """SELECT user_id,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value
        |                      WHEN event_type = 'error' THEN -value
        |                      ELSE 0.0 END), 2) AS balance_asof,
        |       max(event_id) AS version_asof,
        |       count(*) AS n_events_asof
        |FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY user_id""".stripMargin,

    "t1_token_count" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |       len(list_filter(regexp_split_to_array(text, '[^\p{L}\p{N}]+'),
        |                       t -> t != '')) AS n_bpeish,
        |       length(text) AS len_chars
        |FROM documents""".stripMargin,

    "t2_quality_score" ->
      """SELECT doc_id,
        |  round(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0
        |        / greatest(length(text), 1), 4) AS punct_ratio,
        |  round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |          t -> list_contains(['the','and','of','to','a','in','is','on','for','with'], t))) * 1.0
        |        / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1), 4) AS stopword_ratio,
        |  round(length(regexp_replace(trim(text), '\s+', '', 'g')) * 1.0
        |        / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 4) AS avg_token_len,
        |  round(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) * 1.0
        |        / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1), 4) AS distinct_ratio
        |FROM documents""".stripMargin,

    "t3_lang_id" ->
      """WITH langs(lang, words) AS (VALUES
        |  ('en', ['the','and','of','to','a','in','is','on','for','with']),
        |  ('de', ['der','die','das','und','ist','nicht','mit','ein','auf','für']),
        |  ('es', ['el','la','de','que','y','en','un','es','por','con']),
        |  ('fr', ['le','la','de','et','un','est','pour','dans','que','sur']),
        |  ('zh', ['的','是','在','了','和','有','我','不','人','这'])),
        |tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents),
        |sc AS (SELECT doc_id, lang,
        |              len(list_filter(ws, t -> list_contains(words, t))) AS score
        |       FROM tok CROSS JOIN langs),
        |r AS (SELECT doc_id, lang, score,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) rn
        |      FROM sc)
        |SELECT doc_id, lang AS predicted_lang, score AS lang_score FROM r WHERE rn = 1""".stripMargin,

    "t5_rare_word_ratio" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |              FROM documents),
        |dfreq AS (SELECT t, count(*) AS df FROM (SELECT DISTINCT doc_id, t FROM toks) GROUP BY t)
        |SELECT doc_id, round(avg(df), 4) AS avg_token_df,
        |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |FROM toks JOIN dfreq USING (t) GROUP BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |       min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    "d2_minhash_lsh" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
        |       FROM tok WHERE len(ws) >= 3),
        |xs AS (SELECT doc_id,
        |              (((md5_number(shingle) % 4294967296) + 4294967296) % 4294967296)
        |                % 2147483647 AS x
        |       FROM sh),
        |mh0 AS (SELECT doc_id,
        |               min((1299721*x + 104729) % 2147483647) AS sig0,
        |               min((50331653*x + 15485863) % 2147483647) AS sig1,
        |               min((2750159*x + 32452843) % 2147483647) AS sig2,
        |               min((198491317*x + 982451653) % 2147483647) AS sig3
        |        FROM xs GROUP BY doc_id),
        |mh AS (SELECT doc_id, 0 AS band, sig0 AS sig FROM mh0
        |       UNION ALL SELECT doc_id, 1, sig1 FROM mh0
        |       UNION ALL SELECT doc_id, 2, sig2 FROM mh0
        |       UNION ALL SELECT doc_id, 3, sig3 FROM mh0)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM mh a JOIN mh b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin,

    "d3_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) t FROM documents),
        |th AS (SELECT doc_id,
        |              (((md5_number(t) % 4294967296) + 4294967296) % 4294967296)::BIGINT AS h
        |       FROM tok),
        |bits AS (SELECT doc_id, b,
        |                sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) s
        |         FROM th CROSS JOIN (SELECT unnest(range(32)) AS b) GROUP BY doc_id, b)
        |SELECT doc_id,
        |       sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin,

    // 64-bit twin of Dedup.simhash64/simhashPairs. The 64-bit hash is
    // md5_number % 2^64 (HUGEINT — doesn't fit BIGINT), so bit b is tested
    // with (h // 2^b) % 2 on the non-negative value instead of shifts, the
    // packed fingerprint sums HUGEINT powers and converts to the signed
    // BIGINT by subtracting 2^64 above Long.Max (two's complement), and the
    // 16-bit band words come from the UNSIGNED packed value (identical bits).
    "d10_simhash_pairs" -> {
      val pow2 = (0 until 64)
        .map(b => s"($b, ${BigInt(1) << b}::HUGEINT)").mkString(", ")
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) t FROM documents),
        |th AS (SELECT doc_id, (((md5_number(t) % 18446744073709551616) + 18446744073709551616) % 18446744073709551616) AS h FROM tok),
        |pw(b, p2) AS (VALUES POW2LIST),
        |bits AS (SELECT doc_id, b, p2, sum(CASE WHEN (h // p2) % 2 = 1 THEN 1 ELSE -1 END) s
        |         FROM th CROSS JOIN pw GROUP BY doc_id, b, p2),
        |pk AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN p2 ELSE 0::HUGEINT END) AS p FROM bits GROUP BY doc_id),
        |sh AS (SELECT doc_id, p,
        |         (CASE WHEN p >= 9223372036854775808::HUGEINT
        |               THEN p - 18446744073709551616::HUGEINT ELSE p END)::BIGINT AS simhash
        |       FROM pk),
        |bands AS (SELECT doc_id, simhash, band, ((p // bp) % 65536)::BIGINT AS word
        |          FROM sh CROSS JOIN (VALUES (0, 1::HUGEINT), (1, 65536::HUGEINT),
        |               (2, 4294967296::HUGEINT), (3, 281474976710656::HUGEINT)) AS bd(band, bp)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                a.simhash AS ha, b.simhash AS hb
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.word = b.word
        |                                  AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, bit_count(xor(ha, hb))::BIGINT AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 2""".stripMargin
        .replace("POW2LIST", pow2)
    },

    "d4_ngram_jaccard" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
        |       FROM tok WHERE len(ws) >= 3),
        |xs AS (SELECT doc_id,
        |              (((md5_number(shingle) % 4294967296) + 4294967296) % 4294967296)
        |                % 2147483647 AS x
        |       FROM sh),
        |mh0 AS (SELECT doc_id,
        |               min((1299721*x + 104729) % 2147483647) AS sig0,
        |               min((50331653*x + 15485863) % 2147483647) AS sig1,
        |               min((2750159*x + 32452843) % 2147483647) AS sig2,
        |               min((198491317*x + 982451653) % 2147483647) AS sig3
        |        FROM xs GROUP BY doc_id),
        |mh AS (SELECT doc_id, 0 AS band, sig0 AS sig FROM mh0
        |       UNION ALL SELECT doc_id, 1, sig1 FROM mh0
        |       UNION ALL SELECT doc_id, 2, sig2 FROM mh0
        |       UNION ALL SELECT doc_id, 3, sig3 FROM mh0),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM mh a JOIN mh b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |         FROM tok WHERE len(ws) >= 3)
        |SELECT doc_a, doc_b,
        |       round(len(list_intersect(sa.sh, sb.sh)) * 1.0
        |             / len(list_distinct(sa.sh || sb.sh)), 4) AS jaccard
        |FROM cand JOIN sets sa ON sa.doc_id = doc_a JOIN sets sb ON sb.doc_id = doc_b
        |WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
        |      / len(list_distinct(sa.sh || sb.sh)) >= 0.2""".stripMargin,

    "d6_dedup_survivors" ->
      s"""$dedupComponentsCte
        |SELECT node AS doc_id, label AS component, node = label AS is_survivor FROM l3""".stripMargin,

    // d15 = TRUE components: recursive transitive closure over the same
    // verified pair graph, label = min reachable id. The closure is
    // quadratic in component size — fine for an oracle at sf0.01, which is
    // exactly why the engine side uses large-star/small-star instead.
    "d15_cc_clusters" -> dedupClosureComponentsSql,

    // d16 = the SAME truth as d15: incremental maintenance must be
    // indistinguishable from the full recursive-closure recompute
    "d16_incremental_components" -> dedupClosureComponentsSql,

    // x9 = d15's true components + x4's hash-split formula, keyed on the
    // component id: the leakage-unit contract stated as one SQL query.
    "x9_leakage_safe_split" ->
      s"""$dedupClosureCte,
        |comp AS (SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
        |         FROM documents d LEFT JOIN lab l ON l.node = d.doc_id),
        |b AS (SELECT doc_id, component,
        |        (((md5_number('split' || component::VARCHAR) % 4294967296) + 4294967296)
        |           % 4294967296) % 10000 AS bucket
        |      FROM comp)
        |SELECT doc_id, component,
        |       CASE WHEN bucket < 8000 THEN 'train'
        |            WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin,

    "d8_quality_survivors" ->
      s"""$dedupComponentsCte,
        |q AS (SELECT doc_id,
        |        round(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) * 1.0
        |              / greatest(len(regexp_split_to_array(lower(trim(text)), '\\s+')), 1), 4) AS quality
        |      FROM documents)
        |SELECT l3.node AS doc_id, l3.label AS component, q.quality,
        |       (row_number() OVER (PARTITION BY l3.label ORDER BY q.quality DESC, l3.node)) = 1 AS keep
        |FROM l3 JOIN q ON q.doc_id = l3.node""".stripMargin,

    "e1_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT qid, e.vec_id,
        |             round(list_cosine_similarity(qe, e.embedding::DOUBLE[]), 6) AS sim
        |      FROM q CROSS JOIN embeddings e WHERE e.vec_id != qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM c)
        |SELECT qid, vec_id, sim, rn FROM r WHERE rn <= 5""".stripMargin,

    // full-dim truth and every truncated candidate set re-derived with the
    // e1 parity rules (rounded sims, ties by id; DuckDB's 1-based list
    // slice == Spark's slice(vec, 1, d)); recall is ONE division over
    // exact integer counts
    "e20_matryoshka_recall" -> {
      def topkCte(name: String, sliceExpr: String => String): String =
        s"""$name AS (SELECT qid, vec_id FROM (
          |  SELECT qid, e.vec_id,
          |         row_number() OVER (PARTITION BY qid ORDER BY
          |           round(list_cosine_similarity(${sliceExpr("qe")},
          |             ${sliceExpr("e.embedding::DOUBLE[]")}), 6) DESC,
          |           e.vec_id) AS rn
          |  FROM q CROSS JOIN embeddings e WHERE e.vec_id != qid) WHERE rn <= 5)""".stripMargin
      val truncs = Seq(8, 16, 32).map(d =>
        topkCte(s"t$d", v => s"($v)[1:$d]")).mkString(",\n")
      val unions = Seq(8, 16, 32)
        .map(d => s"SELECT $d AS dims, qid, vec_id FROM t$d")
        .mkString("\n       UNION ALL ")
      s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        |           FROM embeddings WHERE vec_id < 20),
        |${topkCte("full_r", identity)},
        |$truncs,
        |tr AS ($unions)
        |SELECT dims,
        |       sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
        |       count(*)::BIGINT AS n_candidates,
        |       round(sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
        |             / count(*), 6) AS recall
        |FROM tr LEFT JOIN full_r f ON f.qid = tr.qid AND f.vec_id = tr.vec_id
        |GROUP BY dims""".stripMargin
    },

    "e2_lsh_ann" -> {
      val signs = ops.Similarity.srpSigns(ops.Similarity.SrpSeed, 1, 8, 64)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |eb AS (SELECT vec_id, emb, ${srpBucketSql(signs(0))} AS bucket FROM e),
        |q AS (SELECT qid, qe, xor(bucket, m)::INT AS bucket
        |      FROM (SELECT vec_id AS qid, emb AS qe, bucket FROM eb WHERE vec_id < 20)
        |      CROSS JOIN unnest(${srpMasksSql(8, 1)}) AS mm(m)),
        |c AS (SELECT qid, eb.vec_id, round(list_cosine_similarity(qe, eb.emb), 6) AS sim
        |      FROM q JOIN eb USING (bucket) WHERE eb.vec_id != qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM c)
        |SELECT qid, vec_id, sim, rn FROM r WHERE rn <= 3""".stripMargin
    },

    // e9 = exact top-k: a full probe (nprobe = nlist) over the reclustered
    // index covers every cell, so clustering cannot change the answer
    "e9_recluster_fullprobe" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT qid, e.vec_id,
        |             round(list_cosine_similarity(qe, e.embedding::DOUBLE[]), 6) AS sim
        |      FROM q CROSS JOIN embeddings e WHERE e.vec_id != qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM c)
        |SELECT qid, vec_id, sim, rn FROM r WHERE rn <= 5""".stripMargin,

    "e16_pqk_ann" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
        |           WHERE vec_id BETWEEN 100 AND 109),
        |c AS (SELECT qid, e.vec_id,
        |             round(list_cosine_similarity(qe, e.embedding::DOUBLE[]), 6) AS sim
        |      FROM q CROSS JOIN embeddings e WHERE e.vec_id != qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM c)
        |SELECT qid, vec_id, sim, rn FROM r WHERE rn <= 3""".stripMargin,

    // e17: the exact-scan twin of the semantic screen — full probe +
    // exhaustive rerank makes the index's top-1 the exact cosine argmax
    "e17_semdedup_screen" ->
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        |           WHERE vec_id % 2 = 0),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
        |      WHERE vec_id % 2 = 1 AND vec_id < 200),
        |s AS (SELECT qid, c.vec_id,
        |             round(list_cosine_similarity(qe, c.emb), 6) AS sim
        |      FROM q CROSS JOIN c WHERE c.vec_id != qid),
        |r AS (SELECT qid, vec_id, sim,
        |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
        |      FROM s),
        |t AS (SELECT qid, vec_id, sim FROM r WHERE rn = 1 AND sim >= 0.3)
        |SELECT q.qid AS vec_id, t.vec_id IS NULL AS is_new,
        |       t.vec_id AS match_id, t.sim
        |FROM q LEFT JOIN t USING (qid)""".stripMargin,

    "e3_ivf_ann" -> ivfOracleSql,
    // e6 = the same declarative IVF semantics: the persisted-index roundtrip
    // (build on evens, append odds, load, probe) must be indistinguishable
    // from the one-shot assignment the oracle computes
    "e6_indexed_ann" -> ivfOracleSql,

    // e21 = e20's dims=16 row re-derived against the PERSISTED artifact:
    // a full-cell probe of the depth-16 index is exactly the truncated
    // exact top-k (every vector in exactly one cell, every cell probed),
    // so recall vs full-dim truth must equal the dashboard's promise
    "e21_mrl_indexed_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        |           FROM embeddings WHERE vec_id < 20),
        |full_r AS (SELECT qid, vec_id FROM (
        |  SELECT qid, e.vec_id,
        |         row_number() OVER (PARTITION BY qid ORDER BY
        |           round(list_cosine_similarity(qe, e.embedding::DOUBLE[]), 6) DESC,
        |           e.vec_id) AS rn
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id != qid) WHERE rn <= 5),
        |t16 AS (SELECT qid, vec_id FROM (
        |  SELECT qid, e.vec_id,
        |         row_number() OVER (PARTITION BY qid ORDER BY
        |           round(list_cosine_similarity((qe)[1:16],
        |             (e.embedding::DOUBLE[])[1:16]), 6) DESC,
        |           e.vec_id) AS rn
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id != qid) WHERE rn <= 5)
        |SELECT 16 AS depth,
        |       sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
        |       count(*)::BIGINT AS n_candidates,
        |       round(sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
        |             / count(*), 6) AS recall
        |FROM t16 LEFT JOIN full_r f ON f.qid = t16.qid AND f.vec_id = t16.vec_id""".stripMargin,

    // e22 = the ivf oracle with nprobe DERIVED, not given: cell census →
    // occupancy-descending prefix sums → largest nprobe whose worst-case
    // scanned rows fit half the corpus — then the probe at that width
    "e22_auto_nprobe_ann" ->
      """WITH cents AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
        |               FROM embeddings ORDER BY vec_id LIMIT 8),
        |corpus AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
        |cassign AS (SELECT vec_id, ce, cent_id AS cell,
        |                   row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crn
        |            FROM (SELECT vec_id, ce, cent_id,
        |                         round(list_cosine_similarity(ce, cent), 6) AS csim
        |                  FROM corpus CROSS JOIN cents)),
        |ccells AS (SELECT vec_id, ce, cell FROM cassign WHERE crn = 1),
        |cs AS (SELECT cell, count(*) AS m FROM ccells GROUP BY 1),
        |ps AS (SELECT m, row_number() OVER (ORDER BY m DESC, cell) AS r,
        |              sum(m) OVER (ORDER BY m DESC, cell
        |                           ROWS UNBOUNDED PRECEDING) AS pre
        |       FROM cs),
        |np AS (SELECT max(r)::INT AS np FROM ps
        |       WHERE pre <= (SELECT count(*) // 2 FROM embeddings)),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
        |      WHERE vec_id BETWEEN 100 AND 109),
        |qassign AS (SELECT qid, qe, cent_id AS cell,
        |                   row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cent_id) AS crn
        |            FROM (SELECT qid, qe, cent_id,
        |                         round(list_cosine_similarity(qe, cent), 6) AS csim
        |                  FROM q CROSS JOIN cents)),
        |qcells AS (SELECT qid, qe, cell FROM qassign
        |           WHERE crn <= (SELECT np FROM np)),
        |c AS (SELECT qid, vec_id, round(list_cosine_similarity(qe, ce), 6) AS sim
        |      FROM ccells JOIN qcells USING (cell) WHERE vec_id != qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM c)
        |SELECT qid, vec_id, sim, rn, (SELECT np FROM np) AS nprobe
        |FROM r WHERE rn <= 3""".stripMargin,

    "e7_semdedup" ->
      """WITH cents AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
        |               FROM embeddings ORDER BY vec_id LIMIT 8),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        |cassign AS (SELECT vec_id, ev, cent_id AS cell, csim,
        |                   row_number() OVER (PARTITION BY vec_id
        |                     ORDER BY csim DESC, cent_id) AS crn
        |            FROM (SELECT vec_id, ev, cent_id,
        |                         round(list_cosine_similarity(ev, cent), 6) AS csim
        |                  FROM e CROSS JOIN cents)),
        |cc AS (SELECT vec_id, ev, cell, csim FROM cassign WHERE crn = 1),
        |pairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |          FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |          WHERE round(list_cosine_similarity(a.ev, b.ev), 6) >= 0.4),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |l0 AS (SELECT vec_id AS node, vec_id AS label FROM embeddings),
        |l1 AS (SELECT l0.node, least(l0.label, coalesce(min(n.label), l0.label)) AS label
        |       FROM l0 LEFT JOIN edges e ON e.src = l0.node LEFT JOIN l0 n ON n.node = e.dst
        |       GROUP BY l0.node, l0.label),
        |l2 AS (SELECT l1.node, least(l1.label, coalesce(min(n.label), l1.label)) AS label
        |       FROM l1 LEFT JOIN edges e ON e.src = l1.node LEFT JOIN l1 n ON n.node = e.dst
        |       GROUP BY l1.node, l1.label),
        |l3 AS (SELECT l2.node, least(l2.label, coalesce(min(n.label), l2.label)) AS label
        |       FROM l2 LEFT JOIN edges e ON e.src = l2.node LEFT JOIN l2 n ON n.node = e.dst
        |       GROUP BY l2.node, l2.label),
        |rep AS (SELECT l3.node, l3.label, cc.cell, cc.csim,
        |          row_number() OVER (PARTITION BY l3.label
        |            ORDER BY cc.csim ASC, l3.node) AS rn
        |        FROM l3 JOIN cc ON cc.vec_id = l3.node)
        |SELECT node AS vec_id, cell, csim, label AS component,
        |       rn = 1 AS is_kept
        |FROM rep""".stripMargin,

    // e10: e7's deterministic-seed assignment CTE with the floor flag on
    // top — same centroids, same rounded cosine, same tie-break
    "e10_embedding_outliers" ->
      """WITH cents AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
        |               FROM embeddings ORDER BY vec_id LIMIT 8),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        |cassign AS (SELECT vec_id, cent_id AS cell, csim,
        |                   row_number() OVER (PARTITION BY vec_id
        |                     ORDER BY csim DESC, cent_id) AS crn
        |            FROM (SELECT vec_id, cent_id,
        |                         round(list_cosine_similarity(ev, cent), 6) AS csim
        |                  FROM e CROSS JOIN cents))
        |SELECT vec_id, cell, csim, csim < 0.1 AS is_outlier
        |FROM cassign WHERE crn = 1""".stripMargin,

    // e8: the oracle re-derives the SQ8 code (global symmetric scale from
    // per-dim bounds), requants both sides with the identical left-to-right
    // IEEE expression and ranks by the signed integer dot product — levels
    // and scores are bit-exact, no float-tolerance needed anywhere.
    "e8_sq_ann" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |idx AS (SELECT vec_id, v, unnest(generate_series(1, len(v))) AS i FROM e),
        |dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx FROM idx GROUP BY i),
        |b AS (SELECT max(greatest(abs(mn), abs(mx))) AS s FROM dims),
        |q8 AS (SELECT vec_id,
        |         list_transform(generate_series(1, len(v)), i ->
        |           CASE WHEN s = 0 THEN 0
        |                ELSE least(greatest(floor(v[i] * 127 / s + 0.5)::BIGINT, -127), 127)
        |           END) AS qv
        |       FROM e CROSS JOIN b),
        |p AS (SELECT q.vec_id AS qid, c.vec_id,
        |        list_sum(list_transform(generate_series(1, len(q.qv)),
        |          i -> q.qv[i] * c.qv[i]))::BIGINT AS qscore
        |      FROM (SELECT * FROM q8 WHERE vec_id < 5) q
        |      CROSS JOIN q8 c WHERE c.vec_id != q.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, vec_id) AS rn FROM p)
        |SELECT qid, vec_id, qscore, rn::BIGINT AS rn FROM r WHERE rn <= 5""".stripMargin,

    // e11: e8's bit-exact SQ8 levels composed with e6's declarative IVF
    // assignment — with the scale derived from the EVEN half only (the
    // build side), exactly the freeze contract the persisted index keeps:
    // appended odd vectors quantize (and clamp) against the build-time
    // scale. Candidates are the int-dot top rerank·k (= 12) per query over
    // the 2 probed cells; the final top-3 is the exact rounded cosine.
    "e11_ivfsq_ann" ->
      """WITH cents AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
        |               FROM embeddings ORDER BY vec_id LIMIT 8),
        |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |bidx AS (SELECT vec_id, v, unnest(generate_series(1, len(v))) AS i FROM e
        |         WHERE vec_id % 2 = 0),
        |dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx FROM bidx GROUP BY i),
        |b AS (SELECT max(greatest(abs(mn), abs(mx))) AS s FROM dims),
        |q8 AS (SELECT vec_id, v,
        |         list_transform(generate_series(1, len(v)), i ->
        |           CASE WHEN s = 0 THEN 0
        |                ELSE least(greatest(floor(v[i] * 127 / s + 0.5)::BIGINT, -127), 127)
        |           END) AS qv
        |       FROM e CROSS JOIN b),
        |cassign AS (SELECT vec_id, cent_id AS cell,
        |                   row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crn
        |            FROM (SELECT vec_id, cent_id,
        |                         round(list_cosine_similarity(v, cent), 6) AS csim
        |                  FROM e CROSS JOIN cents)),
        |ccells AS (SELECT c.vec_id, c.v AS ce, c.qv AS cq, a.cell
        |           FROM q8 c JOIN cassign a ON a.vec_id = c.vec_id AND a.crn = 1),
        |q AS (SELECT vec_id AS qid, v AS qe, qv AS qq FROM q8
        |      WHERE vec_id BETWEEN 100 AND 109),
        |qassign AS (SELECT qid, qe, qq, cent_id AS cell,
        |                   row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cent_id) AS crn
        |            FROM (SELECT qid, qe, qq, cent_id,
        |                         round(list_cosine_similarity(qe, cent), 6) AS csim
        |                  FROM q CROSS JOIN cents)),
        |qcells AS (SELECT qid, qe, qq, cell FROM qassign WHERE crn <= 2),
        |scored AS (SELECT qid, qe, c.vec_id, c.ce,
        |             list_sum(list_transform(generate_series(1, len(qq)),
        |               i -> qq[i] * c.cq[i]))::BIGINT AS qscore
        |           FROM qcells JOIN ccells c USING (cell) WHERE c.vec_id != qid),
        |cand AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, vec_id) AS crn
        |         FROM scored),
        |res AS (SELECT qid, vec_id, round(list_cosine_similarity(qe, ce), 6) AS sim
        |        FROM cand WHERE crn <= 12),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM res)
        |SELECT qid, vec_id, sim, rn::BIGINT AS rn FROM r WHERE rn <= 3""".stripMargin,

    // e15: e11's oracle over NORMALIZED vectors — norm via the same
    // left-to-right sum of squares, zero vectors pass through; the scale
    // comes from the normalized EVEN half, codes (corpus and query) from
    // normalized vectors, cell assignment from the normalized operands
    // (cosine is norm-invariant, but the rounding must see the engine's
    // exact inputs), and the final rescore pairs the RAW query with the
    // stored normalized corpus vector.
    "e15_ivfsq_norm" ->
      """WITH cents AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
        |               FROM embeddings ORDER BY vec_id LIMIT 8),
        |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |en AS (SELECT vec_id,
        |         CASE WHEN nrm = 0 THEN list_transform(v, x -> 0.0::DOUBLE)
        |              ELSE list_transform(v, x -> x / nrm) END AS v
        |       FROM (SELECT vec_id, v,
        |               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |             FROM e)),
        |bidx AS (SELECT vec_id, v, unnest(generate_series(1, len(v))) AS i FROM en
        |         WHERE vec_id % 2 = 0),
        |dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx FROM bidx GROUP BY i),
        |b AS (SELECT max(greatest(abs(mn), abs(mx))) AS s FROM dims),
        |q8 AS (SELECT vec_id, v,
        |         list_transform(generate_series(1, len(v)), i ->
        |           CASE WHEN s = 0 THEN 0
        |                ELSE least(greatest(floor(v[i] * 127 / s + 0.5)::BIGINT, -127), 127)
        |           END) AS qv
        |       FROM en CROSS JOIN b),
        |cassign AS (SELECT vec_id, cent_id AS cell,
        |                   row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crn
        |            FROM (SELECT vec_id, cent_id,
        |                         round(list_cosine_similarity(v, cent), 6) AS csim
        |                  FROM en CROSS JOIN cents)),
        |ccells AS (SELECT c.vec_id, c.v AS ce, c.qv AS cq, a.cell
        |           FROM q8 c JOIN cassign a ON a.vec_id = c.vec_id AND a.crn = 1),
        |q AS (SELECT vec_id AS qid, v AS qe, qv AS qq FROM q8
        |      WHERE vec_id BETWEEN 100 AND 109),
        |qassign AS (SELECT qid, qe, qq, cent_id AS cell,
        |                   row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cent_id) AS crn
        |            FROM (SELECT qid, qe, qq, cent_id,
        |                         round(list_cosine_similarity(qe, cent), 6) AS csim
        |                  FROM q CROSS JOIN cents)),
        |qcells AS (SELECT qid, qq, cell FROM qassign WHERE crn <= 2),
        |scored AS (SELECT qid, c.vec_id, c.ce,
        |             list_sum(list_transform(generate_series(1, len(qq)),
        |               i -> qq[i] * c.cq[i]))::BIGINT AS qscore
        |           FROM qcells JOIN ccells c USING (cell) WHERE c.vec_id != qid),
        |cand AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, vec_id) AS crn
        |         FROM scored),
        |res AS (SELECT cand.qid, cand.vec_id,
        |          round(list_cosine_similarity(raw.v, cand.ce), 6) AS sim
        |        FROM cand JOIN e raw ON raw.vec_id = cand.qid
        |        WHERE cand.crn <= 12),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM res)
        |SELECT qid, vec_id, sim, rn::BIGINT AS rn FROM r WHERE rn <= 3""".stripMargin,

    // e14: the oracle re-derives every vector's cell (argmax rounded cosine
    // to the shared first-8 centroids, ties to the lowest cent_id — the
    // frozen-centroid contract means build AND append rows assign the same
    // way) and the per-cell occupancy + rounded csim stats.
    "e14_index_health" ->
      """WITH cents AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
        |               FROM embeddings ORDER BY vec_id LIMIT 8),
        |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |assign AS (SELECT vec_id, cent_id AS cell, csim,
        |                  row_number() OVER (PARTITION BY vec_id
        |                    ORDER BY csim DESC, cent_id) AS crn
        |           FROM (SELECT e.vec_id, c.cent_id,
        |                        round(list_cosine_similarity(e.v, c.cent), 6) AS csim
        |                 FROM e CROSS JOIN cents c))
        |SELECT cell, count(*)::BIGINT AS n,
        |       round(avg(csim), 6) AS mean_csim,
        |       round(min(csim), 6) AS min_csim
        |FROM assign WHERE crn = 1 GROUP BY cell""".stripMargin,

    // e14's assignment summarized as same-cell pair mass — the nprobe=1
    // scan cost and the collapse indicator, from the exact integer census
    "e19_ivf_density" ->
      """WITH cents AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
        |               FROM embeddings ORDER BY vec_id LIMIT 8),
        |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |assign AS (SELECT vec_id, cent_id AS cell,
        |                  row_number() OVER (PARTITION BY vec_id
        |                    ORDER BY csim DESC, cent_id) AS crn
        |           FROM (SELECT e.vec_id, c.cent_id,
        |                        round(list_cosine_similarity(e.v, c.cent), 6) AS csim
        |                 FROM e CROSS JOIN cents c)),
        |b AS (SELECT cell, count(*)::BIGINT AS nc FROM assign WHERE crn = 1
        |      GROUP BY cell)
        |SELECT sum(nc)::BIGINT AS n, count(*)::BIGINT AS cells,
        |       (sum(nc*(nc-1)) // 2)::BIGINT AS collision_pairs,
        |       round(sum(nc*(nc-1))::DOUBLE
        |             / (sum(nc)::BIGINT * (sum(nc)::BIGINT - 1))::DOUBLE, 6)
        |         AS collision_prob,
        |       round(sum(nc*(nc-1))::DOUBLE / sum(nc)::DOUBLE, 6)
        |         AS exp_scanned_per_probe
        |FROM b""".stripMargin,

    // e13: e11's IVF structure with e12's PQ arithmetic — codebooks seeded
    // from the EVEN half only (the build side; the freeze contract under
    // test), coarse cells from the shared first-8 centroids, candidates the
    // ADC top rerank·k (= 12) per query over the 2 probed cells, final
    // top-3 by exact rounded cosine.
    "e13_ivfpq_ann" ->
      """WITH cents AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
        |               FROM embeddings ORDER BY vec_id LIMIT 8),
        |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |pcent AS (SELECT row_number() OVER (ORDER BY vec_id) AS c, v
        |          FROM (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0
        |                ORDER BY vec_id LIMIT 16)),
        |pdists AS (SELECT e.vec_id, s.s, pcent.c,
        |             round(list_sum(list_transform(generate_series(1, 8), i ->
        |               (e.v[(s.s-1)*8 + i] - pcent.v[(s.s-1)*8 + i]) *
        |               (e.v[(s.s-1)*8 + i] - pcent.v[(s.s-1)*8 + i]))), 6) AS d
        |           FROM e CROSS JOIN generate_series(1, 8) AS s(s) CROSS JOIN pcent),
        |codes AS (SELECT vec_id, s, c AS code FROM (
        |            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
        |            FROM pdists)
        |          WHERE rn = 1),
        |cassign AS (SELECT vec_id, cent_id AS cell,
        |                   row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crn
        |            FROM (SELECT vec_id, cent_id,
        |                         round(list_cosine_similarity(v, cent), 6) AS csim
        |                  FROM e CROSS JOIN cents)),
        |ccells AS (SELECT e.vec_id, e.v AS ce, a.cell
        |           FROM e JOIN cassign a ON a.vec_id = e.vec_id AND a.crn = 1),
        |q AS (SELECT vec_id AS qid, v AS qe FROM e WHERE vec_id BETWEEN 100 AND 109),
        |qassign AS (SELECT qid, qe, cent_id AS cell,
        |                   row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cent_id) AS crn
        |            FROM (SELECT qid, qe, cent_id,
        |                         round(list_cosine_similarity(qe, cent), 6) AS csim
        |                  FROM q CROSS JOIN cents)),
        |qcells AS (SELECT qid, cell FROM qassign WHERE crn <= 2),
        |qd AS (SELECT vec_id AS qid, s, c, d FROM pdists
        |       WHERE vec_id BETWEEN 100 AND 109),
        |pairs AS (SELECT qc.qid, cc.vec_id FROM ccells cc JOIN qcells qc USING (cell)
        |          WHERE cc.vec_id != qc.qid),
        |adc AS (SELECT p.qid, p.vec_id, round(sum(qd.d), 6) AS qdist
        |        FROM pairs p
        |        JOIN codes co ON co.vec_id = p.vec_id
        |        JOIN qd ON qd.qid = p.qid AND qd.s = co.s AND qd.c = co.code
        |        GROUP BY p.qid, p.vec_id),
        |cand AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY qdist, vec_id) AS crn
        |         FROM adc),
        |res AS (SELECT c.qid, c.vec_id,
        |          round(list_cosine_similarity(qv.v, cc.ce), 6) AS sim
        |        FROM cand c
        |        JOIN ccells cc ON cc.vec_id = c.vec_id
        |        JOIN e qv ON qv.vec_id = c.qid
        |        WHERE c.crn <= 12),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM res)
        |SELECT qid, vec_id, sim, rn::BIGINT AS rn FROM r WHERE rn <= 3""".stripMargin,

    // e12: the oracle re-derives the PQ codebooks (first-16 subvector seed,
    // centroid order = vec_id order), the per-(doc, subspace) argmin codes
    // (rounded squared-L2, ties to the lowest centroid), each query's
    // distance table, and the ADC rank — sums of table lookups, exactly the
    // engine's arithmetic with the same round(6) compare convention.
    "e12_pq_ann" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |cent AS (SELECT row_number() OVER (ORDER BY vec_id) AS c, v
        |         FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
        |dists AS (SELECT e.vec_id, s.s, cent.c,
        |            round(list_sum(list_transform(generate_series(1, 8), i ->
        |              (e.v[(s.s-1)*8 + i] - cent.v[(s.s-1)*8 + i]) *
        |              (e.v[(s.s-1)*8 + i] - cent.v[(s.s-1)*8 + i]))), 6) AS d
        |          FROM e CROSS JOIN generate_series(1, 8) AS s(s) CROSS JOIN cent),
        |codes AS (SELECT vec_id, s, c AS code FROM (
        |            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
        |            FROM dists)
        |          WHERE rn = 1),
        |qd AS (SELECT vec_id AS qid, s, c, d FROM dists WHERE vec_id < 8),
        |p AS (SELECT qd.qid, codes.vec_id, round(sum(qd.d), 6) AS qdist
        |      FROM codes JOIN qd ON qd.s = codes.s AND qd.c = codes.code
        |      WHERE codes.vec_id != qd.qid
        |      GROUP BY qd.qid, codes.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY qdist, vec_id) AS rn FROM p)
        |SELECT qid, vec_id, qdist, rn::BIGINT AS rn FROM r WHERE rn <= 5""".stripMargin,

    "t6_blocklist_scrub" ->
      """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('spark','customer','vector','window')))::BIGINT AS n_hits,
        |  md5(regexp_replace(lower(trim(text)),
        |      '\b(spark|customer|vector|window)\b', '[X]', 'g')) AS scrub_md5
        |FROM documents""".stripMargin,
    "t7_bigram_topk" ->
      """WITH tok AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents),
        |bg AS (SELECT unnest(list_transform(range(len(ws)-1),
        |                i -> ws[i+1] || ' ' || ws[i+2])) AS bigram
        |       FROM tok WHERE len(ws) >= 2)
        |SELECT bigram, count(*)::BIGINT AS cnt FROM bg GROUP BY bigram
        |ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,
    "d7_embedding_survivors" ->
      s"""${embPairsCte(0.15)},
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |l0 AS (SELECT vec_id AS node, vec_id AS label FROM embeddings),
        |l1 AS (SELECT l0.node, least(l0.label, coalesce(min(n.label), l0.label)) AS label
        |       FROM l0 LEFT JOIN edges e ON e.src = l0.node LEFT JOIN l0 n ON n.node = e.dst
        |       GROUP BY l0.node, l0.label),
        |l2 AS (SELECT l1.node, least(l1.label, coalesce(min(n.label), l1.label)) AS label
        |       FROM l1 LEFT JOIN edges e ON e.src = l1.node LEFT JOIN l1 n ON n.node = e.dst
        |       GROUP BY l1.node, l1.label),
        |l3 AS (SELECT l2.node, least(l2.label, coalesce(min(n.label), l2.label)) AS label
        |       FROM l2 LEFT JOIN edges e ON e.src = l2.node LEFT JOIN l2 n ON n.node = e.dst
        |       GROUP BY l2.node, l2.label)
        |SELECT node AS vec_id, label AS component, node = label AS is_survivor FROM l3""".stripMargin,
    "u2_active_minus_error" ->
      """SELECT user_id FROM events WHERE event_type = 'click' AND value > 250
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'signup'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 300""".stripMargin,
    "w5_quality_rank" ->
      """SELECT doc_id, source,
        |  round(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) * 1.0
        |        / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1), 4) AS quality,
        |  round(percent_rank() OVER (PARTITION BY source ORDER BY
        |    round(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) * 1.0
        |          / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1), 4), doc_id), 6)
        |    AS pct_rank
        |FROM documents""".stripMargin,
    "j4_asof_join" ->
      """WITH l AS (SELECT user_id AS k, ts, event_id,
        |                  NULL::BIGINT AS r_eid, NULL::DOUBLE AS r_val,
        |                  1 AS side, NULL::VARCHAR AS ordkey
        |           FROM events WHERE event_type = 'signup'),
        |r AS (SELECT user_id, ts, NULL, event_id, value, 0, event_id::VARCHAR
        |      FROM events WHERE event_type = 'error'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |c AS (SELECT *,
        |        last_value(r_eid IGNORE NULLS) OVER w AS a_eid,
        |        last_value(r_val IGNORE NULLS) OVER w AS a_val
        |      FROM u
        |      WINDOW w AS (PARTITION BY k ORDER BY ts, side, ordkey
        |                   ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, k AS user_id, ts, a_eid AS asof_event_id, a_val AS asof_value
        |FROM c WHERE side = 1""".stripMargin,
    "q14_promo_effect" ->
      """SELECT round(100.0 * (sum(CASE WHEN p_type = 'ECONOMY'
        |        THEN (l_extendedprice * (1 - l_discount))::DECIMAL(18,4)
        |        ELSE 0::DECIMAL(18,4) END))::DOUBLE
        |      / (sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)))::DOUBLE, 6)
        |      AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "j5_dim_rollup" ->
      """SELECT r_name, count(*)::BIGINT AS n_suppliers,
        |       round((avg((s_acctbal)::DECIMAL(18,4)))::DOUBLE, 4) AS avg_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |       (sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT (sum((l_extendedprice * l_discount)::DECIMAL(18,4)))::DOUBLE AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q19_disjunctive_pred" ->
      """SELECT (sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(18,4)))::DOUBLE AS revenue,
        |       count(*)::BIGINT AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin,
    "e4_ann_recall" -> {
      val signs = ops.Similarity.srpSigns(ops.Similarity.SrpSeed, 1, 8, 64)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |eb AS (SELECT vec_id, emb, ${srpBucketSql(signs(0))} AS bucket FROM e),
        |q AS (SELECT qid, qe, xor(bucket, m)::INT AS bucket
        |      FROM (SELECT vec_id AS qid, emb AS qe, bucket FROM eb WHERE vec_id < 20)
        |      CROSS JOIN unnest(${srpMasksSql(8, 1)}) AS mm(m)),
        |exc AS (SELECT qid, e.vec_id,
        |               round(list_cosine_similarity(qe, e.emb), 6) AS sim
        |        FROM (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 20)
        |        CROSS JOIN e WHERE e.vec_id != qid),
        |ex AS (SELECT qid, vec_id FROM
        |        (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM exc)
        |       WHERE rn <= 3),
        |apc AS (SELECT qid, eb.vec_id,
        |               round(list_cosine_similarity(qe, eb.emb), 6) AS sim
        |        FROM q JOIN eb USING (bucket) WHERE eb.vec_id != qid),
        |ap AS (SELECT qid, vec_id FROM
        |        (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM apc)
        |       WHERE rn <= 3)
        |SELECT ex.qid, count(*)::BIGINT AS n_exact,
        |       sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_overlap,
        |       round(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 3, 4) AS recall
        |FROM ex LEFT JOIN ap ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id
        |GROUP BY ex.qid""".stripMargin
    },
    "e5_multitable_recall" -> {
      val tables = 8
      val signs = ops.Similarity.srpSigns(ops.Similarity.SrpSeed, tables, 8, 64)
      val bucketCols = (0 until tables)
        .map(t => s"${srpBucketSql(signs(t))} AS b$t").mkString(",\n        ")
      val unionAll = (0 until tables)
        .map(t => s"SELECT vec_id, emb, $t AS t, b$t AS bucket FROM eb")
        .mkString("\n       UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |eb AS (SELECT vec_id, emb,
        |        $bucketCols
        |       FROM e),
        |c AS ($unionAll),
        |qp AS (SELECT qid, qe, t, xor(bucket, m)::INT AS bucket
        |       FROM (SELECT vec_id AS qid, emb AS qe, t, bucket FROM c WHERE vec_id < 20)
        |       CROSS JOIN unnest(${srpMasksSql(8, 1)}) AS mm(m)),
        |apc0 AS (SELECT qid, c.vec_id,
        |                round(list_cosine_similarity(qe, c.emb), 6) AS sim
        |         FROM qp JOIN c USING (t, bucket) WHERE c.vec_id != qid),
        |apc AS (SELECT qid, vec_id, max(sim) AS sim FROM apc0 GROUP BY qid, vec_id),
        |exc AS (SELECT qid, e.vec_id,
        |               round(list_cosine_similarity(qe, e.emb), 6) AS sim
        |        FROM (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 20)
        |        CROSS JOIN e WHERE e.vec_id != qid),
        |ex AS (SELECT qid, vec_id FROM
        |        (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM exc)
        |       WHERE rn <= 3),
        |ap AS (SELECT qid, vec_id FROM
        |        (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM apc)
        |       WHERE rn <= 3)
        |SELECT ex.qid, count(*)::BIGINT AS n_exact,
        |       sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_overlap,
        |       round(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 3, 4) AS recall
        |FROM ex LEFT JOIN ap ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id
        |GROUP BY ex.qid""".stripMargin
    },
    // x1: the sketch estimates themselves are engine-specific, so the gate
    // compares the exact-distinct twins plus the in-query error-bound
    // booleans — `true` here asserts the Spark sketch landed within its
    // advertised rsd, making accuracy itself oracle-checked.
    "x1_approx_distinct" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       count(DISTINCT event_id) AS exact_events,
        |       count(*) AS n,
        |       true AS users_within_bound,
        |       true AS events_within_bound
        |FROM events GROUP BY event_type""".stripMargin,

    // x11: the oracle recomputes the exact side; the mergeability and
    // error-bound claims arrive as literal-true booleans the engine must
    // reproduce (x1's sketch-gating discipline)
    "x11_sketch_merge" ->
      """SELECT count(DISTINCT user_id)::BIGINT AS exact_users,
        |       true AS merge_lossless,
        |       true AS merged_within_bound
        |FROM events""".stripMargin,
    "x7_approx_quantiles" ->
      """SELECT event_type, count(*) AS n,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       true AS p50_within_bound,
        |       true AS p90_within_bound
        |FROM events GROUP BY event_type""".stripMargin,

    "x2_quantiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type""".stripMargin,

    // the census re-derived column by column: token arrays by the t1/t2
    // split rule, quantiles by the x2 quantile_cont parity, the ratio as
    // ONE division over exact integer sums, PII by the t12 patterns
    "x12_data_card" ->
      """WITH w AS (SELECT source, lang, text, length(text) AS n,
        |  regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents)
        |SELECT source, lang,
        |  count(*)::BIGINT AS n_docs,
        |  sum(len(ws))::BIGINT AS n_tokens,
        |  sum(n)::BIGINT AS n_chars,
        |  round(quantile_cont(n, 0.5), 2) AS p50_chars,
        |  round(quantile_cont(n, 0.95), 2) AS p95_chars,
        |  round(sum(len(list_distinct(ws))) * 1.0
        |        / greatest(sum(len(ws)), 1), 6) AS distinct_token_ratio,
        |  sum(CASE WHEN
        |        len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |      + len(regexp_extract_all(text, '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b'))
        |      + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) > 0
        |      THEN 1 ELSE 0 END)::BIGINT AS pii_docs
        |FROM w GROUP BY source, lang""".stripMargin,
    "t11_repetition" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |         THEN list_transform(range(len(ws)-2), i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
        |         ELSE [] END AS sh FROM tok)
        |SELECT doc_id, len(sh)::BIGINT AS n_shingles,
        |       round(1.0 - len(list_distinct(sh)) * 1.0 / greatest(len(sh), 1), 4) AS rep_frac
        |FROM sh""".stripMargin,

    // t13: the oracle retrains the same add-0.1 bigram model (counts over
    // the whole corpus, context sums per first word, V = distinct
    // continuations) and re-derives every doc's mean negative log-likelihood;
    // self-scoring never hits the engine's unseen-bigram floor, so the inner
    // join here is exact parity with the engine's left-join + coalesce.
    "t13_lm_quality" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents),
        |db AS (SELECT doc_id, unnest(list_transform(range(len(ws)-1), i -> ws[i+1] || ' ' || ws[i+2])) AS bigram
        |       FROM tok WHERE len(ws) >= 2),
        |bc AS (SELECT bigram, count(*)::DOUBLE AS b FROM db GROUP BY bigram),
        |bcw AS (SELECT bigram, b, sum(b) OVER (PARTITION BY split_part(bigram, ' ', 1)) AS w FROM bc),
        |v AS (SELECT count(DISTINCT split_part(bigram, ' ', -1))::DOUBLE AS v FROM bc),
        |sc AS (SELECT doc_id, ln((bcw.b + 0.1) / (bcw.w + 0.1 * v.v)) AS lp
        |       FROM db JOIN bcw USING (bigram) CROSS JOIN v)
        |SELECT doc_id, round(-avg(lp), 6) AS lm_score, count(*)::BIGINT AS n_bigrams
        |FROM sc GROUP BY doc_id""".stripMargin,

    // x8: same tercile cutoffs via quantile_cont (x2 proved the
    // interpolation matches Spark's percentile bit-for-bit), same
    // (phase, source) running-sum packing as w6
    "x8_curriculum" ->
      """WITH q AS (SELECT doc_id, source,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT AS n_tok,
        |    round(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) * 1.0
        |          / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1), 4) AS quality
        |  FROM documents),
        |cut AS (SELECT quantile_cont(quality, 1.0/3) AS c1,
        |               quantile_cont(quality, 2.0/3) AS c2 FROM q),
        |p AS (SELECT doc_id, source, n_tok,
        |        CASE WHEN quality <= c1 THEN 2 WHEN quality <= c2 THEN 1
        |             ELSE 0 END::BIGINT AS phase
        |      FROM q CROSS JOIN cut)
        |SELECT doc_id, source, n_tok, phase,
        |  ((sum(n_tok) OVER (PARTITION BY phase, source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
        |   // 512)::BIGINT AS bin
        |FROM p""".stripMargin,

    "t16_script_mix" ->
      """WITH a AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 5 = 1 THEN ' 你好世界'
        |                 WHEN doc_id % 5 = 2 THEN ' привет мир'
        |                 ELSE '' END AS aug
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    len(regexp_extract_all(aug, '\p{Latin}'))::BIGINT AS n_latin,
        |    len(regexp_extract_all(aug, '\p{Han}'))::BIGINT AS n_han,
        |    len(regexp_extract_all(aug, '\p{Cyrillic}'))::BIGINT AS n_cyrillic,
        |    len(regexp_extract_all(aug, '[0-9]'))::BIGINT AS n_digit
        |  FROM a)
        |SELECT doc_id, n_latin, n_han, n_cyrillic, n_digit,
        |  CASE WHEN n_latin >= n_han AND n_latin >= n_cyrillic THEN 'latin'
        |       WHEN n_han >= n_cyrillic THEN 'han' ELSE 'cyrillic' END AS main_script,
        |  ((n_latin + n_han + n_cyrillic - greatest(n_latin, n_han, n_cyrillic)) * 10
        |     > (n_latin + n_han + n_cyrillic)) AS mixed
        |FROM c""".stripMargin,

    "t15_encoding_qc" ->
      """WITH a AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0 THEN chr(1) || chr(65533) || 'x'
        |                 ELSE '' END AS aug
        |  FROM documents)
        |SELECT doc_id, length(aug)::BIGINT AS n_chars,
        |  len(regexp_extract_all(aug, '\x{fffd}'))::BIGINT AS n_replacement,
        |  len(regexp_extract_all(aug, '[\x00-\x08\x0b\x0c\x0e-\x1f]'))::BIGINT AS n_control,
        |  (len(regexp_extract_all(aug, '\x{fffd}')) = 0
        |   AND len(regexp_extract_all(aug, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) * 1000
        |       <= length(aug)) AS clean
        |FROM a""".stripMargin,

    // t14: every rule re-derived as integer counts; the replace()-trick '...'
    // count matches Spark's because both engines scan non-overlapping
    // left-to-right. Thresholds are integer-ratio comparisons (sym*10 <= wc)
    // so pass is exact, never a float-rounding coin flip.
    "t14_gopher_rules" ->
      """WITH m AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |    string_split(text, chr(10)) AS lines,
        |    length(regexp_replace(trim(text), '\s+', '', 'g'))::BIGINT AS chars_no_ws,
        |    (length(text) - length(replace(text, '#', '')))::BIGINT AS hash_count,
        |    ((length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS ellipsis_count
        |  FROM documents),
        |c AS (SELECT doc_id, chars_no_ws, hash_count, ellipsis_count,
        |    len(toks)::BIGINT AS word_count,
        |    len(lines)::BIGINT AS n_lines,
        |    len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•‣◦]')))::BIGINT AS bullet_lines,
        |    len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))::BIGINT AS ellipsis_lines,
        |    len(list_filter(toks, tk -> regexp_matches(tk, '[a-z]')))::BIGINT AS alpha_words,
        |    (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END)::BIGINT AS stop_hits
        |  FROM m)
        |SELECT doc_id, word_count, chars_no_ws, hash_count, ellipsis_count,
        |  n_lines, bullet_lines, ellipsis_lines, alpha_words, stop_hits,
        |  (word_count BETWEEN 50 AND 100000
        |   AND chars_no_ws >= word_count * 3 AND chars_no_ws <= word_count * 10
        |   AND hash_count * 10 <= word_count AND ellipsis_count * 10 <= word_count
        |   AND bullet_lines * 10 <= n_lines * 9 AND ellipsis_lines * 10 <= n_lines * 3
        |   AND alpha_words * 10 >= word_count * 8 AND stop_hits >= 2) AS pass
        |FROM c""".stripMargin,

    // w9: the full pipeline re-derived in SQL — gopher-count gate, md5
    // fingerprint survivor election, the same md5_number split hash as x4,
    // per-source rollup. Every stage is integer/string-exact.
    "w9_pipeline_e2e" ->
      """WITH m AS (SELECT doc_id, source, text,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |    (length(text) - length(replace(text, '#', '')))::BIGINT AS hash_count,
        |    ((length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS ellipsis_count
        |  FROM documents),
        |f AS (SELECT doc_id, source, len(toks)::BIGINT AS n_tok,
        |        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |      FROM m
        |      WHERE len(toks) >= 30
        |        AND hash_count * 10 <= len(toks)
        |        AND ellipsis_count * 10 <= len(toks)
        |        AND len(list_filter(toks, tk -> regexp_matches(tk, '[a-z]'))) * 10 >= len(toks) * 8),
        |k AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM f),
        |s AS (SELECT doc_id, source, n_tok,
        |        (((md5_number('pipe' || doc_id::VARCHAR) % 4294967296) + 4294967296)
        |           % 4294967296) % 10000 AS bucket
        |      FROM k WHERE doc_id = keep_id)
        |SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
        |FROM s WHERE bucket < 8000 GROUP BY source""".stripMargin,

    "t10_chunk" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws
        |            FROM documents WHERE doc_id < 20),
        |c AS (SELECT doc_id, unnest(range(0, len(ws), 15)) AS start, ws FROM tok)
        |SELECT doc_id, (start // 15)::BIGINT AS chunk_no,
        |       array_to_string(ws[start+1 : start+20], ' ') AS chunk,
        |       least(20, len(ws) - start)::BIGINT AS n_tokens
        |FROM c""".stripMargin,

    "w6_seq_pack" ->
      """WITH n AS (SELECT doc_id, source,
        |             len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
        |      FROM n)
        |SELECT doc_id, source, n_tokens, ((cum - n_tokens) // 256)::BIGINT AS bin
        |FROM c""".stripMargin,

    // z1: the same interleave in SQL — bit b of user_id%1024 at position
    // 2b, of event_id%1024 at 2b+1 (ids are non-negative, so % == pmod)
    "z1_zorder_key" -> {
      val terms = (0 until 10).flatMap { b =>
        Seq(s"(((user_id % 1024) // ${1L << b}) % 2) * ${1L << (2 * b)}",
          s"(((event_id % 1024) // ${1L << b}) % 2) * ${1L << (2 * b + 1)}")
      }.mkString(" + ")
      s"SELECT event_id, ($terms)::BIGINT AS zkey FROM events"
    },

    "t9_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |            FROM documents),
        |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.token,
        |             round(tf.tf * ((SELECT n FROM n)::DOUBLE / df.df), 6) AS score
        |      FROM tf JOIN df USING (token))
        |SELECT doc_id, token, score, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token)::BIGINT AS rn
        |  FROM s) t
        |WHERE rn <= 3 AND doc_id < 30""".stripMargin,

    "d9_contamination" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws)-2),
        |               i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |         FROM tok WHERE len(ws) >= 3),
        |cs AS (SELECT doc_id AS corpus_id, unnest(sh) AS shingle FROM sets),
        |ps AS (SELECT doc_id AS probe_id, len(sh) AS probe_n, unnest(sh) AS shingle
        |       FROM sets WHERE doc_id < 25)
        |SELECT corpus_id, probe_id, count(*)::BIGINT AS shared,
        |       round(count(*) * 1.0 / probe_n, 4) AS containment
        |FROM cs JOIN ps USING (shingle)
        |WHERE corpus_id != probe_id
        |GROUP BY corpus_id, probe_id, probe_n
        |HAVING count(*) * 1.0 / probe_n >= 0.15""".stripMargin,

    "d14_bloom_screen" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws)-2),
        |               i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |         FROM tok WHERE len(ws) >= 3),
        |cs AS (SELECT doc_id AS corpus_id, unnest(sh) AS shingle FROM sets),
        |ps AS (SELECT doc_id AS probe_id, len(sh) AS probe_n, unnest(sh) AS shingle
        |       FROM sets WHERE doc_id >= 25 AND doc_id < 50)
        |SELECT corpus_id, probe_id, count(*)::BIGINT AS shared,
        |       round(count(*) * 1.0 / probe_n, 4) AS containment
        |FROM cs JOIN ps USING (shingle)
        |WHERE corpus_id != probe_id
        |GROUP BY corpus_id, probe_id, probe_n
        |HAVING count(*) * 1.0 / probe_n >= 0.15""".stripMargin,

    "d11_span_dedup" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents),
        |sp AS (SELECT doc_id,
        |         unnest(range((len(ws)+9)//10)) AS span_pos,
        |         unnest(list_transform(range((len(ws)+9)//10),
        |           i -> array_to_string(ws[(i*10+1):((i+1)*10)], ' '))) AS span
        |       FROM tok),
        |fs AS (SELECT doc_id, span_pos, span,
        |         row_number() OVER (PARTITION BY span ORDER BY doc_id, span_pos) = 1
        |           AS first_seen
        |       FROM sp)
        |SELECT doc_id, count(*)::BIGINT AS n_spans,
        |       sum(CASE WHEN first_seen THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
        |       md5(string_agg(CASE WHEN first_seen THEN span END, ' '
        |                      ORDER BY span_pos)) AS kept_md5
        |FROM fs GROUP BY doc_id""".stripMargin,

    "d13_substring_dedup" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents),
        |w AS (SELECT doc_id,
        |        unnest(range(len(ws)-7)) AS s,
        |        unnest(list_transform(range(len(ws)-7),
        |          i -> array_to_string(ws[(i+1):(i+8)], ' '))) AS win
        |      FROM tok WHERE len(ws) >= 8),
        |fs AS (SELECT doc_id, s,
        |         count(*) OVER (PARTITION BY win) AS c,
        |         row_number() OVER (PARTITION BY win ORDER BY doc_id, s) AS rn
        |       FROM w),
        |dp AS (SELECT DISTINCT doc_id, p FROM
        |        (SELECT doc_id, s + unnest(range(8)) AS p FROM fs
        |         WHERE c > 1 AND rn > 1)),
        |tp AS (SELECT doc_id, unnest(range(len(ws))) AS p, unnest(ws) AS w FROM tok),
        |kept AS (SELECT tp.doc_id, tp.p, tp.w
        |         FROM tp LEFT JOIN dp ON dp.doc_id = tp.doc_id AND dp.p = tp.p
        |         WHERE dp.doc_id IS NULL)
        |SELECT t.doc_id, len(t.ws)::BIGINT AS n_tokens,
        |       (len(t.ws) - count(k.p))::BIGINT AS n_dropped,
        |       md5(string_agg(k.w, ' ' ORDER BY k.p)) AS kept_md5
        |FROM tok t LEFT JOIN kept k ON k.doc_id = t.doc_id
        |GROUP BY t.doc_id, len(t.ws)""".stripMargin,

    "d12_incremental" ->
      """WITH b AS (SELECT doc_id, text,
        |  (((md5_number('inc' || doc_id::VARCHAR) % 4294967296) + 4294967296)
        |     % 4294967296) % 10000 AS bucket FROM documents),
        |tok AS (SELECT doc_id, bucket < 2000 AS is_batch,
        |               regexp_split_to_array(lower(trim(text)), '\s+') ws FROM b),
        |sh AS (SELECT doc_id, is_batch, unnest(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
        |       FROM tok WHERE len(ws) >= 3),
        |xs AS (SELECT doc_id, is_batch,
        |              (((md5_number(shingle) % 4294967296) + 4294967296) % 4294967296)
        |                % 2147483647 AS x
        |       FROM sh),
        |mh0 AS (SELECT doc_id, is_batch,
        |               min((1299721*x + 104729) % 2147483647) AS sig0,
        |               min((50331653*x + 15485863) % 2147483647) AS sig1,
        |               min((2750159*x + 32452843) % 2147483647) AS sig2,
        |               min((198491317*x + 982451653) % 2147483647) AS sig3
        |        FROM xs GROUP BY doc_id, is_batch),
        |mh AS (SELECT doc_id, is_batch, 0 AS band, sig0 AS sig FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 1, sig1 FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 2, sig2 FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 3, sig3 FROM mh0),
        |cand AS (SELECT DISTINCT bm.doc_id AS b_id, cm.doc_id AS c_id
        |         FROM mh bm JOIN mh cm ON bm.band = cm.band AND bm.sig = cm.sig
        |         WHERE bm.is_batch AND NOT cm.is_batch),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |         FROM tok WHERE len(ws) >= 3),
        |ver AS (SELECT b_id, min(c_id) AS match_id
        |        FROM cand JOIN sets sb ON sb.doc_id = b_id
        |                  JOIN sets sc ON sc.doc_id = c_id
        |        WHERE round(len(list_intersect(sb.sh, sc.sh)) * 1.0
        |              / len(list_distinct(sb.sh || sc.sh)), 4) >= 0.2
        |        GROUP BY b_id)
        |SELECT t.doc_id, v.match_id IS NULL AS is_new, v.match_id
        |FROM (SELECT doc_id FROM b WHERE bucket < 2000) t
        |LEFT JOIN ver v ON v.b_id = t.doc_id""".stripMargin,

    // d12's re-derivation restricted to the SURVIVING corpus (bucket ≥
    // 5000): post-forget, the index must be indistinguishable from one
    // built on the survivors
    "d18_lsh_forget" ->
      """WITH b AS (SELECT doc_id, text,
        |  (((md5_number('inc' || doc_id::VARCHAR) % 4294967296) + 4294967296)
        |     % 4294967296) % 10000 AS bucket FROM documents),
        |tok AS (SELECT doc_id, bucket < 2000 AS is_batch,
        |               regexp_split_to_array(lower(trim(text)), '\s+') ws
        |        FROM b WHERE bucket < 2000 OR bucket >= 5000),
        |sh AS (SELECT doc_id, is_batch, unnest(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
        |       FROM tok WHERE len(ws) >= 3),
        |xs AS (SELECT doc_id, is_batch,
        |              (((md5_number(shingle) % 4294967296) + 4294967296) % 4294967296)
        |                % 2147483647 AS x
        |       FROM sh),
        |mh0 AS (SELECT doc_id, is_batch,
        |               min((1299721*x + 104729) % 2147483647) AS sig0,
        |               min((50331653*x + 15485863) % 2147483647) AS sig1,
        |               min((2750159*x + 32452843) % 2147483647) AS sig2,
        |               min((198491317*x + 982451653) % 2147483647) AS sig3
        |        FROM xs GROUP BY doc_id, is_batch),
        |mh AS (SELECT doc_id, is_batch, 0 AS band, sig0 AS sig FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 1, sig1 FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 2, sig2 FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 3, sig3 FROM mh0),
        |cand AS (SELECT DISTINCT bm.doc_id AS b_id, cm.doc_id AS c_id
        |         FROM mh bm JOIN mh cm ON bm.band = cm.band AND bm.sig = cm.sig
        |         WHERE bm.is_batch AND NOT cm.is_batch),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |         FROM tok WHERE len(ws) >= 3),
        |ver AS (SELECT b_id, min(c_id) AS match_id
        |        FROM cand JOIN sets sb ON sb.doc_id = b_id
        |                  JOIN sets sc ON sc.doc_id = c_id
        |        WHERE round(len(list_intersect(sb.sh, sc.sh)) * 1.0
        |              / len(list_distinct(sb.sh || sc.sh)), 4) >= 0.2
        |        GROUP BY b_id)
        |SELECT t.doc_id, v.match_id IS NULL AS is_new, v.match_id
        |FROM (SELECT doc_id FROM b WHERE bucket < 2000) t
        |LEFT JOIN ver v ON v.b_id = t.doc_id""".stripMargin,

    "d19_lsh_health" ->
      """WITH tok AS (SELECT doc_id,
        |               regexp_split_to_array(lower(trim(text)), '\s+') ws
        |             FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
        |       FROM tok WHERE len(ws) >= 3),
        |xs AS (SELECT doc_id,
        |              (((md5_number(shingle) % 4294967296) + 4294967296) % 4294967296)
        |                % 2147483647 AS x
        |       FROM sh),
        |mh0 AS (SELECT doc_id,
        |               min((1299721*x + 104729) % 2147483647) AS sig0,
        |               min((50331653*x + 15485863) % 2147483647) AS sig1,
        |               min((2750159*x + 32452843) % 2147483647) AS sig2,
        |               min((198491317*x + 982451653) % 2147483647) AS sig3
        |        FROM xs GROUP BY doc_id),
        |mh AS (SELECT doc_id, 0 AS band, sig0 AS sig FROM mh0
        |       UNION ALL SELECT doc_id, 1, sig1 FROM mh0
        |       UNION ALL SELECT doc_id, 2, sig2 FROM mh0
        |       UNION ALL SELECT doc_id, 3, sig3 FROM mh0),
        |b AS (SELECT band, sig::BIGINT AS sig, count(*)::BIGINT AS n
        |      FROM mh GROUP BY band, sig)
        |SELECT band, sig, n FROM b
        |ORDER BY n DESC, band, sig LIMIT 20""".stripMargin,

    // d19's census completed into the per-band collision-density dashboard:
    // the float ratios derive from the exact integer pair masses in both
    // engines (one division + one round each — no chained rounding)
    "d20_lsh_density" ->
      """WITH tok AS (SELECT doc_id,
        |               regexp_split_to_array(lower(trim(text)), '\s+') ws
        |             FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
        |       FROM tok WHERE len(ws) >= 3),
        |xs AS (SELECT doc_id,
        |              (((md5_number(shingle) % 4294967296) + 4294967296) % 4294967296)
        |                % 2147483647 AS x
        |       FROM sh),
        |mh0 AS (SELECT doc_id,
        |               min((1299721*x + 104729) % 2147483647) AS sig0,
        |               min((50331653*x + 15485863) % 2147483647) AS sig1,
        |               min((2750159*x + 32452843) % 2147483647) AS sig2,
        |               min((198491317*x + 982451653) % 2147483647) AS sig3
        |        FROM xs GROUP BY doc_id),
        |mh AS (SELECT doc_id, 0 AS band, sig0 AS sig FROM mh0
        |       UNION ALL SELECT doc_id, 1, sig1 FROM mh0
        |       UNION ALL SELECT doc_id, 2, sig2 FROM mh0
        |       UNION ALL SELECT doc_id, 3, sig3 FROM mh0),
        |b AS (SELECT band, sig, count(*)::BIGINT AS nb FROM mh GROUP BY band, sig)
        |SELECT band, sum(nb)::BIGINT AS n, count(*)::BIGINT AS buckets,
        |       (sum(nb*(nb-1)) // 2)::BIGINT AS collision_pairs,
        |       round(sum(nb*(nb-1))::DOUBLE
        |             / (sum(nb)::BIGINT * (sum(nb)::BIGINT - 1))::DOUBLE, 6)
        |         AS collision_prob,
        |       round(sum(nb*(nb-1))::DOUBLE / sum(nb)::DOUBLE, 6)
        |         AS exp_candidates_per_probe
        |FROM b GROUP BY band""".stripMargin,

    // the exact scan over the SURVIVORS (vec_id % 3 != 0): full probe +
    // exhaustive rerank over the forgotten index must reproduce it
    "e18_ivf_forget" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
        |           WHERE vec_id BETWEEN 100 AND 109),
        |c AS (SELECT qid, e.vec_id,
        |             round(list_cosine_similarity(qe, e.embedding::DOUBLE[]), 6) AS sim
        |      FROM q CROSS JOIN embeddings e
        |      WHERE e.vec_id != qid AND e.vec_id % 3 != 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM c)
        |SELECT qid, vec_id, sim, rn FROM r WHERE rn <= 3""".stripMargin,

    // identical to d12 BY DESIGN: the persisted index is semantically the
    // corpus signature table, so the whole build/append/ingest/compact
    // lifecycle must collapse to the same independent re-derivation
    "d17_lsh_index" ->
      """WITH b AS (SELECT doc_id, text,
        |  (((md5_number('inc' || doc_id::VARCHAR) % 4294967296) + 4294967296)
        |     % 4294967296) % 10000 AS bucket FROM documents),
        |tok AS (SELECT doc_id, bucket < 2000 AS is_batch,
        |               regexp_split_to_array(lower(trim(text)), '\s+') ws FROM b),
        |sh AS (SELECT doc_id, is_batch, unnest(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
        |       FROM tok WHERE len(ws) >= 3),
        |xs AS (SELECT doc_id, is_batch,
        |              (((md5_number(shingle) % 4294967296) + 4294967296) % 4294967296)
        |                % 2147483647 AS x
        |       FROM sh),
        |mh0 AS (SELECT doc_id, is_batch,
        |               min((1299721*x + 104729) % 2147483647) AS sig0,
        |               min((50331653*x + 15485863) % 2147483647) AS sig1,
        |               min((2750159*x + 32452843) % 2147483647) AS sig2,
        |               min((198491317*x + 982451653) % 2147483647) AS sig3
        |        FROM xs GROUP BY doc_id, is_batch),
        |mh AS (SELECT doc_id, is_batch, 0 AS band, sig0 AS sig FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 1, sig1 FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 2, sig2 FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 3, sig3 FROM mh0),
        |cand AS (SELECT DISTINCT bm.doc_id AS b_id, cm.doc_id AS c_id
        |         FROM mh bm JOIN mh cm ON bm.band = cm.band AND bm.sig = cm.sig
        |         WHERE bm.is_batch AND NOT cm.is_batch),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |         FROM tok WHERE len(ws) >= 3),
        |ver AS (SELECT b_id, min(c_id) AS match_id
        |        FROM cand JOIN sets sb ON sb.doc_id = b_id
        |                  JOIN sets sc ON sc.doc_id = c_id
        |        WHERE round(len(list_intersect(sb.sh, sc.sh)) * 1.0
        |              / len(list_distinct(sb.sh || sc.sh)), 4) >= 0.2
        |        GROUP BY b_id)
        |SELECT t.doc_id, v.match_id IS NULL AS is_new, v.match_id
        |FROM (SELECT doc_id FROM b WHERE bucket < 2000) t
        |LEFT JOIN ver v ON v.b_id = t.doc_id""".stripMargin,

    // the density gate re-derived end to end: same minhash machinery as
    // d17, plus the corpus-side bucket census, the size histogram, the
    // cumulative implied-candidate mass, the cap (largest size whose mass
    // fits 4.0 candidates/probe), the CAPPED candidate join, and the
    // exact-Jaccard verify — the 40-copy boilerplate class must fall
    // outside the cap (its probe stays is_new), the 3-copy classes inside
    "d21_auto_capped_screen" ->
      """WITH src(doc_id, text, is_batch) AS (
        |  SELECT doc_id, text, false FROM documents WHERE doc_id < 400
        |  UNION ALL SELECT doc_id + 10000,
        |    (SELECT text FROM documents WHERE doc_id = 0), false
        |  FROM documents WHERE doc_id < 40
        |  UNION ALL SELECT doc_id + 20000, text, false FROM documents
        |  WHERE doc_id % 10 = 0 AND doc_id BETWEEN 10 AND 100
        |  UNION ALL SELECT doc_id + 21000, text, false FROM documents
        |  WHERE doc_id % 10 = 0 AND doc_id BETWEEN 10 AND 100
        |  UNION ALL SELECT doc_id, text, true FROM documents
        |  WHERE doc_id >= 400 AND doc_id < 450
        |  UNION ALL SELECT 30000, (SELECT text FROM documents WHERE doc_id = 0), true
        |  UNION ALL SELECT 30010, (SELECT text FROM documents WHERE doc_id = 10), true),
        |tok AS (SELECT doc_id, is_batch,
        |               regexp_split_to_array(lower(trim(text)), '\s+') ws FROM src),
        |sh AS (SELECT doc_id, is_batch, unnest(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
        |       FROM tok WHERE len(ws) >= 3),
        |xs AS (SELECT doc_id, is_batch,
        |              (((md5_number(shingle) % 4294967296) + 4294967296) % 4294967296)
        |                % 2147483647 AS x
        |       FROM sh),
        |mh0 AS (SELECT doc_id, is_batch,
        |               min((1299721*x + 104729) % 2147483647) AS sig0,
        |               min((50331653*x + 15485863) % 2147483647) AS sig1,
        |               min((2750159*x + 32452843) % 2147483647) AS sig2,
        |               min((198491317*x + 982451653) % 2147483647) AS sig3
        |        FROM xs GROUP BY doc_id, is_batch),
        |mh AS (SELECT doc_id, is_batch, 0 AS band, sig0 AS sig FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 1, sig1 FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 2, sig2 FROM mh0
        |       UNION ALL SELECT doc_id, is_batch, 3, sig3 FROM mh0),
        |bc AS (SELECT band, sig, count(*) AS nb FROM mh
        |       WHERE NOT is_batch GROUP BY 1, 2),
        |hist AS (SELECT nb, count(*) AS k FROM bc WHERE nb >= 2 GROUP BY 1),
        |caps AS (SELECT nb, sum(nb*(nb-1)*k) OVER (ORDER BY nb) AS cum FROM hist),
        |cap AS (SELECT max(nb)::INT AS c FROM caps WHERE cum <= 4.0 *
        |        (SELECT count(*) FROM mh0 WHERE NOT is_batch)),
        |cand AS (SELECT DISTINCT bm.doc_id AS b_id, cm.doc_id AS c_id
        |         FROM mh bm JOIN mh cm ON bm.band = cm.band AND bm.sig = cm.sig
        |         JOIN bc ON bc.band = cm.band AND bc.sig = cm.sig
        |         WHERE bm.is_batch AND NOT cm.is_batch
        |           AND bc.nb <= (SELECT c FROM cap)),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws)-2),
        |                i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |         FROM tok WHERE len(ws) >= 3),
        |ver AS (SELECT b_id, min(c_id) AS match_id
        |        FROM cand JOIN sets sb ON sb.doc_id = b_id
        |                  JOIN sets sc ON sc.doc_id = c_id
        |        WHERE round(len(list_intersect(sb.sh, sc.sh)) * 1.0
        |              / len(list_distinct(sb.sh || sc.sh)), 4) >= 0.2
        |        GROUP BY b_id)
        |SELECT t.doc_id, v.match_id IS NULL AS is_new, v.match_id,
        |       (SELECT c FROM cap) AS bucket_cap
        |FROM (SELECT doc_id FROM src WHERE is_batch) t
        |LEFT JOIN ver v ON v.b_id = t.doc_id""".stripMargin,

    "t12_pii_redact" ->
      """WITH aug AS (SELECT doc_id,
        |  text || ' contact user' || doc_id::VARCHAR || '@mail.example.com'
        |       || CASE WHEN doc_id % 3 = 0
        |            THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
        |                 || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |            ELSE '' END
        |       || CASE WHEN doc_id % 5 = 0
        |            THEN ' from 10.0.' || (doc_id % 256)::VARCHAR
        |                 || '.' || ((doc_id % 254) + 1)::VARCHAR
        |            ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(t, '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b'))::BIGINT AS n_phones,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '[PHONE]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')) AS red_md5
        |FROM aug""".stripMargin,

    // the markup shell is planted identically on both sides; the oracle
    // then runs the SAME strip pipeline (tag → space, entity decode with
    // &amp; last, blank-run collapse, trim) through DuckDB's RE2 — the
    // patterns are deliberately engine-portable (the PII-pattern rule)
    "t17_markup_strip" ->
      """WITH raw AS (SELECT doc_id,
        |  '<html><body><h1>Doc ' || doc_id::VARCHAR || '</h1>' || chr(10) ||
        |  '<p class="body">' || text || '</p>' || chr(10) ||
        |  '<br/>&quot;tail&quot; &amp;lt; &#39;end&#39;&nbsp;</body></html>' AS r
        |  FROM documents),
        |c AS (SELECT doc_id, r,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(r, '</?[A-Za-z!?][^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \t\r\n]+', ' ', 'g')) AS clean
        |  FROM raw)
        |SELECT doc_id, length(r)::BIGINT AS raw_len,
        |       length(clean)::BIGINT AS clean_len,
        |       (1000 * (length(r) - length(clean)) // length(r))::BIGINT AS markup_pm,
        |       md5(clean) AS clean_md5
        |FROM c""".stripMargin,

    // BPE round 0 re-derived: word census → char-pair census, weighted by
    // word frequency. ASCII corpus, so DuckDB's codepoint substring equals
    // Spark's UTF-16 split
    "t18_bpe_pair_census" ->
      """WITH tok AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') ws
        |             FROM documents),
        |wd AS (SELECT unnest(ws) AS w FROM tok),
        |wc AS (SELECT w, count(*)::BIGINT AS cnt FROM wd
        |       WHERE length(w) > 0 GROUP BY w),
        |pc AS (SELECT substring(w, i+1, 1) AS lhs, substring(w, i+2, 1) AS rhs, cnt
        |       FROM (SELECT w, cnt, unnest(range(length(w)-1)) AS i
        |             FROM wc WHERE length(w) >= 2))
        |SELECT lhs, rhs, (sum(cnt))::BIGINT AS pair_count FROM pc GROUP BY 1, 2
        |ORDER BY pair_count DESC, lhs, rhs LIMIT 20""".stripMargin,

    // the oracle RE-LEARNS the merge (census argmax, same tiebreak) and
    // re-counts independently: one merge over char symbols = leftmost-
    // nonoverlapping replacement, which replace() implements exactly —
    // tokens after = length - occurrences
    "t19_bpe_token_count" ->
      """WITH tok AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') ws
        |             FROM documents),
        |wd AS (SELECT unnest(ws) AS w FROM tok),
        |wc AS (SELECT w, count(*)::BIGINT AS cnt FROM wd
        |       WHERE length(w) > 0 GROUP BY w),
        |pc AS (SELECT substring(w, i+1, 1) AS lhs, substring(w, i+2, 1) AS rhs, cnt
        |       FROM (SELECT w, cnt, unnest(range(length(w)-1)) AS i
        |             FROM wc WHERE length(w) >= 2)),
        |census AS (SELECT lhs, rhs, sum(cnt) AS pair_count FROM pc GROUP BY 1, 2),
        |top AS (SELECT lhs || rhs AS pair FROM census
        |        ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
        |dw AS (SELECT doc_id,
        |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |       FROM documents)
        |SELECT doc_id,
        |       (sum(length(w)
        |          - (length(w) - length(replace(w, (SELECT pair FROM top), ''))) // 2
        |        ))::BIGINT AS n_bpe_tokens
        |FROM dw WHERE length(w) > 0 GROUP BY doc_id""".stripMargin,

    // the tokenizer end to end in SQL: merge re-learned (t19's CTEs),
    // vocabulary rebuilt (distinct chars lexicographic + merge appended),
    // every word re-tokenized by replace-with-sentinel (replace() IS
    // leftmost-nonoverlapping — the merge semantics), ids re-joined
    "t22_bpe_encode_ids" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws
        |             FROM documents),
        |wd AS (SELECT unnest(ws) AS w FROM tok),
        |wc AS (SELECT w, count(*)::BIGINT AS cnt FROM wd
        |       WHERE length(w) > 0 GROUP BY w),
        |pc AS (SELECT substring(w, i+1, 1) AS lhs, substring(w, i+2, 1) AS rhs, cnt
        |       FROM (SELECT w, cnt, unnest(range(length(w)-1)) AS i
        |             FROM wc WHERE length(w) >= 2)),
        |census AS (SELECT lhs, rhs, sum(cnt) AS pair_count FROM pc GROUP BY 1, 2),
        |top AS (SELECT lhs || rhs AS pair FROM census
        |        ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
        |chars AS (SELECT DISTINCT substring(w, i+1, 1) AS token
        |          FROM (SELECT w, unnest(range(length(w))) AS i FROM wc)),
        |vocab AS (SELECT token, (row_number() OVER (ORDER BY token) - 1)::BIGINT AS token_id
        |          FROM chars
        |          UNION ALL
        |          SELECT pair AS token, (SELECT count(*) FROM chars)::BIGINT AS token_id
        |          FROM top),
        |dw AS (SELECT doc_id, i::BIGINT AS word_no, ws[i+1] AS w
        |       FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS i FROM tok)
        |       WHERE length(ws[i+1]) > 0),
        |et AS (SELECT doc_id, word_no,
        |         replace(w, (SELECT pair FROM top), chr(1)) AS tw FROM dw),
        |sub AS (SELECT doc_id, word_no, j::BIGINT AS sub_no,
        |          CASE WHEN substring(tw, j+1, 1) = chr(1)
        |               THEN (SELECT pair FROM top)
        |               ELSE substring(tw, j+1, 1) END AS token
        |        FROM (SELECT doc_id, word_no, tw, unnest(range(length(tw))) AS j
        |              FROM et))
        |SELECT doc_id, word_no, sub_no, token, token_id
        |FROM sub JOIN vocab USING (token)""".stripMargin,

    // t19's count re-derivation composed with w6's exclusive-running-sum
    // packing — the whole tokenizer→packer chain gated as one artifact
    "t23_bpe_pack" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws
        |             FROM documents),
        |wd AS (SELECT unnest(ws) AS w FROM tok),
        |wc AS (SELECT w, count(*)::BIGINT AS cnt FROM wd
        |       WHERE length(w) > 0 GROUP BY w),
        |pc AS (SELECT substring(w, i+1, 1) AS lhs, substring(w, i+2, 1) AS rhs, cnt
        |       FROM (SELECT w, cnt, unnest(range(length(w)-1)) AS i
        |             FROM wc WHERE length(w) >= 2)),
        |census AS (SELECT lhs, rhs, sum(cnt) AS pair_count FROM pc GROUP BY 1, 2),
        |top AS (SELECT lhs || rhs AS pair FROM census
        |        ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
        |dwords AS (SELECT doc_id,
        |             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |           FROM documents),
        |n AS (SELECT doc_id,
        |        (sum(length(w)
        |           - (length(w) - length(replace(w, (SELECT pair FROM top), ''))) // 2
        |         ))::BIGINT AS n_bpe_tokens
        |      FROM dwords WHERE length(w) > 0 GROUP BY doc_id),
        |c AS (SELECT n.doc_id, d.source, n.n_bpe_tokens,
        |        sum(n.n_bpe_tokens) OVER (PARTITION BY d.source ORDER BY n.doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
        |      FROM n JOIN documents d USING (doc_id))
        |SELECT doc_id, source, n_bpe_tokens,
        |       ((cum - n_bpe_tokens) // 256)::BIGINT AS bin
        |FROM c""".stripMargin,

    // the oracle retrains the whole NB model (shared-vocabulary census,
    // add-0.5 conditionals, doc-count prior) and re-scores every held-out
    // doc, floors included — LEFT JOIN + coalesce mirrors the engine's
    // unseen-word path exactly
    "t20_nb_quality" ->
      """WITH tok AS (SELECT doc_id, lang,
        |         regexp_split_to_array(lower(trim(text)), '\s+') ws
        |       FROM documents),
        |trw AS (SELECT (lang = 'en') AS pos, unnest(ws) AS w FROM tok
        |        WHERE doc_id % 4 <> 0),
        |wc AS (SELECT w, sum(CASE WHEN pos THEN 1 ELSE 0 END)::DOUBLE AS cp,
        |              sum(CASE WHEN pos THEN 0 ELSE 1 END)::DOUBLE AS cn
        |       FROM trw WHERE length(w) > 0 GROUP BY w),
        |tot AS (SELECT sum(cp) AS np, sum(cn) AS nn, count(*)::DOUBLE AS v FROM wc),
        |pri AS (SELECT ln(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE
        |             / sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::DOUBLE) AS prior
        |        FROM documents WHERE doc_id % 4 <> 0),
        |dw AS (SELECT doc_id, unnest(ws) AS w FROM tok WHERE doc_id % 4 = 0),
        |sc AS (SELECT doc_id,
        |         coalesce(ln((wc.cp + 0.5) / (tot.np + 0.5 * tot.v)),
        |                  ln(0.5 / (tot.np + 0.5 * tot.v)))
        |       - coalesce(ln((wc.cn + 0.5) / (tot.nn + 0.5 * tot.v)),
        |                  ln(0.5 / (tot.nn + 0.5 * tot.v))) AS l
        |       FROM dw LEFT JOIN wc ON dw.w = wc.w CROSS JOIN tot
        |       WHERE length(dw.w) > 0)
        |SELECT doc_id, round(max(pri.prior) + sum(l), 6) AS nb_logit,
        |       count(*)::BIGINT AS n_words,
        |       (max(pri.prior) + sum(l)) > 0 AS nb_pred
        |FROM sc CROSS JOIN pri GROUP BY doc_id""".stripMargin,

    // both hashed-bucket distributions and every log-ratio re-derived;
    // md5_number % 2^32 % 1024 is the engine's tokenHash32 bucket exactly
    "t21_dsir_weights" ->
      """WITH tok AS (SELECT doc_id, lang,
        |         regexp_split_to_array(lower(trim(text)), '\s+') ws
        |       FROM documents),
        |feat AS (SELECT doc_id, lang,
        |           ((((md5_number(w) % 4294967296) + 4294967296) % 4294967296)
        |            % 1024)::BIGINT AS bucket
        |         FROM (SELECT doc_id, lang, unnest(ws) AS w FROM tok)
        |         WHERE length(w) > 0),
        |ct AS (SELECT bucket, count(*)::DOUBLE AS c FROM feat
        |       WHERE lang = 'en' GROUP BY bucket),
        |cr AS (SELECT bucket, count(*)::DOUBLE AS c FROM feat
        |       WHERE lang <> 'en' GROUP BY bucket),
        |j AS (SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
        |        coalesce(ct.c, 0) AS ctc, coalesce(cr.c, 0) AS crc
        |      FROM ct FULL OUTER JOIN cr ON ct.bucket = cr.bucket),
        |tot AS (SELECT sum(ctc) AS nt, sum(crc) AS nr FROM j),
        |m AS (SELECT bucket, ln((ctc + 0.5) / (nt + 0.5 * 1024))
        |             - ln((crc + 0.5) / (nr + 0.5 * 1024)) AS lr
        |      FROM j CROSS JOIN tot)
        |SELECT doc_id, round(sum(lr), 6) AS dsir_logw,
        |       count(*)::BIGINT AS n_feats
        |FROM feat JOIN m USING (bucket) WHERE lang <> 'en'
        |GROUP BY doc_id""".stripMargin,

    "x5_domain_cap" ->
      """WITH b AS (SELECT doc_id, source,
        |  (((md5_number('cap' || doc_id::VARCHAR) % 4294967296) + 4294967296)
        |     % 4294967296) % 1000000 AS bucket
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id)::BIGINT
        |          AS cap_rank
        |      FROM b)
        |SELECT doc_id, source, cap_rank FROM r WHERE cap_rank <= 10""".stripMargin,

    "x3_hash_sample" ->
      """WITH b AS (SELECT doc_id, source,
        |  (((md5_number('mix' || doc_id::VARCHAR) % 4294967296) + 4294967296)
        |     % 4294967296) % 10000 AS bucket
        |  FROM documents)
        |SELECT doc_id, source FROM b
        |WHERE bucket < CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
        |                           WHEN 'src2' THEN 2500 ELSE 1000 END""".stripMargin,

    "x6_mixture_sample" ->
      """WITH d AS (SELECT doc_id, source,
        |         len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT AS n_tok
        |       FROM documents),
        |st AS (SELECT source, sum(n_tok) AS T, sqrt(sum(n_tok)) AS wn
        |       FROM d GROUP BY source),
        |r AS (SELECT source,
        |        least(1.0, 10000 * wn / (SELECT sum(wn) FROM st) / T) AS rate
        |      FROM st),
        |b AS (SELECT doc_id,
        |  (((md5_number('mx' || doc_id::VARCHAR) % 4294967296) + 4294967296)
        |     % 4294967296) % 1000000 AS bucket FROM documents)
        |SELECT d.doc_id, d.source, d.n_tok, round(r.rate, 6) AS rate
        |FROM d JOIN r USING (source) JOIN b USING (doc_id)
        |WHERE b.bucket < r.rate * 1000000""".stripMargin,

    "x4_split_assign" ->
      """WITH b AS (SELECT doc_id, source,
        |  (((md5_number('split' || doc_id::VARCHAR) % 4294967296) + 4294967296)
        |     % 4294967296) % 10000 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 8000 THEN 'train'
        |            WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split,
        |       count(*)::BIGINT AS n, count(DISTINCT source)::BIGINT AS n_sources
        |FROM b GROUP BY 1""".stripMargin,

    // x10: same u (md5 % 2^32 == tokenHash32), same clamped ln(u)/w key
    // rounded to 6 decimals, same id tie-break
    "x10_weighted_sample" ->
      """WITH q AS (SELECT doc_id, source,
        |        round(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) * 1.0
        |              / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1), 4) AS quality
        |      FROM documents),
        |k AS (SELECT doc_id, source, quality,
        |        round(ln((((md5_number('es' || doc_id::VARCHAR) % 4294967296) + 4294967296)
        |                   % 4294967296 + 0.5) / 4294967296)
        |              / greatest(quality, 0.000000001), 6) AS es_key
        |      FROM q),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |                 ORDER BY es_key DESC, doc_id) AS es_rank FROM k)
        |SELECT doc_id, source, quality, es_key, es_rank::BIGINT AS es_rank
        |FROM r WHERE es_rank <= 5""".stripMargin,

    // t21's weight re-derivation composed with x10's sampler key: the
    // importance weight (exp of the rounded log-weight) IS the ES weight
    "x13_dsir_resample" ->
      """WITH tok AS (SELECT doc_id, lang,
        |         regexp_split_to_array(lower(trim(text)), '\s+') ws
        |       FROM documents),
        |feat AS (SELECT doc_id, lang,
        |           ((((md5_number(w) % 4294967296) + 4294967296) % 4294967296)
        |            % 1024)::BIGINT AS bucket
        |         FROM (SELECT doc_id, lang, unnest(ws) AS w FROM tok)
        |         WHERE length(w) > 0),
        |ct AS (SELECT bucket, count(*)::DOUBLE AS c FROM feat
        |       WHERE lang = 'en' GROUP BY bucket),
        |cr AS (SELECT bucket, count(*)::DOUBLE AS c FROM feat
        |       WHERE lang <> 'en' GROUP BY bucket),
        |j AS (SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
        |        coalesce(ct.c, 0) AS ctc, coalesce(cr.c, 0) AS crc
        |      FROM ct FULL OUTER JOIN cr ON ct.bucket = cr.bucket),
        |tot AS (SELECT sum(ctc) AS nt, sum(crc) AS nr FROM j),
        |m AS (SELECT bucket, ln((ctc + 0.5) / (nt + 0.5 * 1024))
        |             - ln((crc + 0.5) / (nr + 0.5 * 1024)) AS lr
        |      FROM j CROSS JOIN tot),
        |ww AS (SELECT doc_id, round(sum(lr), 6) AS dsir_logw,
        |         count(*)::BIGINT AS n_feats
        |       FROM feat JOIN m USING (bucket) WHERE lang <> 'en'
        |       GROUP BY doc_id),
        |kk AS (SELECT ww.doc_id, ww.dsir_logw, ww.n_feats, d.source,
        |         round(ln((((md5_number('dsir' || ww.doc_id::VARCHAR) % 4294967296)
        |                    + 4294967296) % 4294967296 + 0.5) / 4294967296)
        |               / greatest(exp(ww.dsir_logw), 0.000000001), 6) AS es_key
        |       FROM ww JOIN documents d USING (doc_id)),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY source
        |                  ORDER BY es_key DESC, doc_id) AS rk FROM kk)
        |SELECT doc_id, dsir_logw, n_feats, source, es_key, rk::BIGINT AS es_rank
        |FROM rr WHERE rk <= 3""".stripMargin,

    "w4_salted_agg" ->
      """SELECT event_type, count(*)::BIGINT AS n_rows,
        |       (sum((value)::DECIMAL(18,6)))::DOUBLE AS total
        |FROM events GROUP BY event_type""".stripMargin,
    "d5_embedding_dedup" ->
      s"""${embPairsCte(0.15)}
        |SELECT id_a, id_b, sim FROM pairs""".stripMargin,

    "c1_base64" ->
      """SELECT doc_id, to_base64(text::BLOB) AS b64,
        |       decode(from_base64(to_base64(text::BLOB))) = text AS roundtrip_ok
        |FROM documents WHERE doc_id < 50""".stripMargin,

    "mm_binary_meta" ->
      """SELECT doc_id AS media_id, octet_length(text::BLOB) AS n_bytes,
        |       md5(substr(text, 1, 16)) AS frame_fp
        |FROM documents""".stripMargin,

    "mm2_frame_sample" ->
      """WITH f AS (SELECT doc_id AS media_id, hex(text::BLOB) AS hx,
        |                  unnest(range(octet_length(text::BLOB)//16)) AS frame_no
        |           FROM documents)
        |SELECT media_id, frame_no,
        |       md5(substring(hx, frame_no*32+1, 32)) AS frame_fp
        |FROM f""".stripMargin,

    "mm3_resize" ->
      """WITH h AS (SELECT doc_id AS media_id, hex(text::BLOB) AS hx,
        |                  octet_length(text::BLOB) AS n
        |           FROM documents)
        |SELECT media_id, (n+1)//2 AS out_bytes,
        |       md5(array_to_string(list_transform(range(0, (n+1)//2),
        |           i -> substring(hx, i*4+1, 2)), '')) AS resized_fp
        |FROM h""".stripMargin,

    "mm4_features" ->
      """WITH h AS (SELECT doc_id AS media_id, hex(text::BLOB) AS hx,
        |                  octet_length(text::BLOB) AS n
        |           FROM documents WHERE doc_id < 50),
        |e AS (SELECT media_id, unnest(range(n)) AS i, hx FROM h)
        |SELECT media_id, i % 8 AS j,
        |       round(sum((strpos('0123456789ABCDEF', substring(hx, 2*i+1, 1))-1)*16
        |               + (strpos('0123456789ABCDEF', substring(hx, 2*i+2, 1))-1))/255.0, 4) AS f
        |FROM e GROUP BY 1, 2""".stripMargin,

    // the engine's path: bytes → 36×32 raster → REAL PNG/BMP encode →
    // javax.imageio decode → luma → 9×8 box grid → dHash/aHash. This twin
    // re-derives the hashes straight from the source bytes (raster pixel i
    // = byte (i mod n); grid = floor 4×4 box mean; bits pack MSB-first into
    // four 16-bit words) — every post-decode step is exact-integer, so a
    // hash match PROVES the codec round-trip lossless.
    "mm5_phash" -> (mmPhashCte(
      "SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 200") +
      """
        |SELECT media_id, 36::INTEGER AS img_w, 32::INTEGER AS img_h,
        |       printf('%04x%04x%04x%04x', d0, d1, d2, d3) AS dhash,
        |       printf('%04x%04x%04x%04x', a0, a1, a2, a3) AS ahash
        |FROM dh JOIN ah USING (media_id)""".stripMargin),

    // EXACT all-pairs hamming ≤ 3 over the re-derived dHashes: at maxDist 3
    // the engine's 4×16-bit pigeonhole banding has TOTAL recall, so banded
    // == exact — the gate checks the recall claim, not just arithmetic
    "mm6_image_neardup" -> (mmPhashCte(mmPlantedSrcSql) +
      """
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |       (bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
        |      + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3)))::BIGINT AS dist
        |FROM dh a JOIN dh b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
        |    + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3)) <= 3""".stripMargin),

    // the mm5 pattern for AUDIO: sample i = byte (i mod n), 8 frames of
    // 256 samples, energy = sum |v - 128| per frame — integer-exact
    "mm8_audio_energy" ->
      """WITH h AS (SELECT doc_id AS media_id, hex(text::BLOB) AS hx,
        |                  octet_length(text::BLOB) AS n
        |           FROM documents WHERE doc_id < 200),
        |px AS (SELECT media_id, unnest(range(2048)) AS i, hx, n FROM h),
        |pv AS (SELECT media_id, i,
        |         (strpos('0123456789ABCDEF', substring(hx, 2*(i % n)+1, 1))-1)*16
        |       + (strpos('0123456789ABCDEF', substring(hx, 2*(i % n)+2, 1))-1) AS v
        |       FROM px)
        |SELECT media_id, 2048::INTEGER AS n_samples, 8000::INTEGER AS sample_rate,
        |       i // 256 AS f, (sum(abs(v - 128)))::BIGINT AS energy
        |FROM pv GROUP BY 1, 4""".stripMargin,

    // d15's recursive-closure truth applied to the IMAGE near-dup graph:
    // exact components over the hamming<=3 pairs, survivor = min id
    "mm7_image_survivors" -> (s"WITH RECURSIVE ${mmPhashCteBody(mmPlantedSrcSql)}," +
      """
        |pairs AS (SELECT a.media_id AS doc_a, b.media_id AS doc_b
        |          FROM dh a JOIN dh b ON a.media_id < b.media_id
        |          WHERE bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
        |              + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3)) <= 3),
        |sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |        UNION SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM sym
        |                UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |                       WHERE s.v <> r.u),
        |lab AS (SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u)
        |SELECT src.media_id, coalesce(l.component, src.media_id) AS component,
        |       coalesce(l.component, src.media_id) = src.media_id AS is_survivor
        |FROM src LEFT JOIN lab l ON l.node = src.media_id""".stripMargin),

    // the mm5 source-bytes pattern per FRAME: pixel i of frame f = byte
    // ((f·1152 + i) mod n) — never touches the AVI container, so the hash
    // match proves the container + BMP re-encode round-trip lossless
    "mm9_video_frames" -> ("WITH " + mmVideoCteBody(
      "SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 120", 4) +
      """
        |SELECT media_id, f AS frame_no, 36::INTEGER AS img_w, 32::INTEGER AS img_h,
        |       printf('%04x%04x%04x%04x', d0, d1, d2, d3) AS dhash,
        |       printf('%04x%04x%04x%04x', a0, a1, a2, a3) AS ahash
        |FROM dh JOIN ah USING (media_id, f)""".stripMargin),

    // EXACT frame-aligned hamming join + per-video rollup: banding recall
    // is total at maxDist 3, so banded == exact (the mm6 gate, per frame)
    "mm10_video_neardup" -> ("WITH " + mmVideoCteBody(mmPlantedVideoSrcSql, 4) +
      """
        |SELECT a.media_id AS vid_a, b.media_id AS vid_b,
        |       (count(*))::BIGINT AS matched_frames
        |FROM dh a JOIN dh b ON a.media_id < b.media_id AND a.f = b.f
        |WHERE bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
        |    + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3)) <= 3
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // the geometry of every container is PLANTED (real codecs, known
    // parameters), so the oracle is the construction itself — a match
    // proves the header parse pulls the true values out of genuine
    // PNG/BMP/WAVE/AVI bytes; corrupt/unknown rows route as data
    "mm11_sniff_meta" ->
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
        |       36::INTEGER AS width, 32::INTEGER AS height, 1::INTEGER AS n_frames,
        |       NULL::INTEGER AS n_channels, NULL::INTEGER AS sample_rate,
        |       NULL::INTEGER AS n_samples
        |FROM documents WHERE doc_id < 100
        |UNION ALL SELECT doc_id, 'wav', NULL, NULL, NULL, 1, 8000, 2048
        |FROM documents WHERE doc_id >= 100 AND doc_id < 150
        |UNION ALL SELECT doc_id, 'avi', 36, 32, 4, NULL, NULL, NULL
        |FROM documents WHERE doc_id >= 150 AND doc_id < 200
        |UNION ALL SELECT doc_id + 1000,
        |       'corrupt:' || CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END,
        |       NULL, NULL, NULL, NULL, NULL, NULL
        |FROM documents WHERE doc_id < 10
        |UNION ALL SELECT doc_id + 2000, 'unknown', NULL, NULL, NULL, NULL, NULL, NULL
        |FROM documents WHERE doc_id < 10""".stripMargin,

    // the router's decision is re-stated from the plant: every slab's
    // format AND codec are construction parameters (the µ-law slab is the
    // PCM synth with its fmt tag overlaid to 7 — same header geometry),
    // so a match proves sniff pulled the true codec out of real bytes AND
    // the policy sent every verdict class to its decode leg
    "mm20_intake_route" ->
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
        |       CASE WHEN doc_id % 2 = 0 THEN 'deflate' ELSE 'rgb' END AS codec,
        |       'image' AS route
        |FROM documents WHERE doc_id < 100
        |UNION ALL SELECT doc_id, 'jpeg', 'jpeg-baseline', 'image'
        |FROM documents WHERE doc_id >= 100 AND doc_id < 140
        |UNION ALL SELECT doc_id, 'gif', 'lzw', 'image'
        |FROM documents WHERE doc_id >= 140 AND doc_id < 180
        |UNION ALL SELECT doc_id, 'wav', 'pcm', 'audio'
        |FROM documents WHERE doc_id >= 180 AND doc_id < 230
        |UNION ALL SELECT doc_id, 'wav', 'ulaw', 'quarantine:wav-ulaw'
        |FROM documents WHERE doc_id >= 230 AND doc_id < 260
        |UNION ALL SELECT doc_id, 'avi', 'dib', 'video'
        |FROM documents WHERE doc_id >= 260 AND doc_id < 300
        |UNION ALL SELECT doc_id, 'avi', 'mjpg', 'video'
        |FROM documents WHERE doc_id >= 300 AND doc_id < 330
        |UNION ALL SELECT doc_id + 1000,
        |       'corrupt:' || CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END,
        |       NULL, 'corrupt'
        |FROM documents WHERE doc_id < 10
        |UNION ALL SELECT doc_id + 2000, 'unknown', NULL, 'unknown'
        |FROM documents WHERE doc_id < 10""".stripMargin,

    // the upgrade's audit trail re-stated from the plant: decided classes
    // keep their verdicts un-re-sniffed (re_routed = false), exactly the
    // undecided slice (µ-law + corrupt + unknown) re-sniffs at the bumped
    // version, and the total re-routed count is that slice's size
    "mm22_incremental_reroute" ->
      """WITH census(route, re_routed, n_blobs) AS (
        |  SELECT 'image', false, count(*) FROM documents WHERE doc_id < 180
        |  UNION ALL SELECT 'audio', false, count(*)
        |    FROM documents WHERE doc_id >= 180 AND doc_id < 230
        |  UNION ALL SELECT 'quarantine:wav-ulaw', true, count(*)
        |    FROM documents WHERE doc_id >= 230 AND doc_id < 260
        |  UNION ALL SELECT 'video', false, count(*)
        |    FROM documents WHERE doc_id >= 260 AND doc_id < 330
        |  UNION ALL SELECT 'corrupt', true, count(*)
        |    FROM documents WHERE doc_id < 10
        |  UNION ALL SELECT 'unknown', true, count(*)
        |    FROM documents WHERE doc_id < 10)
        |SELECT route, re_routed, n_blobs::BIGINT AS n_blobs,
        |       (SELECT sum(n_blobs) FROM census WHERE re_routed)::BIGINT
        |         AS n_rerouted_total
        |FROM census""".stripMargin,

    // the whole routed pipeline collapses to source-byte re-derivations:
    // the image grid (png/bmp AND gif rows — the gif leg is lossless, so
    // the same cyclic-raster CTE covers it), the video grid per frame,
    // the audio energy contour, and the µ-law rows as verdict literals
    "mm21_routed_fingerprints" -> ("WITH " + mmGridCteBody(
      """SELECT doc_id AS media_id, hex(text::BLOB) AS hx,
        |             octet_length(text::BLOB) AS n
        |      FROM documents WHERE doc_id < 120""".stripMargin,
      Seq("media_id"), "i % n") + ",\n" + mmGridCteBody(
      """SELECT media_id, unnest(range(4)) AS f, hx, n
        |      FROM (SELECT doc_id AS media_id, hex(text::BLOB) AS hx,
        |                   octet_length(text::BLOB) AS n FROM documents
        |            WHERE doc_id >= 160 AND doc_id < 200) hh""".stripMargin,
      Seq("media_id", "f"), "(f*1152 + i) % n", prefix = "v") + ",\n" +
      audioFpCteOver(
        "(SELECT doc_id AS media_id, text FROM documents " +
          "WHERE doc_id >= 120 AND doc_id < 160)") +
      """
        |SELECT media_id, 'image' AS modality, 0::INTEGER AS item_no,
        |       d0 AS w0, d1 AS w1, d2 AS w2, d3 AS w3 FROM dh
        |UNION ALL SELECT media_id, 'audio', 0::INTEGER, a0, a1, a2, a3 FROM af
        |UNION ALL SELECT media_id, 'video', f::INTEGER, d0, d1, d2, d3 FROM vdh
        |UNION ALL SELECT doc_id, 'quarantine:wav-ulaw', 0::INTEGER,
        |       NULL::INTEGER, NULL::INTEGER, NULL::INTEGER, NULL::INTEGER
        |FROM documents WHERE doc_id >= 200 AND doc_id < 220""".stripMargin),

    // one grid CTE re-derives BOTH containers' frame hashes (gif and avi
    // share the planted pixel rule), never touching either container; the
    // policy column is the upgrade plant itself — gif rows re-decided at
    // v3, avi rows' v2 verdicts carried (their bytes never re-read)
    "mm23_gif_video_upgrade" -> ("WITH " + mmVideoCteBody(
      "SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 80", 4) +
      """
        |SELECT media_id,
        |       CASE WHEN media_id < 40 THEN 3 ELSE 2 END AS route_policy,
        |       f AS frame_no,
        |       printf('%04x%04x%04x%04x', d0, d1, d2, d3) AS dhash,
        |       printf('%04x%04x%04x%04x', a0, a1, a2, a3) AS ahash
        |FROM dh JOIN ah USING (media_id, f)""".stripMargin),

    // identical to the d17 principle for IMAGES: the persisted index is
    // semantically the corpus hash table, so the whole lifecycle must
    // collapse to one exact re-derivation (banding recall total at 3)
    "mm12_phash_index" -> ("WITH " + mmGridCteBody(
      """SELECT media_id, is_b, hex(t::BLOB) AS hx, octet_length(t::BLOB) AS n
        |      FROM (SELECT doc_id AS media_id, 0 AS is_b, text AS t
        |            FROM documents WHERE doc_id < 200
        |            UNION ALL SELECT doc_id + 10000, 1, text
        |            FROM documents WHERE doc_id < 60
        |            UNION ALL SELECT doc_id + 20000, 1, translate(text, 'e', 'f')
        |            FROM documents WHERE doc_id >= 60 AND doc_id < 120
        |            UNION ALL SELECT doc_id + 30000, 1, text
        |            FROM documents WHERE doc_id >= 200 AND doc_id < 260) src""".stripMargin,
      Seq("media_id", "is_b"), "i % n") +
      """,
        |ver AS (SELECT b.media_id AS b_id, min(c.media_id) AS match_id
        |        FROM dh b JOIN dh c ON b.is_b = 1 AND c.is_b = 0
        |        WHERE bit_count(xor(b.d0, c.d0)) + bit_count(xor(b.d1, c.d1))
        |            + bit_count(xor(b.d2, c.d2)) + bit_count(xor(b.d3, c.d3)) <= 3
        |        GROUP BY 1)
        |SELECT t.media_id AS img_id, v.match_id IS NULL AS is_new, v.match_id
        |FROM (SELECT media_id FROM dh WHERE is_b = 1) t
        |LEFT JOIN ver v ON v.b_id = t.media_id""".stripMargin),

    // the mm12 principle on the audio family: every energy-contour
    // fingerprint re-derived from source TEXT bytes, the screen collapsed
    // to the full probe-vs-corpus hamming join (banding recall total at 3)
    "mm24_audio_index" -> ("WITH " + audioFpCteOver(
      """(SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 200
        |       UNION ALL SELECT doc_id + 10000, text
        |       FROM documents WHERE doc_id < 60
        |       UNION ALL SELECT doc_id + 20000, translate(text, 'e', 'f')
        |       FROM documents WHERE doc_id >= 60 AND doc_id < 120
        |       UNION ALL SELECT doc_id + 30000, text
        |       FROM documents WHERE doc_id >= 200 AND doc_id < 260) src""".stripMargin) +
      """,
        |ver AS (SELECT b.media_id AS b_id, min(c.media_id) AS match_id
        |        FROM af b JOIN af c
        |          ON b.media_id >= 10000 AND c.media_id < 10000
        |        WHERE bit_count(xor(b.a0, c.a0)) + bit_count(xor(b.a1, c.a1))
        |            + bit_count(xor(b.a2, c.a2)) + bit_count(xor(b.a3, c.a3)) <= 3
        |        GROUP BY 1)
        |SELECT t.media_id AS aud_id, v.match_id IS NULL AS is_new, v.match_id
        |FROM (SELECT media_id FROM af WHERE media_id >= 10000) t
        |LEFT JOIN ver v ON v.b_id = t.media_id""".stripMargin),

    // density truth: every hash re-derived from source bytes, EVERY
    // within-bucket pair incidence measured at its true 64-bit hamming —
    // the capped estimator must land exactly on this (cap > any bucket)
    "mm18_phash_density" -> ("WITH " + mmGridCteBody(
      """SELECT doc_id AS media_id, hex(text::BLOB) AS hx,
        |             octet_length(text::BLOB) AS n
        |      FROM documents WHERE doc_id < 200""".stripMargin,
      Seq("media_id"), "i % n") +
      """,
        |mh AS (SELECT media_id, 0 AS band, d0 AS sig FROM dh
        |       UNION ALL SELECT media_id, 1, d1 FROM dh
        |       UNION ALL SELECT media_id, 2, d2 FROM dh
        |       UNION ALL SELECT media_id, 3, d3 FROM dh),
        |bu AS (SELECT band, sig, count(*)::BIGINT AS nb FROM mh
        |       GROUP BY band, sig),
        |tot AS (SELECT (sum(nb*(nb-1)) // 2)::BIGINT AS cp,
        |               (sum(nb) // 4)::BIGINT AS nn FROM bu),
        |pr AS (SELECT bit_count(xor(a.d0, c.d0)) + bit_count(xor(a.d1, c.d1))
        |            + bit_count(xor(a.d2, c.d2)) + bit_count(xor(a.d3, c.d3)) AS d
        |       FROM mh x JOIN mh y ON x.band = y.band AND x.sig = y.sig
        |                          AND x.media_id < y.media_id
        |       JOIN dh a ON a.media_id = x.media_id
        |       JOIN dh c ON c.media_id = y.media_id),
        |m AS (SELECT k.max_dist,
        |             (count(*) FILTER (WHERE pr.d <= k.max_dist))::BIGINT AS m
        |      FROM (SELECT unnest(range(5)) AS max_dist) k LEFT JOIN pr ON true
        |      GROUP BY 1)
        |SELECT m.max_dist::INTEGER AS max_dist, tot.cp AS collision_pairs,
        |       tot.cp AS sampled_pairs,
        |       round(coalesce(m.m::DOUBLE / nullif(tot.cp, 0)::DOUBLE, 0), 6)
        |         AS p_match_given_collision,
        |       round(2.0 * m.m::DOUBLE / tot.nn::DOUBLE, 6)
        |         AS implied_matches_per_probe
        |FROM m CROSS JOIN tot""".stripMargin),

    // the gated screen's truth: derive the implied rates from CORPUS
    // source bytes (is_b = 0), pick the radius the budget allows, then
    // screen the batch at exactly that radius — the mm12 verdict shape
    // plus the learned max_dist column
    "mm19_density_gated_screen" -> ("WITH " + mmGridCteBody(
      """SELECT media_id, is_b, hex(t::BLOB) AS hx, octet_length(t::BLOB) AS n
        |      FROM (SELECT doc_id AS media_id, 0 AS is_b, text AS t
        |            FROM documents WHERE doc_id < 200
        |            UNION ALL SELECT doc_id + 10000, 1, text
        |            FROM documents WHERE doc_id < 60
        |            UNION ALL SELECT doc_id + 20000, 1, translate(text, 'e', 'f')
        |            FROM documents WHERE doc_id >= 60 AND doc_id < 120
        |            UNION ALL SELECT doc_id + 30000, 1, text
        |            FROM documents WHERE doc_id >= 200 AND doc_id < 260) src""".stripMargin,
      Seq("media_id", "is_b"), "i % n") +
      """,
        |mh AS (SELECT media_id, 0 AS band, d0 AS sig FROM dh WHERE is_b = 0
        |       UNION ALL SELECT media_id, 1, d1 FROM dh WHERE is_b = 0
        |       UNION ALL SELECT media_id, 2, d2 FROM dh WHERE is_b = 0
        |       UNION ALL SELECT media_id, 3, d3 FROM dh WHERE is_b = 0),
        |bu AS (SELECT band, sig, count(*)::BIGINT AS nb FROM mh
        |       GROUP BY band, sig),
        |tot AS (SELECT (sum(nb) // 4)::BIGINT AS nn FROM bu),
        |pr AS (SELECT bit_count(xor(a.d0, c.d0)) + bit_count(xor(a.d1, c.d1))
        |            + bit_count(xor(a.d2, c.d2)) + bit_count(xor(a.d3, c.d3)) AS d
        |       FROM mh x JOIN mh y ON x.band = y.band AND x.sig = y.sig
        |                          AND x.media_id < y.media_id
        |       JOIN dh a ON a.media_id = x.media_id AND a.is_b = 0
        |       JOIN dh c ON c.media_id = y.media_id AND c.is_b = 0),
        |m AS (SELECT k.max_dist,
        |             (count(*) FILTER (WHERE pr.d <= k.max_dist))::BIGINT AS m
        |      FROM (SELECT unnest(range(4)) AS max_dist) k LEFT JOIN pr ON true
        |      GROUP BY 1),
        |rad AS (SELECT max(m.max_dist)::INTEGER AS r FROM m CROSS JOIN tot
        |        WHERE 2.0 * m.m::DOUBLE / tot.nn::DOUBLE <= 0.5),
        |ver AS (SELECT b.media_id AS b_id, min(c.media_id) AS match_id
        |        FROM dh b JOIN dh c ON b.is_b = 1 AND c.is_b = 0
        |        CROSS JOIN rad
        |        WHERE bit_count(xor(b.d0, c.d0)) + bit_count(xor(b.d1, c.d1))
        |            + bit_count(xor(b.d2, c.d2)) + bit_count(xor(b.d3, c.d3))
        |              <= rad.r
        |        GROUP BY 1)
        |SELECT t.media_id AS img_id, v.match_id IS NULL AS is_new, v.match_id,
        |       rad.r AS max_dist
        |FROM (SELECT media_id FROM dh WHERE is_b = 1) t CROSS JOIN rad
        |LEFT JOIN ver v ON v.b_id = t.media_id""".stripMargin),

    // cross-modal truth: frame f of a video and a standalone image share
    // the pixel rule at f=0 (and the noise copies drift within hamming 3),
    // so the exact per-frame hamming join + rollup re-derives the
    // contamination audit end to end
    "mm13_cross_modal" -> ("WITH " + mmGridCteBody(
      """SELECT media_id, f, hx, n FROM (
        |        SELECT doc_id AS media_id, -1 AS f, hex(text::BLOB) AS hx,
        |               octet_length(text::BLOB) AS n
        |        FROM documents WHERE doc_id < 150
        |        UNION ALL
        |        SELECT media_id, unnest(range(4)) AS f, hx, n FROM (
        |          SELECT doc_id + 50000 AS media_id, hex(text::BLOB) AS hx,
        |                 octet_length(text::BLOB) AS n
        |          FROM documents WHERE doc_id < 60
        |          UNION ALL SELECT doc_id + 60000,
        |                 hex(translate(text, 'e', 'f')::BLOB),
        |                 octet_length(text::BLOB)
        |          FROM documents WHERE doc_id < 40
        |          UNION ALL SELECT doc_id + 70000, hex(text::BLOB),
        |                 octet_length(text::BLOB)
        |          FROM documents WHERE doc_id >= 200 AND doc_id < 240) vv) src""".stripMargin,
      Seq("media_id", "f"), "(greatest(f, 0)*1152 + i) % n") +
      """
        |SELECT v.media_id AS video_id, count(DISTINCT v.f) AS n_matched_frames,
        |       min(c.media_id) AS first_image
        |FROM dh v JOIN dh c ON v.f >= 0 AND c.f = -1
        |WHERE bit_count(xor(v.d0, c.d0)) + bit_count(xor(v.d1, c.d1))
        |    + bit_count(xor(v.d2, c.d2)) + bit_count(xor(v.d3, c.d3)) <= 3
        |GROUP BY 1""".stripMargin),

    // one recursive closure over BOTH modality pair graphs: text pairs
    // from the shared dedupPairsCte machinery pointed at the slice, image
    // pairs from the shared grid CTE — the joint truth is the union
    "mm14_joint_dedup" -> ("WITH RECURSIVE src AS (" +
      """SELECT doc_id, text FROM documents WHERE doc_id < 200
        | UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 200
        | UNION ALL SELECT doc_id + 20000, translate(text, 'e', 'f')
        |           FROM documents WHERE doc_id < 200
        | UNION ALL SELECT doc_id + 30000, text || ' appended alpha beta gamma tokens'
        |           FROM documents WHERE doc_id < 200""".stripMargin + "),\n" +
      mmGridCteBody(
        """SELECT doc_id AS media_id, hex(text::BLOB) AS hx,
          |             octet_length(text::BLOB) AS n
          |      FROM src""".stripMargin, Seq("media_id"), "i % n") + ",\n" +
      dedupPairsCteOver("src") +
      """,
        |ipairs AS (SELECT a.media_id AS doc_a, b.media_id AS doc_b
        |           FROM dh a JOIN dh b ON a.media_id < b.media_id
        |           WHERE bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
        |               + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3)) <= 3),
        |allp AS (SELECT doc_a, doc_b FROM pairs
        |         UNION SELECT doc_a, doc_b FROM ipairs),
        |sym AS (SELECT doc_a AS u, doc_b AS v FROM allp
        |        UNION SELECT doc_b, doc_a FROM allp),
        |reach(u, v) AS (SELECT u, v FROM sym
        |                UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |                       WHERE s.v <> r.u),
        |lab AS (SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u)
        |SELECT src.doc_id, coalesce(l.component, src.doc_id) AS component,
        |       coalesce(l.component, src.doc_id) = src.doc_id AS is_survivor
        |FROM src LEFT JOIN lab l ON l.node = src.doc_id""".stripMargin),

    // the mm8 energy derivation one hop further: 64 frames of 32 samples,
    // bit p = e_p > e_(p+1 mod 64), packed into four 16-bit words — then
    // the EXACT hamming join (banding recall total at 3)
    "mm15_audio_fingerprint" ->
      """WITH src AS (SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 200
        | UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 200
        | UNION ALL SELECT doc_id + 20000, translate(text, 'e', 'f')
        |           FROM documents WHERE doc_id < 200),
        |h AS (SELECT media_id, hex(text::BLOB) AS hx, octet_length(text::BLOB) AS n
        |      FROM src),
        |px AS (SELECT media_id, unnest(range(2048)) AS i, hx, n FROM h),
        |pv AS (SELECT media_id, i,
        |         (strpos('0123456789ABCDEF', substring(hx, 2*(i % n)+1, 1))-1)*16
        |       + (strpos('0123456789ABCDEF', substring(hx, 2*(i % n)+2, 1))-1) AS v
        |       FROM px),
        |e AS (SELECT media_id, i // 32 AS f, (sum(abs(v - 128)))::BIGINT AS e
        |      FROM pv GROUP BY 1, 2),
        |bits AS (SELECT a.media_id, a.f AS p,
        |                CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
        |         FROM e a JOIN e b ON a.media_id = b.media_id
        |          AND b.f = (a.f + 1) % 64),
        |af AS (SELECT media_id,
        |         (sum(CASE WHEN p // 16 = 0 THEN bit << (15 - p % 16) ELSE 0 END))::INTEGER AS a0,
        |         (sum(CASE WHEN p // 16 = 1 THEN bit << (15 - p % 16) ELSE 0 END))::INTEGER AS a1,
        |         (sum(CASE WHEN p // 16 = 2 THEN bit << (15 - p % 16) ELSE 0 END))::INTEGER AS a2,
        |         (sum(CASE WHEN p // 16 = 3 THEN bit << (15 - p % 16) ELSE 0 END))::INTEGER AS a3
        |       FROM bits GROUP BY media_id)
        |SELECT x.media_id AS id_a, y.media_id AS id_b,
        |       (bit_count(xor(x.a0, y.a0)) + bit_count(xor(x.a1, y.a1))
        |      + bit_count(xor(x.a2, y.a2)) + bit_count(xor(x.a3, y.a3)))::BIGINT AS dist
        |FROM af x JOIN af y ON x.media_id < y.media_id
        |WHERE bit_count(xor(x.a0, y.a0)) + bit_count(xor(x.a1, y.a1))
        |    + bit_count(xor(x.a2, y.a2)) + bit_count(xor(x.a3, y.a3)) <= 3""".stripMargin,

    // mm5's source-byte hash derivation — the RESIZED image must hash
    // identically (the resize is the hash's own resampling step), with
    // only the dims showing the 9×8 output
    "mm16_resize_real" -> (mmPhashCte(
      "SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 200") +
      """
        |SELECT media_id, 9::INTEGER AS rs_w, 8::INTEGER AS rs_h,
        |       printf('%04x%04x%04x%04x', d0, d1, d2, d3) AS dhash,
        |       printf('%04x%04x%04x%04x', a0, a1, a2, a3) AS ahash
        |FROM dh JOIN ah USING (media_id)""".stripMargin),

    // mm14 extended to ALL four modalities: the text pair CTE, the image
    // grid, the v-prefixed video grid and the audio contour chain sit
    // beside each other; one recursive closure folds their union into
    // exact components — the oracle restates every modality's machine
    // from SOURCE bytes in a single statement
    "mm17_all_modal_dedup" -> ("WITH RECURSIVE src AS (" +
      """SELECT doc_id, text FROM documents WHERE doc_id < 150
        | UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 150
        | UNION ALL SELECT doc_id + 20000, translate(text, 'e', 'f')
        |           FROM documents WHERE doc_id < 150
        | UNION ALL SELECT doc_id + 30000, text || ' appended alpha beta gamma tokens'
        |           FROM documents WHERE doc_id < 150""".stripMargin + "),\n" +
      mmGridCteBody(
        """SELECT doc_id AS media_id, hex(text::BLOB) AS hx,
          |             octet_length(text::BLOB) AS n
          |      FROM src""".stripMargin, Seq("media_id"), "i % n") + ",\n" +
      mmGridCteBody(
        """SELECT media_id, unnest(range(4)) AS f, hx, n
          |      FROM (SELECT doc_id AS media_id, hex(text::BLOB) AS hx,
          |                   octet_length(text::BLOB) AS n FROM src) vhh""".stripMargin,
        Seq("media_id", "f"), "(f*1152 + i) % n", "v") + ",\n" +
      audioFpCteOver("(SELECT doc_id AS media_id, text FROM src) aus") + ",\n" +
      dedupPairsCteOver("src") +
      """,
        |ipairs AS (SELECT a.media_id AS doc_a, b.media_id AS doc_b
        |           FROM dh a JOIN dh b ON a.media_id < b.media_id
        |           WHERE bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
        |               + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3)) <= 3),
        |apairs AS (SELECT x.media_id AS doc_a, y.media_id AS doc_b
        |           FROM af x JOIN af y ON x.media_id < y.media_id
        |           WHERE bit_count(xor(x.a0, y.a0)) + bit_count(xor(x.a1, y.a1))
        |               + bit_count(xor(x.a2, y.a2)) + bit_count(xor(x.a3, y.a3)) <= 3),
        |vpairs AS (SELECT a.media_id AS doc_a, b.media_id AS doc_b
        |           FROM vdh a JOIN vdh b ON a.media_id < b.media_id AND a.f = b.f
        |           WHERE bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
        |               + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3)) <= 3
        |           GROUP BY 1, 2 HAVING count(*) >= 2),
        |allp AS (SELECT doc_a, doc_b FROM pairs
        |         UNION SELECT doc_a, doc_b FROM ipairs
        |         UNION SELECT doc_a, doc_b FROM apairs
        |         UNION SELECT doc_a, doc_b FROM vpairs),
        |sym AS (SELECT doc_a AS u, doc_b AS v FROM allp
        |        UNION SELECT doc_b, doc_a FROM allp),
        |reach(u, v) AS (SELECT u, v FROM sym
        |                UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |                       WHERE s.v <> r.u),
        |lab AS (SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u)
        |SELECT src.doc_id, coalesce(l.component, src.doc_id) AS component,
        |       coalesce(l.component, src.doc_id) = src.doc_id AS is_survivor
        |FROM src LEFT JOIN lab l ON l.node = src.doc_id""".stripMargin),

    "u1_union_kinds" ->
      """SELECT event_id, user_id, event_type, value FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type = 'error' AND value > 100""".stripMargin
  )
}
