package graftbench

import graft.core.Ulid
import graft.log.{ConcurrentModificationException, EventDetail, EventLog}
import graft.store.{AggregateType, EventStore}
import graft.streaming.{ProjMessage, Projector}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A bank account: the state is the balance, every event a deposit. */
object Account extends AggregateType[Long] {
  val kind = "Account"
  def empty: Long = 0L
  private val Amount = "\"amount\":(-?\\d+)".r
  def fold(state: Long, eventKind: String, body: String): Long =
    if (eventKind == "Deposited") state + Amount.findFirstMatchIn(body).fold(0L)(_.group(1).toLong)
    else state
  def encodeState(state: Long): String = state.toString
  def decodeState(body: String): Long = body.toLong
}

/** `serve`: the event-store hot path. Set-up bulk-imports `streams` ×
  * `events` historical deposits, catches a projector up and starts it live
  * on a fixed 1 s trigger; then 3 closed-loop clients run 45% `update`, 45%
  * `retrieve` and 10% `outboxBatch` (with a per-client cursor) against
  * log-uniform keys (⌊n^u⌋ − 1, Zipf s≈1) while the live
  * projector consumes their commits: `warmup` seconds untimed (the JIT
  * compiles the op paths), then `seconds` measured. Every op of both phases
  * is gated. Client c owns the streams k ≡ c (mod 3),
  * so no two clients race on one stream and every answer has an exact
  * expected value in the client's own model.
  */
final class Serve(spark: SparkSession, work: String, seed: Long, seconds: Double, warmup: Double,
    streams: Int, events: Int, setups: Int, trace: Trace, beforeLoad: () => Unit) {

  private val Clients = 3
  private val dayMs = 24L * 3600 * 1000
  private val Token = "\"op\":\"([^\"]+)\"".r

  def streamId(k: Int): String = f"acct-$k%06d"

  /** The amount of imported deposit `seq` (1-based) of stream `k`; the same
    * formula runs as a Spark column for the import.
    */
  def importAmount(k: Long, seq: Long): Long = Math.floorMod(k * 7919L + seq * 104729L + seed * 31L, 97L) + 1

  private def importRows(nowMs: Long) = {
    val base = nowMs - 31 * dayMs
    val step = 30 * dayMs / events
    spark.range(streams.toLong * events)
      .select((col("id") / events).cast("long").as("k"), (pmod(col("id"), lit(events.toLong)) + 1).as("seq"))
      .select(
        format_string("acct-%06d", col("k")).as("aggregate_id"),
        lit(Account.kind).as("aggregate_kind"),
        lit("Deposited").as("kind"),
        format_string("{\"amount\":%d}",
          pmod(col("k") * 7919L + col("seq") * 104729L + lit(seed * 31L), lit(97L)) + 1).as("body"),
        col("seq").cast("int").as("seq"),
        (lit(base) + col("seq") * step + pmod(col("k") * 7919L, lit(step))).as("tms"))
  }

  // live-projector observations, written by the stream thread
  private val deliveredTokens = new ConcurrentHashMap[String, Int]()
  private val deliveredIds = new ConcurrentHashMap[String, Int]()
  // (ULID time of the event, its lag), both in ms
  private val lagsMs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val untokened = new LongAdder

  private def onLive(ds: Dataset[ProjMessage]): Unit = trace.span("streaming.handle") {
    val rows = ds.filter(col("meta_kind") === "live").select("id", "body").collect()
    val now = System.currentTimeMillis()
    rows.foreach { r =>
      val id = r.getString(0)
      deliveredIds.merge(id, 1, _ + _)
      Token.findFirstMatchIn(r.getString(1)) match {
        case Some(m) => deliveredTokens.merge(m.group(1), 1, _ + _)
        case None => untokened.increment()
      }
      val minted = Ulid.timestampMs(id)
      lagsMs.add((minted, (now - minted).toDouble))
    }
  }

  /** One set-up: import, catch up, start live and let it drain the import. */
  private def setUp(i: Int): (EventLog, StreamingQuery, Long) = trace.span("setup") {
    val dir = s"$work/serve-$i"
    val log = new EventLog(spark, dir, ulidSeed = Some(seed))
    val n = log.bulkImport(importRows(System.currentTimeMillis()), timeCol = Some("tms"))
    require(n == streams.toLong * events, s"bulkImport wrote $n events, expected ${streams.toLong * events}")
    val proj = new Projector(log, "serve", s"$dir/projector")
    var caught = 0L
    proj.catchup(ds => caught += ds.filter(col("meta_kind") === "catchup").count())
    val q = proj.live(onLive, Some(Trigger.ProcessingTime(1000L)))
    q.processAllAvailable()
    (log, q, caught)
  }

  /** Runs ops until `deadline`; those started at `measureFrom` or later
    * are the measured ones.
    */
  private final class Client(c: Int, store: EventStore[Long], log: EventLog, measureFrom: Long,
      deadline: Long) extends Thread(s"serve-client-$c") {
    private val rng = new java.util.SplittableRandom(seed * 1000003L + c)
    private val owned = (streams - c + Clients - 1) / Clients
    val balance = mutable.Map.empty[Int, Long]
    val version = mutable.Map.empty[Int, Int]
    val acked = mutable.ArrayBuffer.empty[String]
    val lat = Map("update" -> mutable.ArrayBuffer.empty[Double],
      "retrieve" -> mutable.ArrayBuffer.empty[Double], "poll" -> mutable.ArrayBuffer.empty[Double])
    val attempted = mutable.Map.empty[String, Int].withDefaultValue(0)
    val failed = mutable.Map.empty[String, Int].withDefaultValue(0)
    var measuredOk = 0
    val conflicts = new LongAdder
    val wrong = mutable.ArrayBuffer.empty[String]
    private var cursor = ""

    /** Log-uniform key over this client's streams: ⌊n^u⌋ − 1, then k = 3j + c. */
    private def key(): Int = {
      val j = math.min(owned - 1, math.floor(math.pow(owned.toDouble, rng.nextDouble())).toInt - 1)
      Clients * j + c
    }
    private def balanceOf(k: Int): Long =
      balance.getOrElse(k, (1 to events).map(s => importAmount(k, s)).sum)

    /** The op mix is exact in every 20 consecutive ops (9 update, 9
      * retrieve, 2 poll) and interleaved, from a seeded offset in the cycle:
      * an update costs about four retrieves, so a short run's throughput
      * must not wander with how many of its ~30 ops per client were updates.
      */
    private val mix = {
      val half = Seq.tabulate(9)(i => if (i % 2 == 0) "update" else "retrieve") :+ "poll"
      half ++ half.map { case "update" => "retrieve"; case "retrieve" => "update"; case op => op }
    }
    private var pos = rng.nextInt(mix.size)
    private def nextOp(): String = { pos += 1; mix(pos % mix.size) }

    override def run(): Unit = {
      var n = 0
      var now = System.currentTimeMillis()
      while (now < deadline) {
        val measured = now >= measureFrom
        val op = nextOp()
        val k = key()
        val amount = 1L + rng.nextInt(100)
        attempted(op) += 1
        n += 1
        val t0 = System.nanoTime()
        try {
          op match {
            case "update" =>
              val tok = s"c$c-$n"
              val v = trace.span("store.update") {
                store.update(streamId(k))(_ =>
                  Seq(EventDetail("Deposited", s"""{"amount":$amount,"op":"$tok"}""")))
              }
              val want = version.getOrElse(k, events) + 1
              if (v != want) wrong += s"update ${streamId(k)} returned version $v, expected $want"
              balance(k) = balanceOf(k) + amount
              version(k) = v
              acked += tok
            case "retrieve" =>
              val got = trace.span("store.retrieve")(store.retrieve(streamId(k)))
              val (wantB, wantV) = (balanceOf(k), version.getOrElse(k, events))
              if (got.state != wantB || got.version != wantV)
                wrong += s"retrieve ${streamId(k)} = (${got.state}, v${got.version}), expected ($wantB, v$wantV)"
            case "poll" =>
              val ids = trace.span("log.poll") {
                log.outboxBatch(cursor, 20).select("id").collect().map(_.getString(0))
              }
              if (ids.length > 20 || ids.zip(ids.drop(1)).exists { case (a, b) => a >= b } ||
                  ids.headOption.exists(_ <= cursor))
                wrong += s"outboxBatch after '$cursor' returned an unordered or stale batch"
              ids.lastOption.foreach(cursor = _)
          }
          if (measured) {
            lat(op) += (System.nanoTime() - t0) / 1e6
            measuredOk += 1
          }
        } catch {
          case e: Exception =>
            if (e.isInstanceOf[ConcurrentModificationException]) conflicts.increment()
            failed(op) += 1
            if (measured) lat(op) += Double.PositiveInfinity
            System.err.println(s"[serve] $op failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        now = System.currentTimeMillis()
      }
    }
  }

  def run(): Result = {
    // several set-ups, each on a fresh log; the last one serves the load
    val built = (1 to setups).map { i =>
      val t0 = System.nanoTime()
      val s = setUp(i)
      val dt = (System.nanoTime() - t0) / 1e9
      Main.mark(s"set-up $i done")
      if (i < setups) s._2.stop()
      (s, dt)
    }
    val setupS = built.map(_._2)
    val ((log, query, caught), _) = built.last
    val gates = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    gates += (("catchup delivered the import", caught == streams.toLong * events,
      s"catchup delivered $caught of ${streams.toLong * events}"))
    val preLoadDeliveries = deliveredIds.size
    val store = new EventStore[Long](log, Account)
    beforeLoad()

    val measureFrom = System.currentTimeMillis() + (warmup * 1000).toLong
    val deadline = measureFrom + (seconds * 1000).toLong
    val clients = (0 until Clients).map(c => new Client(c, store, log, measureFrom, deadline))
    clients.foreach(_.start())
    Thread.sleep(math.max(0L, measureFrom - System.currentTimeMillis()))
    Main.mark("warm-up done")
    val tStart = trace.nowMs()
    val gc0 = Main.gcMs()
    val cpu0 = Main.cpuNs()
    clients.foreach(_.join())
    val tEnd = trace.nowMs()
    Main.mark("load done")
    val cpuS = (Main.cpuNs() - cpu0) / 1e9
    val gcS = (Main.gcMs() - gc0) / 1e3
    val wallS = (tEnd - tStart) / 1e3
    val progress = query.recentProgress.filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= tStart)

    // drain the projector, then check every acknowledged update arrived once
    query.processAllAvailable()
    query.stop()
    Main.mark("projector drained")
    val acked = clients.flatMap(_.acked).toSet
    val tokens = deliveredTokens.asScala
    val missing = acked.count(t => !tokens.contains(t))
    val dup = tokens.count(_._2 != 1) + deliveredIds.asScala.count(_._2 != 1)
    val extra = tokens.keySet.count(t => !acked.contains(t)) + untokened.sum.toInt
    gates += (("live delivered every acknowledged update exactly once",
      preLoadDeliveries == 0 && missing == 0 && dup == 0 && extra == 0,
      s"missing $missing, duplicated $dup, unacknowledged $extra, delivered before load $preLoadDeliveries"))

    // final versions and balances of every touched stream, in one scan
    val model = clients.flatMap(cl => cl.version.keys.map(k => streamId(k) -> (cl.version(k), cl.balance(k)))).toMap
    val seen = if (model.isEmpty) Map.empty[String, (Int, Long, Long)] else log.activeEvents
      .filter(col("aggregate_id").isin(model.keys.toSeq: _*))
      .groupBy("aggregate_id")
      .agg(max("aggregate_version"), count(lit(1)),
        sum(get_json_object(col("body"), "$.amount").cast("long")))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    val badStreams = model.count { case (id, (v, b)) => !seen.get(id).contains((v, v.toLong, b)) }
    gates += (("final version = imported + acknowledged updates; balances match the model",
      badStreams == 0, s"$badStreams of ${model.size} touched streams disagree"))
    val wrong = clients.flatMap(_.wrong)
    gates += (("every retrieve, update and poll answer matched the model", wrong.isEmpty,
      wrong.take(3).mkString("; ")))

    val lat = Seq("update", "retrieve", "poll").map(op => op -> clients.flatMap(_.lat(op)).toSeq).toMap
    val attempted = clients.map(_.attempted.values.sum).sum
    val failed = clients.map(_.failed.values.sum).sum
    val okOps = clients.map(_.measuredOk).sum
    val lags = lagsMs.asScala.toSeq.collect { case (minted, lag) if minted >= measureFrom => lag }
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupS), "s", setupS.size),
      Metric("ops_per_s", okOps / wallS, "1/s", okOps),
      Metric("latency_ms", Stats.median(lat("update")), "ms", lat("update").size),
      Metric("cpu_ms_per_op", if (okOps == 0) 0.0 else cpuS * 1e3 / okOps, "ms", okOps))
    val detail = Seq(
      Metric("update_p50_ms", Stats.median(lat("update")), "ms", lat("update").size),
      Metric("update_p90_ms", Stats.quantile(lat("update"), 0.9), "ms", lat("update").size),
      Metric("retrieve_p50_ms", Stats.median(lat("retrieve")), "ms", lat("retrieve").size),
      Metric("poll_p50_ms", Stats.median(lat("poll")), "ms", lat("poll").size),
      Metric("lag_p50_ms", Stats.median(lags), "ms", lags.size),
      Metric("lag_p90_ms", Stats.quantile(lags, 0.9), "ms", lags.size)) ++
      Seq("update", "retrieve", "poll").flatMap(op => Seq(
        Metric(s"$op.attempted", clients.map(_.attempted(op)).sum, "count", 1),
        Metric(s"$op.failed", clients.map(_.failed(op)).sum, "count", 1)))

    val layer = if (!trace.enabled) Seq.empty else {
      // every job and task end of the window must reach the listener first
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      val st = log.stats()
      val updates = clients.map(_.attempted("update")).sum
      val batchMs = progress.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble)).toSeq
      val streamJobs = trace.jobs.values.asScala.count(j => j.layer == "streaming" && j.start >= tStart && j.start <= tEnd)
      Layers.window(trace, tStart, tEnd, gcS, Seq((tStart, tEnd))) ++
        Layers.spanStats(trace, "store.update", tStart, tEnd) ++
        Layers.spanStats(trace, "store.retrieve", tStart, tEnd, inputBytes = true) ++
        Layers.spanStats(trace, "log.poll", tStart, tEnd) ++ Seq(
          Metric("log.conflicts_per_update", if (updates == 0) 0.0 else clients.map(_.conflicts.sum).sum.toDouble / updates, "ratio", updates),
          Metric("log.event_files_end", st.eventFiles, "count", 1),
          Metric("log.max_files_per_bucket_end", st.maxFilesPerBucket, "count", 1),
          Metric("streaming.batches", progress.length, "count", 1),
          Metric("streaming.batch_p50_ms", Stats.median(batchMs), "ms", batchMs.size),
          Metric("streaming.jobs_per_batch", if (progress.isEmpty) 0.0 else streamJobs.toDouble / progress.length, "count", progress.length),
          Metric("streaming.lag_p50_ms", Stats.median(lags), "ms", lags.size),
          Metric("streaming.delivered_per_acked",
            if (acked.isEmpty) 0.0 else tokens.values.sum.toDouble / acked.size, "ratio", acked.size))
    }
    Result(e2e, detail, layer, gates.toSeq, attempted, failed)
  }
}
