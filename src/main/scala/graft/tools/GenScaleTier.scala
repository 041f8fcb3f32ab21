package graft.tools

import org.apache.spark.sql.functions._

/** Persistent scale-tier generator: synthesize the full bench table set at
  * `factor`× the base tier's row counts, schema- and distribution-compatible
  * with the driver's testdata (TESTDATA.md), so `SparkEntry.queries` and
  * `graft.Bench` run unchanged against the output directory —
  *
  * {{{ runMain graft.tools.GenScaleTier /root/testdata/sf0.1 data/sf1 10 }}}
  *
  * builds the ~sf1 tier (6M lineitem / 1.5M orders / 1M events / 50k docs /
  * 20k embeddings) the per-round bench can't see at sf0.1: the tier where
  * a quadratic candidate set or an accidental per-row driver loop turns
  * from noise into the dominant term. `tools/bench_sf_ratio.py` compares
  * the per-query sf0.1 vs sf1 timings (BENCH JSON lines) — ratios well
  * beyond `factor` are the round's bug list.
  *
  * Deterministic (xxhash64-derived, no RNG); fixed dimension tables
  * (region, nation) are copied from the base tier verbatim. Value domains
  * mirror the driver's testdata (event types click/view/purchase/error/
  * signup, order status O/F/P, the ~30-word document vocabulary with
  * planted exact-dup and near-dup pairs at the base tier's sparse rates).
  */
object GenScaleTier {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenScaleTier <baseDir> <outDir> [factor]")
    val (base, out) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Scale.session("graft-genscaletier")

    def n(table: String): Long =
      spark.read.parquet(s"$base/$table.parquet").count() * factor

    // fixed-size dimensions: identical at every scale factor (TPC-H shape)
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    val nCust = n("customer")
    val nSupp = n("supplier")
    val nPart = n("part")
    val nOrders = n("orders")
    val nUsers = 5000L * factor

    spark.range(nCust).select(
        col("id").as("c_custkey"),
        concat(lit("Customer#"), col("id")).as("c_name"),
        pmod(xxhash64(col("id") * 73), lit(25)).cast("int").as("c_nationkey"),
        (pmod(xxhash64(col("id") * 79), lit(100000)) / 10.0).as("c_acctbal"),
        element_at(array(lit("BUILDING"), lit("AUTOMOBILE"), lit("MACHINERY"),
            lit("HOUSEHOLD"), lit("FURNITURE")),
          (pmod(xxhash64(col("id") * 83), lit(5)) + 1).cast("int")).as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    spark.range(nSupp).select(
        col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        pmod(xxhash64(col("id") * 89), lit(25)).cast("int").as("s_nationkey"),
        (pmod(xxhash64(col("id") * 97), lit(1000000)) / 100.0).as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    val adjectives = array(Seq("large", "hot", "blue", "small", "red", "green",
      "cold", "dark", "light", "round").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "screw", "plate", "wheel", "gear",
      "pipe", "valve", "spring", "disk").map(lit): _*)
    spark.range(nPart).select(
        col("id").as("p_partkey"),
        concat(
          element_at(adjectives, (pmod(xxhash64(col("id") * 3), lit(10)) + 1).cast("int")),
          lit(" "),
          element_at(nouns, (pmod(xxhash64(col("id") * 5), lit(10)) + 1).cast("int")))
          .as("p_name"),
        concat(lit("Brand#"),
          (pmod(xxhash64(col("id") * 7), lit(25)) + 1)).as("p_brand"),
        element_at(array(lit("ECONOMY"), lit("LARGE"), lit("MEDIUM"),
            lit("PROMO"), lit("SMALL"), lit("STANDARD")),
          (pmod(xxhash64(col("id") * 11), lit(6)) + 1).cast("int")).as("p_type"),
        (pmod(xxhash64(col("id") * 13), lit(50)) + 1).cast("int").as("p_size"),
        (lit(900.0) + pmod(col("id"), lit(1000)) / 10.0).as("p_retailprice"))
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    spark.range(nOrders).select(
        col("id").as("o_orderkey"),
        pmod(xxhash64(col("id") * 41), lit(nCust)).as("o_custkey"),
        element_at(array(lit("O"), lit("F"), lit("P")),
          (pmod(xxhash64(col("id") * 43), lit(3)) + 1).cast("int")).as("o_orderstatus"),
        ((pmod(xxhash64(col("id") * 47), lit(100000)) + 1000) * 1.0).as("o_totalprice"),
        to_timestamp(date_add(lit("1992-01-01").cast("date"),
          pmod(xxhash64(col("id") * 53), lit(2500)).cast("int"))).as("o_orderdate"),
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
            lit("4-NOT SPECIFIED"), lit("5-LOW")),
          (pmod(xxhash64(col("id") * 59), lit(5)) + 1).cast("int")).as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    spark.range(n("lineitem")).select(
        pmod(xxhash64(col("id") * 3), lit(nOrders)).as("l_orderkey"),
        pmod(xxhash64(col("id") * 7), lit(nPart)).as("l_partkey"),
        pmod(xxhash64(col("id") * 11), lit(nSupp)).as("l_suppkey"),
        (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
        (pmod(xxhash64(col("id") * 13), lit(50)) + 1).cast("double").as("l_quantity"),
        ((pmod(xxhash64(col("id") * 17), lit(100000)) + 900) * 1.0).as("l_extendedprice"),
        (pmod(xxhash64(col("id") * 19), lit(11)) / 100.0).as("l_discount"),
        (pmod(xxhash64(col("id") * 23), lit(9)) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(xxhash64(col("id") * 29), lit(3)) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (pmod(xxhash64(col("id") * 31), lit(2)) + 1).cast("int")).as("l_linestatus"),
        to_timestamp(date_add(lit("1992-01-01").cast("date"),
          pmod(xxhash64(col("id") * 37), lit(2500)).cast("int"))).as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // ts must be MONOTONE in event_id (the driver's testdata property, and
    // bulkImport's documented invariant: per stream, seq order must not
    // decrease in time — a hash-random ts violated it for ~half the rows
    // and the import's ULID clamp then rightly flattened the readback
    // times). Microsecond jitter < the slot stride keeps ts strictly
    // increasing, collision-free, and off exact session-gap boundaries
    // (whole-second ts produced exact 30-min gaps that trip tie semantics).
    val evStartUs = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC
    val evStepUs = (86400L * 30 * 1000000L) / math.max(1L, n("events"))
    spark.range(n("events")).select(
        col("id").as("event_id"),
        timestamp_micros(lit(evStartUs) + col("id") * lit(evStepUs) +
          pmod(xxhash64(col("id")), lit(evStepUs))).as("ts"),
        pmod(xxhash64(col("id") * 61), lit(nUsers)).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("purchase"),
            lit("error"), lit("signup")),
          (pmod(xxhash64(col("id") * 67), lit(5)) + 1).cast("int")).as("event_type"),
        (pmod(xxhash64(col("id") * 71), lit(10000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(xxhash64(col("id") * 73), lit(100)),
          lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // documents: variable 8–80 token length, planted structure at the base
    // tier's SPARSE rates — every 500th doc exactly duplicates its
    // predecessor, every 100th (not also ≡0 mod 500) near-duplicates it
    // (token 3 swapped). Dup density must stay sparse: a dense planted
    // structure would turn the dedup queries' candidate volume quadratic
    // and invalidate the ratio comparison. The VOCABULARY must scale with
    // the factor for the same reason: the testdata's ~30 words at 100×
    // the docs make every pair of unrelated documents collide in the
    // minhash buckets (measured at factor 100: 340M candidate pairs from
    // 500k docs — a ~n² explosion that measures the corpus's collapsed
    // shingle space, not the engine). 30 tokens per base-tier doc-count
    // unit keeps per-bucket density at the base tier's rate.
    val vocabSize = math.max(30L, 30L * factor)
    val baseId = when(pmod(col("id"), lit(500)) === 1, col("id") - 1)
      .when(pmod(col("id"), lit(100)) === 1, col("id") - 1)
      .otherwise(col("id"))
    val nTok = (pmod(xxhash64(baseId * 131), lit(73)) + 8).cast("int")
    val words = transform(sequence(lit(0), nTok - 1), j =>
      concat(lit("w"),
        pmod(xxhash64(baseId * lit(211) + j.cast("long") +
          // the near-dup (≡1 mod 100, not ≡1 mod 500) swaps token 3 only
          when(pmod(col("id"), lit(100)) === 1 &&
            pmod(col("id"), lit(500)) =!= 1 && j === 3, col("id"))
            .otherwise(lit(0L))), lit(vocabSize))))
    spark.range(n("documents")).select(
        col("id").as("doc_id"),
        concat_ws(" ", words).as("text"),
        element_at(array(lit("en"), lit("en"), lit("en"), lit("en"),
            lit("en"), lit("en"), lit("en"), lit("en"), lit("de"), lit("de"),
            lit("de"), lit("zh"), lit("zh"), lit("zh"), lit("fr"), lit("fr"),
            lit("fr"), lit("es"), lit("es"), lit("es")),
          (pmod(xxhash64(col("id") * 139), lit(20)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    spark.range(n("embeddings")).select(
        col("id").as("vec_id"),
        array((0 until 64).map(j =>
          (pmod(xxhash64(col("id") * 67 + j), lit(1000)) / 500.0 - 1.0)
            .cast("float")): _*).as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"GENTIER wrote ${factor}x tier to $out")
    spark.stop()
  }
}
