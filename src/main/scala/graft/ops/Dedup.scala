package graft.ops

import graft.Checkpoints.Ownable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Checkpoints

/** Deduplication operators: exact (fingerprint group-by), MinHash+LSH banded
  * candidate generation, SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every step is a hash-bucket shuffle, never an all-pairs
  * product — candidate pairs come from banded signature buckets (documents
  * only meet if a band collides), and the quadratic Jaccard verify runs on
  * the candidate set only. Hash functions are md5-derived so results are
  * engine-portable (and DuckDB-checkable).
  */
object Dedup {

  /** Word n-gram shingles from a MATERIALIZED token-array column (empty if
    * fewer than n tokens — mirrors the `len(ws) >= n` guard on the SQL side;
    * without it, `sequence(0, negative)` would count DOWN and corrupt the
    * shingle list).
    *
    * `ws` must be a plain column attribute, not the `split()` expression
    * itself: the transform references it ~3× per shingle, and Catalyst
    * re-evaluates non-attribute subexpressions per reference inside lambda
    * bodies — inlining the tokenizer here made shingling ~6× slower than
    * tokenizing (measured at sf0.1). Callers project tokens into a column
    * first (`withColumn("__ws", TextAnalysis.tokens(...))`); CollapseProject
    * keeps the projections separate because the expression is non-cheap and
    * multiply referenced.
    */
  def shinglesFromTokens(ws: Column, n: Int = 3): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - lit(n)),
        i => concat_ws(" ", (1 to n).map(j => element_at(ws, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Convenience single-expression form — see `shinglesFromTokens` for why
    * pipelines should materialize tokens first instead.
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), n)

  /** Exact dedup groups: fingerprint → surviving (minimum) id + group size. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signatures: one row per (id, band) with the band's min-hash over
    * the shingle set. `bands` independent hash functions are derived by
    * salting md5 with the band index.
    */
  /** The classic universal-hash MinHash family: `h_b(x) = (a_b·x + c_b) mod p`
    * over ONE base hash `x` per shingle. Constants are fixed primes; p =
    * 2^31−1 keeps `a·x` inside signed 64-bit. One md5 per shingle (not per
    * band) and no band explode: the per-band minima are `bands` aggregate
    * columns over the same shingle rows, unpivoted afterwards — the shuffle
    * carries |shingles| rows instead of |shingles|·bands.
    */
  private val MinhashP = 2147483647L // 2^31 − 1
  private val MinhashA = Seq(1299721L, 50331653L, 2750159L, 198491317L)
  private val MinhashC = Seq(104729L, 15485863L, 32452843L, 982451653L)

  /** The distinct shingle set of every document: `(set_id, sh)`. This is the
    * ONE place the tokenize→shingle work happens when stages share it —
    * callers running multiple stages (LSH + verify, the d4/d6 shape)
    * `localCheckpoint()` the result and pass it to the `...FromSets`
    * variants, halving the dominant md5/concat work. MinHash over the
    * distinct set equals MinHash over the multiset (min is duplicate-
    * invariant), so candidates are unchanged.
    *
    * Do NOT `explode(col("sh"))` on this frame without a checkpoint in
    * between: CollapseProject merges the projections and inlines the
    * tokenizer into the shingle lambda (O(tokens²) per row — see
    * `containment`'s shingleRows for the safe Project→Generate shape).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame =
    df.select(col(idCol).as("set_id"), TextAnalysis.tokens(col(textCol)).as("__ws"))
      .select(col("set_id"),
        array_distinct(shinglesFromTokens(col("__ws"), shingleSize)).as("sh"))

  /** NOTE on shape history: per-row SQL-lambda formulations (array_min over
    * a transform) measured SLOWER — CollapseProject inlines once-referenced
    * arrays into iterating lambdas and re-derives them per iteration — and
    * the explode→groupBy form that replaced them was correct but paid a
    * shuffle (bands longs/doc) plus explode/agg machinery. The codegen'd
    * [[graft.functions.MinhashSigs]] expression has neither problem: one
    * tight per-row loop, tokens/shingles/md5 computed exactly once, ZERO
    * shuffle for the signature stage. Values are identical (min is
    * duplicate- and order-invariant).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, shingleSize: Int = 3): DataFrame = {
    require(bands <= MinhashA.length, s"at most ${MinhashA.length} bands configured")
    // shingling happens INSIDE the expression (token array = single child
    // reference): a separate shingle-array projection here collapses into
    // the tokenizer re-evaluation trap (measured 6× on d2 at sf0.1)
    // fanOut deliberately NOT applied: the codegen'd signer is cheap per
    // row (~0.3 ms/doc) and its callers sign corpus SLICES — the exchange
    // cost exceeded the single-task compute at every measured tier
    // (d17 +1.8 s, d2 +0.4 s at sf0.1)
    df.select(col(idCol).as("mh_id"), graft.functions.minhash_shingle_sigs(
        TextAnalysis.tokens(col(textCol)), shingleSize,
        MinhashA.take(bands), MinhashC.take(bands), MinhashP).as("__sigs"))
      .select(col("mh_id"), posexplode(col("__sigs")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
  }

  /** LSH candidate pairs: ids sharing any (band, signature) bucket.
    * Implemented as ONE aggregation to bucket id-lists plus an in-bucket
    * pair expansion — a signature self-join would execute the whole
    * shingle→minhash subplan twice and shuffle it twice; this computes it
    * once and only ever materializes pairs inside a colliding bucket (bucket
    * sizes are tiny for real near-dup workloads, so the expansion is linear
    * in candidates, never quadratic in the corpus).
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, shingleSize: Int = 3,
      maxBucketSize: Option[Int] = None): DataFrame =
    lshFromSignatures(minhashSignatures(df, idCol, textCol, bands, shingleSize),
      maxBucketSize)

  /** MinHash signatures computed from a (materialized) shingle-set frame —
    * skips re-tokenizing when the sets are shared with verification. Same
    * zero-shuffle [[graft.functions.MinhashSigs]] projection as
    * [[minhashSignatures]] (min over the distinct set == over the multiset).
    */
  def minhashSignaturesFromSets(sets: DataFrame, bands: Int = 4): DataFrame = {
    require(bands <= MinhashA.length, s"at most ${MinhashA.length} bands configured")
    sets.select(col("set_id").as("mh_id"), graft.functions.minhash_sigs(
        col("sh"), MinhashA.take(bands), MinhashC.take(bands), MinhashP).as("__sigs"))
      .select(col("mh_id"), posexplode(col("__sigs")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
  }

  def lshCandidatePairsFromSets(sets: DataFrame, bands: Int = 4,
      maxBucketSize: Option[Int] = None): DataFrame =
    lshFromSignatures(minhashSignaturesFromSets(sets, bands), maxBucketSize)

  /** `maxBucketSize`: skew guard for web-scale corpora. Boilerplate-heavy
    * text (license headers, templated pages) lands thousands of documents in
    * one (band, sig) bucket, and the in-bucket pair expansion is quadratic in
    * the bucket — one pathological bucket then dominates the whole job. A cap
    * drops ONLY oversized buckets (a doc pair colliding in any other band
    * still becomes a candidate), trading recall on exactly the near-identical
    * boilerplate clusters an exact-dedup pass upstream catches anyway.
    * The cap is opt-in and never silent: dropped buckets are counted and
    * logged, so a run that truncated candidates says so (default None =
    * expand everything — the oracle-checked d2/d4/d6 behavior).
    */
  private def lshFromSignatures(signatures: DataFrame,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val buckets = signatures
      .groupBy(col("band"), col("sig"))
      .agg(collect_list(col("mh_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    val kept = maxBucketSize match {
      case None => buckets
      case Some(cap) =>
        val b = buckets.checkpointOwned() // consumed twice: count + expand
        val dropped = b.filter(size(col("ids")) > cap)
          .agg(count(lit(1)), sum(size(col("ids")))).collect()(0)
        if (!dropped.isNullAt(0) && dropped.getLong(0) > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"lsh: dropped ${dropped.getLong(0)} buckets over cap=$cap " +
              s"(${dropped.getLong(1)} member rows); recall loss is confined " +
              "to boilerplate clusters - run exact dedup upstream")
        b.filter(size(col("ids")) <= cap)
    }
    kept
      .withColumn("ids", array_sort(col("ids")))
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("ids")) - 1),
        i => transform(
          slice(col("ids"), i + 1, size(col("ids")) - i),
          b => struct(element_at(col("ids"), i).as("doc_a"), b.as("doc_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** Jaccard similarity of the distinct shingle sets, computed only for the
    * given candidate pairs (columns doc_a, doc_b).
    */
  def jaccardVerify(df: DataFrame, candidates: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, threshold: Double = 0.0): DataFrame =
    // materialized once: both join sides (doc_a, doc_b) consume the same
    // shingle sets — without the checkpoint the whole tokenize+shingle
    // subplan runs twice
    jaccardVerifyFromSets(
      shingleSets(df, idCol, textCol, shingleSize).checkpointOwned(),
      candidates, threshold)

  /** Verification against pre-built (normally checkpointed) shingle sets.
    *
    * The pair joins are PINNED to sort-merge: the sets side carries array
    * columns whose planner width estimate is a fixed few bytes, so a
    * corpus-sized shingle frame can estimate under the broadcast threshold
    * and the planner then ships every shingle in the corpus through one
    * BroadcastExchange — measured at sf10 (500k docs, 340M candidate
    * pairs from a 30-word vocabulary): 15 scan tasks returning 1.08 GB of
    * task results, over maxResultSize, query dead. Neither side is
    * reliably small (candidate volume is corpus-dependent and unbounded),
    * so SMJ is the only always-safe strategy; each leg is additionally
    * semi-pruned to the candidate ids so the shuffled sets sliver is the
    * candidates' shingles, not the corpus's. The candidate subplan appears
    * three times but executes once (ReuseExchange).
    */
  /** When the caller's `sets` frame is a localCheckpoint whose ACTUAL
    * materialized size (block-manager metadata, zero jobs — never a
    * planner estimate) fits under this many bytes, the verify legs
    * broadcast the whole set frame instead of semi-prune + sort-merge:
    * zero exchanges, candidates stream. The default is far under the
    * driver/broadcast limits even after the deserialized-blocks ↔ wire
    * inflation; production tuning goes through the conf, and any
    * non-materialized or over-size sets frame (the 100 TB shapes) keeps
    * the pinned SMJ plan documented above — the sf10 340M-pair corpus
    * that killed the ungated auto-broadcast stays on sort-merge because
    * its measured size fails the gate, not because an estimate does.
    */
  private val broadcastSetsMaxBytesConf = "spark.graft.jaccard.broadcastSetsMaxBytes"
  private val broadcastSetsMaxBytesDefault = 64L * 1024 * 1024

  def jaccardVerifyFromSets(sets: DataFrame, candidates: DataFrame,
      threshold: Double = 0.0): DataFrame = {
    val maxBytes = sets.sparkSession.conf
      .getOption(broadcastSetsMaxBytesConf).map(_.toLong)
      .getOrElse(broadcastSetsMaxBytesDefault)
    val small = org.apache.spark.sql.graftbridge.Bridge
      .materializedLeafSize(sets).exists(_ <= maxBytes)
    def legSmj(side: String) = sets
      .join(candidates.select(col(side).as("set_id")).distinct(),
        Seq("set_id"), "semi")
      .select(col("set_id").as(side), col("sh").as(s"sh_$side"))
      .hint("merge")
    // measured-size-gated broadcast (guide §3.1): join output is strategy-
    // invariant, so both shapes produce identical rows
    def leg(side: String) =
      if (small) broadcast(
        sets.select(col("set_id").as(side), col("sh").as(s"sh_$side")))
      else legSmj(side)
    candidates
      .join(leg("doc_a"), Seq("doc_a"))
      .join(leg("doc_b"), Seq("doc_b"))
      .withColumn("jaccard",
        round(graft.functions.jaccard_sim(col("sh_doc_a"), col("sh_doc_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** 32-bit SimHash over the token multiset: per bit, sum ±1 contributions of
    * every token hash; bit set iff the sum is positive. ONE codegen'd
    * expression per row ([[graft.functions.SimhashPacked]]) — fingerprinting
    * is a pure projection with NO shuffle at all. Earlier shapes, both
    * measured and both beaten: explode → 32 sum columns → groupBy shuffled
    * 32 ints per document (fine, but a shuffle); collect_list + post-shuffle
    * bit loops shipped every token hash (~2× worse at sf0.1). Bit-sums are
    * order-independent, so all three forms are value-identical.
    */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("sh_id"),
      graft.functions.simhash_packed(TextAnalysis.tokens(col(textCol)), 32)
        .as("simhash"))
      // null text → no fingerprint row (the explode→groupBy form's
      // behavior); note rows are per INPUT ROW — a duplicated id yields two
      // fingerprints where the old groupBy silently merged token multisets
      .where(col("simhash").isNotNull)

  /** 64-bit SimHash — [[simhash32]] at the 64-bit token hash (the low-64
    * md5, `tokenHash64`). The extra width exists for BANDING: 4×16-bit bands
    * give 65536 buckets per band instead of simhash32's 256, which is what
    * keeps the in-bucket pair expansion linear on a homogeneous web corpus
    * (see [[simhashPairs]]). Same zero-shuffle projection shape.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("sh_id"),
      graft.functions.simhash_packed(TextAnalysis.tokens(col(textCol)), 64)
        .as("simhash"))
      .where(col("simhash").isNotNull) // null text → no row (see simhash32)

  /** Near-dup groups as connected components of the verified pair graph,
    * via `rounds` iterations of min-label propagation (one hop per round —
    * near-dup clusters are shallow, so a small fixed `rounds` converges;
    * fixed rounds also keep the operator deterministic and SQL-mirrorable).
    * Returns (id, component, is_survivor): the component's minimum id is the
    * kept document — the end-user dedup operator (feed `filter(is_survivor)`
    * into the next pipeline stage).
    */
  /** `materializeSets` picks the shingle-set strategy by duplicate DENSITY,
    * the axis that decides which shape wins (both measured):
    *
    * - `true` (default): checkpoint one corpus-wide shingle-set frame and
    *   feed signatures AND verification from it — one tokenize+shingle pass
    *   total. Fastest when candidates cover much of the corpus (the sf0.1
    *   bench corpus is adversarially dense: tiny vocabulary, heavy
    *   collisions), and fine whenever ~shingles×|corpus| strings fit the
    *   cluster's storage-memory.
    * - `false`: the huge-corpus shape. Corpus-sized data only STREAMS — the
    *   LSH pass shuffles 4 signature longs/doc, and shingle sets are rebuilt
    *   solely for docs appearing in a candidate pair (semi-join sliver).
    *   Nothing corpus-sized is ever materialized; re-shingling the sliver is
    *   the price, and on a realistically sparse corpus it is the cheaper
    *   side too (1M-doc smoke: 24.1s vs 26.3s materialized, with 20% of the
    *   corpus in candidate pairs). At 100 TB this is the only shape that
    *   survives.
    */
  /** `exact = true` swaps the fixed-round label propagation for
    * [[connectedComponents]] (large-star/small-star to convergence):
    * diameter-proof component labels at the cost of a data-dependent round
    * count (`rounds` is then ignored). Use it when duplicate families can
    * CHAIN (templated/boilerplate corpora); the default stays fixed-round
    * for the shallow-cluster common case and SQL mirrorability.
    */
  def dedupSurvivors(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, rounds: Int = 3, shingleSize: Int = 3,
      maxBucketSize: Option[Int] = None,
      materializeSets: Boolean = true,
      exact: Boolean = false): DataFrame = {
    val (pairs0, scratch) = if (materializeSets) {
      val sets = shingleSets(df, idCol, textCol, shingleSize).checkpointOwned()
      (jaccardVerifyFromSets(sets,
        lshCandidatePairsFromSets(sets, maxBucketSize = maxBucketSize),
        threshold), Seq(sets))
    } else {
      val cand = lshCandidatePairs(df, idCol, textCol, shingleSize = shingleSize,
          maxBucketSize = maxBucketSize)
        .checkpointOwned() // consumed twice: candidate-doc prune + verify join
      val candIds = cand.select(col("doc_a").as(idCol))
        .union(cand.select(col("doc_b"))).distinct()
      (jaccardVerifyFromSets(
        shingleSets(df.join(candIds, Seq(idCol), "semi"), idCol, textCol,
          shingleSize),
        cand, threshold), Seq(cand))
    }
    val pairs = pairs0.select(col("doc_a"), col("doc_b"))
    val ns = df.select(col(idCol).as("node"))
    val labeled =
      if (exact) connectedComponents(ns, pairs)
      else labelPropagation(ns, pairs, rounds)
    // Both component engines consume `pairs` eagerly (their first act is
    // checkpointing the edge set), so the shingle/candidate scratch frames
    // are dead by the time they return — release, don't wait for a GC.
    Checkpoints.release(scratch: _*)
    labeled
      .select(col("node").as(idCol), col("label").as("component"),
        (col("node") === col("label")).as("is_survivor"))
  }

  /** Min-label propagation over an undirected pair graph (`doc_a`, `doc_b`):
    * `rounds` one-hop iterations of taking the minimum label among self and
    * neighbors. Returns `(node, label)` — nodes sharing a label after
    * convergence are one near-dup component. Shared by the text (d6) and
    * embedding (d7) survivor operators; any near-dup pair source plugs in.
    *
    * Scale shape: only nodes incident to an edge can ever change label, so
    * the iteration runs over the TOUCHED node set (distinct edge endpoints)
    * and the untouched majority joins back once at the end as singleton
    * components. Propagation cost is proportional to the near-dup GRAPH —
    * typically a sliver of the corpus — not the corpus itself: at 100 TB the
    * per-round shuffles move megabytes, and iterating never re-shuffles the
    * full document id set.
    *
    * PRECONDITION: every pair endpoint must be a member of `nodes`. Labels
    * seed from edge endpoints (that is what keeps the iteration off the full
    * corpus), so a foreign endpoint would propagate as a component's minimum
    * label and leave that component without a `node === label` survivor. All
    * in-engine pair sources (LSH/SimHash/embedding candidates) derive pairs
    * from the node frame itself and satisfy this by construction; callers
    * feeding external pair lists must pre-filter them (semi-join both
    * endpoint columns against `nodes`) — done here it would cost a shuffle
    * of the full corpus id set per call, which this operator exists to avoid.
    */
  def labelPropagation(nodes: DataFrame, pairs: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "labelPropagation needs at least one round")
    val edges = pairs.select(col("doc_a"), col("doc_b"))
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .checkpointOwned() // consumed once per round
    // Labels seed as the identity on touched nodes, so round 1 collapses to
    // ONE aggregation: label₁(src) = least(src, min(dst)). Fusing it in
    // skips both the seed-distinct shuffle and round 1's join (~15% of d6
    // at sf0.1); rounds 2+ need the real join because neighbor labels are
    // no longer the neighbor ids.
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("node"), col("label"))
    var prevCut: Option[DataFrame] = None // last mid-loop checkpoint, if any
    (2 to rounds).foreach { r =>
      val neighborMin = edges
        .join(labels.select(col("node").as("dst"), col("label").as("dlabel")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("dlabel")).as("nlabel"))
      labels = labels
        .join(neighborMin.withColumnRenamed("src", "node"), Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // Cut lineage every few rounds, not every round: each checkpoint is a
      // blocking job, and a 2-3-join-deep tree is exactly what AQE handles
      // well in one shot. Unconditional per-round checkpointing measured
      // ~25% of d6's wall time at sf0.1. Each cut releases the superseded
      // one — at most one mid-loop block set lives at a time.
      if (r % 4 == 0 && r < rounds) {
        labels = prevCut match {
          case Some(p) => Checkpoints.advance(p, labels)
          case None => labels.checkpointOwned()
        }
        prevCut = Some(labels)
      }
    }
    // Checkpoint the converged labels (bounded by 2·|pairs| rows — tiny)
    // so the singleton back-join sees exact sizes and broadcasts instead of
    // sort-merge-shuffling the full corpus id set. Once it materializes,
    // the edge set and any mid-loop cut are dead — release them.
    val converged = labels.checkpointOwned()
    Checkpoints.release(edges +: prevCut.toSeq: _*)
    nodes.join(converged, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  /** EXACT connected components of an undirected pair graph via alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Same (nodes, pairs) →
    * (node, label) contract as [[labelPropagation]], but converges to the
    * TRUE components: each label is the minimum id of its component, for
    * any graph shape.
    *
    * Why this exists next to [[labelPropagation]]: fixed-round min-label
    * propagation advances one hop per round, so a duplicate CHAIN of
    * diameter D (doc₁≈doc₂≈…≈doc_D — common in boilerplate families and
    * templated pages) needs D rounds to collapse; at 3 rounds it silently
    * splits one component into many, electing several "survivors" from one
    * duplicate family. Large-star/small-star instead contracts the graph
    * itself each round — every node links toward its neighborhood minimum —
    * and converges in O(log²) rounds of the component size, independent of
    * diameter. Each round's shuffles run over the CURRENT edge set, which
    * only shrinks; like `labelPropagation`, cost is proportional to the
    * near-dup graph, never the corpus.
    *
    * Convergence is detected from the edge set itself (count + order-
    * insensitive hash sum): small-star emits every edge child→parent with
    * parent < child, a canonical orientation, so an unchanged signature
    * means an unchanged set — and a fixed point of both stars is a star
    * forest whose centers are component minima. `maxRounds` is a runaway
    * guard, not a tuning knob: at O(log²) convergence, 30 rounds covers any
    * physically storable graph; hitting it throws rather than returning
    * partially-merged components.
    *
    * Same PRECONDITION as [[labelPropagation]]: pair endpoints must be
    * members of `nodes` (all in-engine pair sources satisfy this by
    * construction).
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    // Large-star: every node links its LARGER neighbors to its neighborhood
    // minimum — long chains fold toward their minima in parallel.
    def largeStar(e: DataFrame): DataFrame = {
      val nbr = e.union(e.select(col("v"), col("u"))).toDF("u", "v")
      val mins = nbr.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      // only larger neighbors are emitted — filter BEFORE the join so half
      // the neighbor rows never shuffle into it. NO terminal distinct: the
      // round's set barrier is small-star's distinct (set-equal output);
      // deduplicating here costs a full (u,v) exchange per round for rows
      // small-star's aggregate absorbs anyway (r16 opt: one exchange less
      // per round, plan-verified, oracle-identical).
      nbr.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    }
    // Small-star: every node links itself and its SMALLER neighbors to the
    // minimum, canonicalizing each edge to child(>)→parent(<).
    //
    // Both output branches — (neighbor → min) per edge and (node → min) per
    // key — emit from the SAME joined row via one explode: the former
    // union's second branch (`mins.select(u, m)`) referenced `mins` a
    // second time, and since mins derives from `o`, the round's ENTIRE
    // upstream subtree (largeStar's join included) was planned and executed
    // once more per reference (r17 opt: one mins aggregation and one full
    // upstream evaluation fewer per round; plans/r17/cc_round_*.txt). The
    // (u, m) branch now emits once per edge instead of once per key —
    // set-equal after the terminal distinct, which was already the round's
    // set barrier.
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val mins = o.groupBy("u").agg(min(col("v")).as("m"))
      o.join(mins, "u")
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // (count, Σ xxhash64(u,v)) — an order-insensitive set signature; valid
    // because the edge orientation is canonical after small-star. The sum
    // runs in decimal(38,0): long sums of 64-bit hashes overflow under ANSI.
    // The signature rides an `observe` node ON the round's checkpoint pass
    // (CollectMetrics is a streaming pass-through — no extra exchange, no
    // plan change below it), so convergence detection costs ZERO extra
    // jobs: the former per-round signature aggregation was a second full
    // pass over the edge set, every round (r16 opt: one job and one edge
    // pass fewer per round).
    def signatureObs(): (org.apache.spark.sql.Observation,
        DataFrame => DataFrame) = {
      val obs = org.apache.spark.sql.Observation()
      (obs, df => df.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h")))
    }
    var e = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v")).distinct().checkpointOwned()
    // The input edges are not canonically oriented, so a signature of the
    // initial set can never legitimately match round 1's output — start
    // from a sentinel and save the extra aggregation job.
    var sig = (-1L, "")
    var round = 0
    var converged = false
    // The live round's edge set is released on EVERY exit — the
    // non-convergence refusal and a round that throws included — so a
    // failed contraction leaves no blocks behind either.
    val labels = try {
      while (!converged && round < maxRounds) {
        // Checkpoint each round (the convergence probe's metrics fire on this
        // same action, and the next round must not re-derive a growing
        // lineage) and RELEASE the superseded round's blocks explicitly — the
        // contraction holds one round's edge set in block storage, not all of
        // them (Checkpoints contract: the new checkpoint is eager, so the old
        // frame is fully consumed by the time advance releases it).
        // Materialize the half-round: lazily fused, smallStar's plan
        // references largeStar's output through both its join side and its
        // mins aggregate, so the largeStar join (a full pass over the round's
        // edge set) would execute TWICE inside one round's action. One extra
        // driver barrier per round buys largeStar-once — at 100 TB a full
        // recompute of a billions-of-edges join dwarfs a job launch (r17 opt;
        // measured on d15/d16 at sf0.1 too). Its blocks release once the
        // round's checkpoint materializes, or when the round throws.
        val (obs, tap) = signatureObs()
        e = Checkpoints.withCheckpointed(largeStar(e)) { half =>
          Checkpoints.advance(e, tap(smallStar(half)))
        }
        val m = obs.get
        val next = (m("n").asInstanceOf[Long], String.valueOf(m("h")))
        converged = next == sig
        sig = next
        round += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds " +
          s"(edges=${sig._1}) — the O(log²) bound makes this unreachable for " +
          "real graphs; refusing to return partially merged components")
      // observability at scale: round count is the operator's health metric
      // (shallow near-dup graphs converge in 2-3; growth means chaining)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"connectedComponents converged in $round rounds (final edges=${sig._1})")
      // Star forest → labels: children carry their root, roots carry
      // themselves; the untouched majority joins back as singletons.
      e.select(col("u").as("node"), col("v").as("label"))
        .union(e.select(col("v").as("node"), col("v").as("label")))
        .distinct()
        .checkpointOwned()
    } finally Checkpoints.release(e) // labels materialized; the star forest is dead
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  /** Incremental component maintenance: fold a NEW batch's pairs into an
    * existing `(node, label)` assignment (as produced by
    * [[connectedComponents]] — labels are component minima) without
    * re-walking the accumulated graph. The continuous-ingest twin of
    * [[connectedComponents]], same role `incrementalDedup` plays for the
    * pair screen.
    *
    * Only AFFECTED components recompute: components touched by a new-pair
    * endpoint are pulled (two label-keyed semi/anti passes over `existing` —
    * linear, no iteration), their membership re-enters the contraction as
    * already-contracted star edges (`node → label`), and the star alternation
    * runs over that sliver plus the new pairs. Untouched rows pass through
    * unchanged. The result is EXACTLY the assignment a full recompute over
    * (old ∪ new) pairs would produce: star edges preserve membership, so the
    * connectivity partition is identical, and each relabeled component's
    * minimum is its true overall minimum.
    *
    * PRECONDITIONS: `batchNodes` is disjoint from `existing`'s nodes (the
    * batch/corpus split of continuous ingest), and every `newPairs` endpoint
    * is in `batchNodes` or `existing` — same closed-world contract as
    * [[labelPropagation]].
    */
  def incrementalComponents(existing: DataFrame, batchNodes: DataFrame,
      newPairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    val touched = newPairs.select(col("doc_a").as("node"))
      .union(newPairs.select(col("doc_b")))
      .distinct()
    val touchedLabels = existing.join(touched, Seq("node"), "semi")
      .select(col("label")).distinct()
      .checkpointOwned() // consumed twice (semi + anti); sliver-sized
    val affected = existing.join(touchedLabels, Seq("label"), "semi")
    val starEdges = affected.filter(col("node") =!= col("label"))
      .select(col("node").as("doc_a"), col("label").as("doc_b"))
    val ccNodes = affected.select(col("node")).union(batchNodes)
    val relabeled = connectedComponents(ccNodes,
      starEdges.union(newPairs), maxRounds)
    existing.join(touchedLabels, Seq("label"), "anti")
      .select(col("node"), col("label"))
      .union(relabeled)
  }

  /** SimHash near-dup pairs: pigeonhole banding on the four 16-bit words of
    * the 64-bit fingerprint — two fingerprints within Hamming distance 3
    * differ in at most 3 bits, so at most 3 of the 4 words are touched and
    * at least one word collides: recall is TOTAL for `maxHamming ≤ 3`, no
    * all-pairs scan.
    *
    * Scale shape: a 16-bit band has 65536 possible values (the former 8-bit
    * banding had 256), so on a homogeneous N-doc corpus the in-bucket
    * self-join expands ~4·N²/65536 candidate pairs instead of ~4·N²/256 —
    * the difference between a linear-ish sliver and a quadratic blow-up at
    * web scale. The per-doc signature frame is one (id, long) row, so
    * checkpointing it and self-joining on (band, word) costs nothing to
    * recompute and streams the pairs through a codegen'd join with the
    * `bit_count(xor)` verify applied map-side before the dedup shuffle.
    */
  /** Drop `(band, word)` buckets holding more than `cap` members from a
    * banded fingerprint frame — the hot-bucket skew guard shared by the
    * simhash (text) and dHash (image) pair generators. A boilerplate class
    * (identical license headers; blank/template images) is ONE bucket that
    * pairs completely — quadratic in the class size — and at web scale one
    * such class dominates the whole job. The cap drops ONLY oversized
    * buckets (a pair colliding in any other word still surfaces), trades
    * recall on exactly the near-identical clusters an exact-dedup pass
    * upstream catches anyway, and is never silent: dropped buckets are
    * counted and logged (the `lshFromSignatures` contract). The count
    * frame is one row per populated bucket — bounded by the 4×65536 grid,
    * never by data.
    */
  private[ops] def capWordBuckets(bands: DataFrame, cap: Option[Int],
      what: String): DataFrame = cap match {
    case None => bands
    case Some(c) =>
      val over = bands.groupBy(col("band"), col("word"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > c)
        .checkpointOwned() // consumed twice: report + anti-join
      val dropped = over.agg(count(lit(1)), sum(col("__n"))).collect()(0)
      if (!dropped.isNullAt(0) && dropped.getLong(0) > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$what: dropped ${dropped.getLong(0)} (band, word) buckets over " +
            s"cap=$c (${dropped.getLong(1)} member rows); recall loss is " +
            "confined to near-identical clusters - run exact dedup upstream")
      bands.join(broadcast(over.select(col("band"), col("word"))),
        Seq("band", "word"), "anti")
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 2, maxBucketSize: Option[Int] = None): DataFrame = {
    require(maxHamming <= 3, "4x16-bit banding guarantees recall only to hamming 3")
    // (simhash >> 16k) & 0xffff extracts word k identically under arithmetic
    // or logical shift — the mask covers only real fingerprint bits
    val bands = capWordBuckets(
      simhash64(df, idCol, textCol).checkpointOwned()
        .select(col("sh_id"), col("simhash"), explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("word", expr("shiftright(simhash, band * 16)").bitwiseAND(65535)),
      maxBucketSize, "simhashPairs")
    bands.select(col("band"), col("word"), col("sh_id").as("doc_a"), col("simhash").as("ha"))
      .join(bands.select(col("band"), col("word"), col("sh_id").as("doc_b"),
        col("simhash").as("hb")), Seq("band", "word"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** Eval-set contamination check: for every (corpus doc, probe doc) pair
    * sharing at least one n-gram shingle, the CONTAINMENT of the probe in
    * the corpus doc — `|S(probe) ∩ S(corpus)| / |S(probe)|` — i.e. how much
    * of an eval/benchmark document leaked into the training corpus.
    * Asymmetric on purpose: a probe fully quoted inside a much larger
    * corpus doc scores 1.0 even though their Jaccard is tiny.
    *
    * Scale shape: probes (the eval set) are small next to the corpus, so
    * their exploded shingles broadcast; the corpus side streams through the
    * shingle join without a shuffle of its own rows. Threshold filters on
    * the exact ratio (pre-round) so the cut matches the oracle's HAVING.
    */
  def containment(corpus: DataFrame, probes: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, threshold: Double = 0.0): DataFrame = {
    // Project(tokens) → Generate(explode) directly — the d2 shape. Deriving
    // the exploded rows from `shingleSets(...).select(explode(sh))` instead
    // lets CollapseProject merge the two projections and inline the
    // tokenizer into the shingle lambda (re-evaluated per element →
    // O(tokens²) per row; measured 19s vs 1.5s on the sf0.1 corpus).
    def shingleRows(df: DataFrame, outId: String): DataFrame =
      df.select(col(idCol).as(outId), TextAnalysis.tokens(col(textCol)).as("__ws"))
        .select(col(outId),
          explode(array_distinct(shinglesFromTokens(col("__ws"), shingleSize)))
            .as("shingle"))
    val ps = shingleRows(probes, "probe_id").checkpointOwned() // tiny; read twice
    val pn = ps.groupBy("probe_id").agg(count(lit(1)).as("probe_n"))
    shingleRows(corpus, "corpus_id").join(broadcast(ps), Seq("shingle"))
      .filter(col("corpus_id") =!= col("probe_id"))
      .groupBy(col("corpus_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(pn), Seq("probe_id"))
      .filter(col("shared").cast("double") / col("probe_n") >= threshold)
      .select(col("corpus_id"), col("probe_id"), col("shared"),
        round(col("shared").cast("double") / col("probe_n"), 4).as("containment"))
  }

  /** Containment screen for probe sets too large to broadcast: a Bloom
    * filter over the probe shingles — built distributed (partial aggregates,
    * no driver materialization) and evaluated ONCE as a scalar subquery, the
    * `InjectRuntimeFilter` pattern — prunes corpus shingle rows BEFORE the
    * verify shuffle, so the corpus-sized side that reaches the join is only
    * the rows sharing a probable shingle. Output is bit-identical to
    * [[containment]]: Bloom has no false negatives, and its false positives
    * die in the exact verify join — the filter only prunes.
    *
    * Scale shape: [[containment]] broadcasts the probe shingles, which
    * caps the probe side at executor memory; here the filter is a few MB
    * regardless of probe count (`expectedShingles` sizes it), the verify
    * join is a plain shuffle join of the PRUNED corpus rows against the
    * probe rows, and everything upstream of the shuffle is a scan-side
    * projection+filter.
    */
  def containmentBloom(corpus: DataFrame, probes: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, threshold: Double = 0.0,
      expectedShingles: Long = 4000000L): DataFrame = {
    def shingleRows(df: DataFrame, outId: String): DataFrame =
      df.select(col(idCol).as(outId), TextAnalysis.tokens(col(textCol)).as("__ws"))
        .select(col(outId),
          explode(array_distinct(shinglesFromTokens(col("__ws"), shingleSize)))
            .as("shingle"))
    val ps = shingleRows(probes, "probe_id").checkpointOwned() // read 3×
    val pn = ps.groupBy("probe_id").agg(count(lit(1)).as("probe_n"))
    val bloom = graft.functions.bloom_of(ps, col("shingle"), expectedShingles)
    shingleRows(corpus, "corpus_id")
      .filter(graft.functions.bloom_might_contain(bloom, col("shingle")))
      .join(ps, Seq("shingle")) // deliberately NOT broadcast: the big-probe shape
      .filter(col("corpus_id") =!= col("probe_id"))
      .groupBy(col("corpus_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(pn), Seq("probe_id"))
      .filter(col("shared").cast("double") / col("probe_n") >= threshold)
      .select(col("corpus_id"), col("probe_id"), col("shared"),
        round(col("shared").cast("double") / col("probe_n"), 4).as("containment"))
  }

  /** Near-dup candidates by embedding cosine: delegates to Similarity — kept
    * here so the dedup namespace covers all five families (exact, minhash,
    * simhash, ngram-jaccard, embedding). Recall follows the SRP banding
    * model (high for near-dups, falling off sharply below cosine ~0.9 at the
    * defaults — see [[Similarity.cosinePairs]]); tune `bits` down / `tables`
    * up to chase pairs near a lower threshold at higher candidate volume.
    */
  def embeddingCandidates(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 16, tables: Int = 8,
      seed: Long = Similarity.SrpSeed, dims: Int = 64): DataFrame =
    Similarity.cosinePairs(emb, idCol, vecCol, threshold, bits, tables, seed, dims)

  /** Exact-substring (span-level) dedup, the C4/RefinedWeb line-dedup shape
    * adapted to fixed token windows: each document is cut into consecutive
    * `spanTokens`-token spans, and only the globally-FIRST occurrence of a
    * span survives (first by document id, then by position — deterministic).
    * Returns one row per document: surviving text rebuilt in span order
    * (null if every span was dropped), span counts, and dropped counts.
    *
    * Unlike document-level dedup (d1-d6) this removes REPEATED PASSAGES
    * embedded in otherwise-unique pages — boilerplate, license headers,
    * navigation chrome — which survive whole-document fingerprints.
    *
    * Scale shape: first occurrences come from `groupBy(span).agg(min(struct
    * (id, pos)))` — partial map-side aggregation collapses a hot span to one
    * row per map partition BEFORE the shuffle, so a boilerplate span with
    * 10⁷ occurrences costs its occurrence count only in the map stage
    * (a per-span `row_number()` window would sort all 10⁷ in one task).
    * Per-document totals aggregate by doc id (never skewed by a hot span),
    * and the kept rows ARE the aggregation output — no join back on the
    * span key, so no residual hot-key shuffle anywhere. Span strings never
    * exceed `spanTokens` tokens, so shuffle rows stay bounded regardless of
    * document length.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 10): DataFrame = {
    require(spanTokens >= 1, "spanTokens >= 1")
    val nSpans = ceil(size(col("__ws")).cast("double") / spanTokens).cast("int")
    val spans = df
      .select(col(idCol).as("sd_id"), TextAnalysis.tokens(col(textCol)).as("__ws"))
      .select(col("sd_id"), posexplode(transform(sequence(lit(0), nSpans - 1),
        i => concat_ws(" ", slice(col("__ws"), i * spanTokens + 1, lit(spanTokens))))))
      .withColumnRenamed("pos", "span_pos").withColumnRenamed("col", "span")
    val perDoc = spans.groupBy(col("sd_id")).agg(count(lit(1)).as("n_spans"))
    val kept = spans
      .groupBy(col("span"))
      .agg(min(struct(col("sd_id"), col("span_pos"))).as("f"))
      .select(col("f.sd_id").as("sd_id"), col("f.span_pos").as("span_pos"), col("span"))
      .groupBy(col("sd_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("span_pos"), col("span")))).as("__kept"))
    perDoc.join(kept, Seq("sd_id"), "left")
      .select(col("sd_id").as(idCol), col("n_spans"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        when(size(col("__kept")) > 0,
          concat_ws(" ", transform(col("__kept"), k => k.getField("span"))))
          .as("kept_text"))
  }

  /** Exact duplicated-substring removal over OVERLAPPING token windows —
    * the position-level form of training-data dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * occurrence of a k-token window whose exact text appears elsewhere in
    * the corpus — other than the globally first occurrence — has ALL its
    * covered token positions removed; the canonical occurrence survives
    * intact. Unlike [[spanDedup]]'s fixed non-overlapping spans, windows
    * slide by one token, so a duplicated phrase is excised wherever it
    * starts, and overlapping duplicate windows merge naturally at position
    * level (interval union == the distinct covered-position set).
    *
    * Returns one row per input doc: `n_tokens`, `n_dropped`, `kept_text`
    * (null when every position is covered by a non-canonical duplicate).
    *
    * Scale shape: window rows ≈ one per corpus token, each carrying ≤k
    * tokens of text; the duplicated-window table collapses map-side
    * (count + min(struct)) to one row per DISTINCT window before its
    * shuffle. The occurrence↔dup-window equi-join fans out per occurrence
    * (irreducible — every non-canonical occurrence must be marked) and a
    * boilerplate hot window splits under AQE skew-join; covered positions
    * explode only from duplicated occurrences (k× that set, not the
    * corpus); the keep-filter is a left-anti hash join on (doc, pos). No
    * window function partitions by the window string, so a 10⁷-occurrence
    * span never serializes through one task. Suffix arrays (the paper's
    * single-node tool) don't distribute; fixed-k sliding windows are the
    * shuffle-native equivalent — k bounds the shortest duplicate run
    * detected, and any run ≥ k is removed in full because every window
    * inside it is duplicated too.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8): DataFrame = {
    require(windowTokens >= 2, "windowTokens >= 2")
    val k = windowTokens
    val tok = Par.fanOut(df).select(col(idCol).as("ssd_id"),
      TextAnalysis.tokens(col(textCol)).as("__ws"))
    val wins = tok.filter(size(col("__ws")) >= k)
      .select(col("ssd_id"),
        posexplode(transform(sequence(lit(0), size(col("__ws")) - k),
          i => concat_ws(" ", slice(col("__ws"), i + lit(1), lit(k))))))
      .withColumnRenamed("pos", "s").withColumnRenamed("col", "win")
    val dup = wins.groupBy(col("win"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("ssd_id"), col("s"))).as("__f"))
      .filter(col("__c") > 1)
      .select(col("win"), col("__f.ssd_id").as("__f_id"), col("__f.s").as("__f_s"))
    val dropPos = wins.join(dup, Seq("win"))
      .filter(!(col("ssd_id") === col("__f_id") && col("s") === col("__f_s")))
      .select(col("ssd_id"),
        explode(sequence(col("s"), col("s") + lit(k - 1))).as("p"))
      .distinct()
    val toks = tok.select(col("ssd_id"), posexplode(col("__ws")))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "w")
    val kept = toks.join(dropPos, Seq("ssd_id", "p"), "left_anti")
      .groupBy(col("ssd_id"))
      .agg(count(lit(1)).as("__n_kept"),
        array_sort(collect_list(struct(col("p"), col("w")))).as("__kept"))
    tok.select(col("ssd_id"), size(col("__ws")).cast("long").as("n_tokens"))
      .join(kept, Seq("ssd_id"), "left")
      .select(col("ssd_id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_dropped"),
        when(size(col("__kept")) > 0,
          concat_ws(" ", transform(col("__kept"), x => x.getField("w"))))
          .as("kept_text"))
  }

  /** Incremental dedup: screen a NEW batch against an EXISTING corpus
    * without re-pairing the corpus with itself — the continuous-ingest
    * pipeline shape (nightly crawl vs. everything already accepted).
    * A batch document is a duplicate when its n-gram Jaccard against some
    * corpus document reaches `threshold`; candidates come from the same
    * banded MinHash as d2, but joined batch↔corpus only, so no
    * corpus×corpus pair ever materializes. Returns every batch id with
    * `is_new` and the minimum matching corpus id (null when new).
    *
    * Scale shape: corpus signatures are a pure function of the corpus —
    * at 100 TB they are computed once, stored, and only the (small) batch
    * side is signed per run; the band join then shuffles signature rows,
    * never documents.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double, bands: Int = 4,
      shingleSize: Int = 3, materializeCorpusSets: Boolean = true): DataFrame = {
    // Only the (small) batch's shingle sets are unconditionally
    // materialized. `materializeCorpusSets` mirrors `dedupSurvivors`'s
    // density trade: `false` is the huge-corpus shape — the corpus STREAMS
    // through one signature pass (4 longs/doc is the only corpus-sized
    // shuffle) and shingle sets are rebuilt solely for candidate corpus
    // docs via a semi-join; nothing corpus-sized is ever checkpointed.
    val cSetsAll =
      if (materializeCorpusSets)
        Some(shingleSets(corpus, idCol, textCol, shingleSize).checkpointOwned())
      else None
    val cSigs = cSetsAll match {
      case Some(s) => minhashSignaturesFromSets(s, bands)
      case None => minhashSignatures(corpus, idCol, textCol, bands, shingleSize)
    }
    incrementalCore(corpus, cSigs, cSetsAll, batch, idCol, textCol,
      threshold, bands, shingleSize)
  }

  /** Incremental dedup against a PRE-SIGNED corpus: the continuous-ingest
    * form where the corpus signature frame is computed once (per run, or
    * persisted run to run — it is a pure function of the corpus) and only
    * the batch is signed per call. Candidate corpus docs' shingle sets are
    * rebuilt via semi-join, so nothing corpus-sized materializes per batch.
    * This is the per-micro-batch body of the streaming screen
    * ([[graft.streaming.StreamAggs.screenNearDupAtIngest]]).
    */
  def incrementalDedupPresigned(corpus: DataFrame, corpusSigs: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, threshold: Double,
      bands: Int = 4, shingleSize: Int = 3): DataFrame =
    incrementalCore(corpus, corpusSigs, None, batch, idCol, textCol,
      threshold, bands, shingleSize)

  /** ALL verified near-dup pairs for an incoming batch against a presigned
    * accepted corpus — batch↔corpus plus batch-internal — the pair source
    * for component maintenance at ingest ([[incrementalComponents]];
    * streaming twin `StreamAggs.componentsAtIngest`). Unlike
    * [[incrementalDedupPresigned]] (which keeps only each batch doc's best
    * match), every qualifying pair survives, because component structure
    * needs the edges, not a verdict. Corpus shingle sets are rebuilt only
    * for candidate docs (semi-join sliver) and the corpus never self-pairs —
    * the d12 scale contract. Returns `(doc_a, doc_b)`: batch id first for
    * batch↔corpus pairs, (min, max) for batch-internal ones.
    */
  def incrementalPairsPresigned(corpus: DataFrame, corpusSigs: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, threshold: Double,
      bands: Int = 4, shingleSize: Int = 3): DataFrame = {
    val bSets = shingleSets(batch, idCol, textCol, shingleSize).checkpointOwned()
    val bSigs = minhashSignaturesFromSets(bSets, bands).checkpointOwned()
    val candBC = bSigs.withColumnRenamed("mh_id", "b_id")
      .join(corpusSigs.withColumnRenamed("mh_id", "c_id"), Seq("band", "sig"))
      .select(col("b_id"), col("c_id")).distinct()
      .checkpointOwned() // consumed twice: corpus-set prune + verify join
    val candBB = bSigs.select(col("mh_id").as("x"), col("band"), col("sig"))
      .join(bSigs.select(col("mh_id").as("y"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("x") < col("y")).select(col("x"), col("y")).distinct()
    val cSets = shingleSets(
      corpus.join(candBC.select(col("c_id").as(idCol)).distinct(), Seq(idCol),
        "semi"),
      idCol, textCol, shingleSize)
    val bc = candBC
      .join(bSets.select(col("set_id").as("b_id"), col("sh").as("sh_b")), Seq("b_id"))
      .join(cSets.select(col("set_id").as("c_id"), col("sh").as("sh_c")), Seq("c_id"))
      .filter(round(graft.functions.jaccard_sim(col("sh_b"), col("sh_c")), 4)
        >= threshold)
      .select(col("b_id").as("doc_a"), col("c_id").as("doc_b"))
    val bb = candBB
      .join(bSets.select(col("set_id").as("x"), col("sh").as("sh_x")), Seq("x"))
      .join(bSets.select(col("set_id").as("y"), col("sh").as("sh_y")), Seq("y"))
      .filter(round(graft.functions.jaccard_sim(col("sh_x"), col("sh_y")), 4)
        >= threshold)
      .select(col("x").as("doc_a"), col("y").as("doc_b"))
    bc.union(bb)
  }

  private def incrementalCore(corpus: DataFrame, cSigs: DataFrame,
      cSetsAll: Option[DataFrame], batch: DataFrame, idCol: String,
      textCol: String, threshold: Double, bands: Int,
      shingleSize: Int): DataFrame = {
    val bSets = shingleSets(batch, idCol, textCol, shingleSize).checkpointOwned()
    val cand = minhashSignaturesFromSets(bSets, bands)
      .withColumnRenamed("mh_id", "b_id")
      .join(cSigs.withColumnRenamed("mh_id", "c_id"), Seq("band", "sig"))
      .select(col("b_id"), col("c_id")).distinct()
      .checkpointOwned() // consumed twice: semi-join prune + verify join
    val cSets = cSetsAll.getOrElse(shingleSets(
      corpus.join(cand.select(col("c_id").as(idCol)).distinct(), Seq(idCol),
        "semi"),
      idCol, textCol, shingleSize))
    val matched = cand
      .join(bSets.select(col("set_id").as("b_id"), col("sh").as("sh_b")), Seq("b_id"))
      .join(cSets.select(col("set_id").as("c_id"), col("sh").as("sh_c")), Seq("c_id"))
      .filter(round(graft.functions.jaccard_sim(col("sh_b"), col("sh_c")), 4)
        >= threshold)
      .groupBy(col("b_id")).agg(min(col("c_id")).as("match_id"))
    batch.select(col(idCol)).join(
        matched.withColumnRenamed("b_id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("match_id").isNull.as("is_new"), col("match_id"))
  }
}
