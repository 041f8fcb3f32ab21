package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** SQL table-valued entry points for the ops library — the surface a
  * pipeline author in PURE SQL uses to call the persisted-index reads that
  * were previously Scala-API-only:
  *
  * {{{
  *   SELECT * FROM lsh_screen('/idx', 'corpus_v', 'batch_v', 'doc_id', 'text', 0.5)
  *   SELECT * FROM ivf_probe('/idx', 'queries_v', 'vec_id', 'embedding', 5, 2, 4)
  *   SELECT * FROM sem_screen('/idx', 'batch_v', 'vec_id', 'embedding', 0.9, 2, 4)
  *   SELECT * FROM lsh_index_health('/idx', 20)
  *   SELECT * FROM ivf_index_health('/idx')
  *   SELECT * FROM nb_score('model_v', 'docs_v', 'doc_id', 'text')
  *   SELECT * FROM bpe_token_count('merges_v', 'docs_v', 'doc_id', 'text')
  * }}}
  *
  * Each function is registered in the session's TABLE-function registry and
  * expands to the SAME DataFrame plan the Scala API builds (table args name
  * temp views or catalog tables) — so the physical shape a pure-SQL caller
  * gets is identical: partition-pruned index scans, broadcast probe sides,
  * never an exchanged corpus. Probes only — mutations (build / append /
  * forget / reshard) stay API calls under the mutation fence, the same
  * read/write split the catalog enforces for the log (TRUNCATE refuses,
  * scans don't).
  *
  * Reference anchor: the reference exposes reads over gRPC
  * (eventsourcing.proto service GetEvents); SQL is this engine's wire
  * surface, so its index reads belong on it too.
  */
object SqlOps {

  private def litOf(e: Expression, fn: String, pos: Int): Any = {
    require(e.foldable,
      s"$fn: argument ${pos + 1} must be a literal, got ${e.sql}")
    e.eval()
  }

  private def asStr(e: Expression, fn: String, pos: Int): String =
    String.valueOf(litOf(e, fn, pos))

  private def asInt(e: Expression, fn: String, pos: Int): Int =
    litOf(e, fn, pos) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be an integer literal, got $other")
    }

  private def asDouble(e: Expression, fn: String, pos: Int): Double =
    litOf(e, fn, pos) match {
      case n: Number => n.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case d: java.math.BigDecimal => d.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a numeric literal, got $other")
    }

  private def planOf(df: DataFrame): LogicalPlan =
    org.apache.spark.sql.graftbridge.Bridge.logicalPlan(df)

  /** Register the table functions on a live session. Idempotent
    * (createOrReplace); pairs with [[graft.functions.registerAll]] for the
    * scalar surface.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry

    def tvf(name: String, arity: Seq[Int])(build: Seq[Expression] => DataFrame): Unit =
      reg.createOrReplaceTempFunction(name, { es =>
        if (!arity.contains(es.length))
          throw new IllegalArgumentException(
            s"$name expects ${arity.mkString(" or ")} arguments, got ${es.length}")
        planOf(build(es))
      }, "internal")

    // screen a batch view against a persisted LSH index (LshIndex.screen)
    tvf("lsh_screen", Seq(6)) { es =>
      LshIndex.screen(spark, asStr(es(0), "lsh_screen", 0),
        spark.table(asStr(es(1), "lsh_screen", 1)),
        spark.table(asStr(es(2), "lsh_screen", 2)),
        asStr(es(3), "lsh_screen", 3), asStr(es(4), "lsh_screen", 4),
        asDouble(es(5), "lsh_screen", 5))
    }

    // the candidate pairs alone (plan-inspectable pruning from SQL)
    tvf("lsh_candidates", Seq(4)) { es =>
      LshIndex.candidates(spark, asStr(es(0), "lsh_candidates", 0),
        spark.table(asStr(es(1), "lsh_candidates", 1)),
        asStr(es(2), "lsh_candidates", 2), asStr(es(3), "lsh_candidates", 3))
    }

    // ANN probe of a persisted IVF index through the codec it was built
    // with (Similarity.ivfProbe), so a SQL caller probes float/SQ8/PQ
    // indexes through ONE name with identical output shape
    tvf("ivf_probe", Seq(7)) { es =>
      val (path, view) = (asStr(es(0), "ivf_probe", 0), asStr(es(1), "ivf_probe", 1))
      val (id, vec) = (asStr(es(2), "ivf_probe", 2), asStr(es(3), "ivf_probe", 3))
      val (k, nprobe, rerank) = (asInt(es(4), "ivf_probe", 4),
        asInt(es(5), "ivf_probe", 5), asInt(es(6), "ivf_probe", 6))
      Similarity.ivfProbe(spark, path, spark.table(view), id, vec, k, nprobe, rerank)
    }

    // semantic near-dup screen of a batch view (Similarity.semScreen)
    tvf("sem_screen", Seq(7)) { es =>
      Similarity.semScreen(spark, asStr(es(0), "sem_screen", 0),
        spark.table(asStr(es(1), "sem_screen", 1)),
        asStr(es(2), "sem_screen", 2), asStr(es(3), "sem_screen", 3),
        asDouble(es(4), "sem_screen", 4),
        asInt(es(5), "sem_screen", 5), asInt(es(6), "sem_screen", 6))
    }

    // screen an image-batch view against the persisted perceptual-hash
    // index (PhashIndex.screen) — the image family's SQL leg. No corpus
    // view argument: the Hamming verify is index-resident.
    tvf("phash_screen", Seq(5)) { es =>
      PhashIndex.screen(spark, asStr(es(0), "phash_screen", 0),
        spark.table(asStr(es(1), "phash_screen", 1)),
        asStr(es(2), "phash_screen", 2), asStr(es(3), "phash_screen", 3),
        asInt(es(4), "phash_screen", 4))
    }

    // density-gated screen: the radius is learned from the index under
    // the caller's accidental-match budget (PhashIndex.screenAuto) — an
    // unsafe corpus refuses loudly through SQL too
    tvf("phash_screen_auto", Seq(5)) { es =>
      PhashIndex.screenAuto(spark, asStr(es(0), "phash_screen_auto", 0),
        spark.table(asStr(es(1), "phash_screen_auto", 1)),
        asStr(es(2), "phash_screen_auto", 2),
        asStr(es(3), "phash_screen_auto", 3),
        asDouble(es(4), "phash_screen_auto", 4))
    }

    // the verified pairs alone (plan-inspectable pruning from SQL)
    tvf("phash_candidates", Seq(5)) { es =>
      PhashIndex.candidates(spark, asStr(es(0), "phash_candidates", 0),
        spark.table(asStr(es(1), "phash_candidates", 1)),
        asStr(es(2), "phash_candidates", 2),
        asStr(es(3), "phash_candidates", 3),
        asInt(es(4), "phash_candidates", 4))
    }

    // maintenance dashboards from SQL
    tvf("lsh_index_health", Seq(2)) { es =>
      LshIndex.health(spark, asStr(es(0), "lsh_index_health", 0),
        asInt(es(1), "lsh_index_health", 1))
    }
    tvf("phash_index_health", Seq(2)) { es =>
      PhashIndex.health(spark, asStr(es(0), "phash_index_health", 0),
        asInt(es(1), "phash_index_health", 1))
    }
    tvf("ivf_index_health", Seq(1)) { es =>
      Similarity.ivfIndexHealth(spark, asStr(es(0), "ivf_index_health", 0))
    }

    // collision-density dashboards — the accidental-candidate-mass twin
    // of the health census (LshIndex.density Scaladoc for the math)
    tvf("lsh_index_density", Seq(1)) { es =>
      LshIndex.density(spark, asStr(es(0), "lsh_index_density", 0))
    }
    tvf("phash_index_density", Seq(1, 3)) { es =>
      val path = asStr(es(0), "phash_index_density", 0)
      if (es.length == 1) PhashIndex.density(spark, path)
      else PhashIndex.densityByDist(spark, path,
        asInt(es(1), "phash_index_density", 1),
        asInt(es(2), "phash_index_density", 2))
    }
    tvf("ivf_index_density", Seq(1)) { es =>
      Similarity.ivfIndexDensity(spark, asStr(es(0), "ivf_index_density", 0))
    }

    // ── learned quality filters + tokenizer: train AND score are reads
    // (a model/merge table is a DataFrame, persisting it is the caller's
    // write) — so the whole family belongs on the SQL surface. Training
    // TVFs run their driver-side work (BPE's merge loop, the collected
    // rank/vocab maps) during plan expansion; pure-SQL pipelines persist
    // the result once and score through the *_score twins thereafter.
    tvf("nb_train", Seq(3, 4)) { es =>
      TextAnalysis.nbTrain(spark.table(asStr(es(0), "nb_train", 0)),
        asStr(es(1), "nb_train", 1), asStr(es(2), "nb_train", 2),
        if (es.length > 3) asDouble(es(3), "nb_train", 3) else 0.5)
    }
    tvf("nb_score", Seq(4)) { es =>
      TextAnalysis.nbScore(spark.table(asStr(es(1), "nb_score", 1)),
        asStr(es(2), "nb_score", 2), asStr(es(3), "nb_score", 3),
        spark.table(asStr(es(0), "nb_score", 0)))
    }
    tvf("dsir_model", Seq(3, 4, 5)) { es =>
      TextAnalysis.dsirModel(spark.table(asStr(es(0), "dsir_model", 0)),
        spark.table(asStr(es(1), "dsir_model", 1)),
        asStr(es(2), "dsir_model", 2),
        if (es.length > 3) asInt(es(3), "dsir_model", 3) else 4096,
        if (es.length > 4) asDouble(es(4), "dsir_model", 4) else 0.5)
    }
    tvf("dsir_score", Seq(4)) { es =>
      TextAnalysis.dsirScore(spark.table(asStr(es(1), "dsir_score", 1)),
        asStr(es(2), "dsir_score", 2), asStr(es(3), "dsir_score", 3),
        spark.table(asStr(es(0), "dsir_score", 0)))
    }
    tvf("bpe_train", Seq(3)) { es =>
      TextAnalysis.bpeTrain(spark.table(asStr(es(0), "bpe_train", 0)),
        asStr(es(1), "bpe_train", 1), asInt(es(2), "bpe_train", 2))
    }
    tvf("bpe_vocab", Seq(3)) { es =>
      TextAnalysis.bpeVocab(spark.table(asStr(es(0), "bpe_vocab", 0)),
        asStr(es(1), "bpe_vocab", 1),
        spark.table(asStr(es(2), "bpe_vocab", 2)))
    }
    tvf("bpe_token_count", Seq(4)) { es =>
      TextAnalysis.bpeTokenCount(spark.table(asStr(es(1), "bpe_token_count", 1)),
        asStr(es(2), "bpe_token_count", 2), asStr(es(3), "bpe_token_count", 3),
        spark.table(asStr(es(0), "bpe_token_count", 0)))
    }
    tvf("bpe_encode", Seq(5)) { es =>
      TextAnalysis.bpeEncodeIds(spark.table(asStr(es(2), "bpe_encode", 2)),
        asStr(es(3), "bpe_encode", 3), asStr(es(4), "bpe_encode", 4),
        spark.table(asStr(es(0), "bpe_encode", 0)),
        spark.table(asStr(es(1), "bpe_encode", 1)))
    }
  }
}
