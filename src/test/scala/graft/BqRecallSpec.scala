package graft

import org.apache.spark.sql.functions._

import graft.queries.Similarity

/** Thermometer-BQ recall against the exact squared-L2 top-k (the
  * [[PqRecallSpec]] discipline: offline numpy model first, floors
  * pinned per corpus just below the measured points), plus a
  * first-principles bit-equality pin of the encode path — codes are
  * pure integer artifacts of picked order-statistic thresholds, so a
  * Scala recompute must match the engine word for word, which also
  * proves Hamming = L1 on the 8-level quantization (thermometer codes
  * make that an identity, not an approximation).
  *
  * Measured recall@5 at L=50 (numpy model == Spark run):
  * 1.0 / 0.92 / 0.88 at sf0.001 / sf0.01 / sf0.1 — above the PQ
  * re-rank shipped point (0.80@L50) at 4× less float I/O.
  */
class BqRecallSpec extends SparkSpec {

  private val k = 5

  private val floors: Map[String, Double] = Map(
    "/root/testdata/sf0.001" -> 0.99,
    "/root/testdata/sf0.01" -> 0.90,
    "/root/testdata/sf0.1" -> 0.85)

  private def exactTop(dir: String): Map[Long, Set[Long]] = {
    val emb = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val l2 =
      """aggregate(sequence(0, 63), 0D, (a, i) ->
         a + (CAST(qvec[i] AS DOUBLE) - CAST(embedding[i] AS DOUBLE))
           * (CAST(qvec[i] AS DOUBLE) - CAST(embedding[i] AS DOUBLE)))"""
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d").asc, col("vec_id").asc)
    emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("d", expr(l2))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (qid, rs) => qid -> rs.map(_.getAs[Long]("vec_id")).toSet }
  }

  test("bqEncode equals first-principles thermometer codes (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    graft.Catalog.registerAll(spark, dir)
    val rows = Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .sortBy(_._1)
    val n = rows.length
    val dims = 64
    // octile thresholds: rank j*n/8 + 1 by (value, vec_id) — a picked
    // element, identical to the engine's window rule
    val thr = Array.tabulate(dims) { d =>
      val sorted = rows.map { case (id, v) => (v(d), id) }.sorted
      (1 to 7).map(j => sorted((j * n) / 8)._1).toArray
    }
    val expected = rows.map { case (id, v) =>
      val words = Array.fill(8)(0L)
      for (d <- 0 until dims; j <- 1 to 7 if v(d) > thr(d)(j - 1)) {
        val pos = d * 7 + j - 1
        words(pos / 56) |= 1L << (pos % 56)
      }
      id -> words.toSeq
    }.toMap
    val got = Similarity.bqEncode(spark, dir, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (0 until 8).map(i => r.getAs[Long](s"c$i")))
      .toMap
    assert(got == expected, "engine codes diverge from first principles")
    // thermometer identity: popcount(xor) == L1 on levels, checked on
    // every (query, candidate) pair of the corpus head
    val lev = rows.map { case (id, v) =>
      id -> Array.tabulate(dims)(d => thr(d).count(t => v(d) > t))
    }.toMap
    for (qi <- 0L until 5L; ci <- 0L until 50L if ci != qi) {
      val ham = expected(qi).zip(expected(ci))
        .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
      val l1 = lev(qi).zip(lev(ci)).map { case (a, b) => math.abs(a - b) }.sum
      assert(ham == l1, s"pair ($qi,$ci): hamming $ham != L1 $l1")
    }
  }

  test("indexed BQ equals train-per-call and is served from the code table") {
    val dir = "/root/testdata/sf0.001"
    val direct = Similarity.simBqHamming(spark, dir).collect().toSeq
    val indexed = Similarity.simBqHammingIndexed(spark, dir).collect().toSeq
    assert(indexed == direct,
      "materialized-code search must reproduce the train-per-call rows")
    // plan pin: the indexed search physically reads the standing code
    // table (the sim_ivf_ann_indexed discipline — AQE off so the scan
    // is visible in the static plan)
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      Similarity.simBqHammingIndexed(spark, dir)
        .queryExecution.executedPlan.collect {
          case f: FileSourceScanExec if f.relation.location.rootPaths
            .exists(_.toString.contains("bq_index")) => f
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(scans.nonEmpty,
      "indexed BQ search does not read the standing code table")
  }

  test("BQ lifecycle: frozen-threshold upsert audit, dead-free deleted search") {
    val dir = "/root/testdata/sf0.001"
    // upsert: every admitted word lands in the audit — 8 words per
    // delta vector, and the base side partitions the corpus likewise
    val up = Similarity.codecUpsertAudit(spark, dir, Similarity.bqCodec).collect()
    val nVec = Tables(spark, dir, "embeddings").count()
    val nDelta = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") % 5 === 0).count()
    assert(up.map(_.getAs[Long]("n_new")).sum == 8 * nDelta)
    assert(up.map(_.getAs[Long]("n_base")).sum == 8 * nVec)
    assert(up.forall(r => r.getAs[Long]("n_total") ==
      r.getAs[Long]("n_base") + r.getAs[Long]("n_new")))
    // delete: the physically recounted overlay loses no live word and
    // keeps no dead one
    val delAudit = Similarity.codecDeleteAudit(spark, dir, Similarity.bqCodec).collect()
    assert(delAudit.forall(r => r.getAs[Long]("n_base") ==
      r.getAs[Long]("n_dead") + r.getAs[Long]("n_live")),
      "overlay recount disagrees with base minus tombstones")
    // post-delete search: no tombstoned id can surface; result visibly
    // differs from the base search (the carve removes known neighbors)
    val deleted = Similarity.simBqHammingDeleted(spark, dir).collect()
    assert(deleted.length == 25)
    assert(deleted.forall(_.getAs[Long]("vec_id") % 4 != 2),
      "tombstoned vector surfaced in the post-delete search")
    val base = Similarity.simBqHamming(spark, dir).collect()
    assert(deleted.toSeq != base.toSeq,
      "delete carve had no visible effect — the demo proves nothing")
  }

  test("BQ drift audit: real nonzero drift, decision matches the arithmetic") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.simBqDrift(spark, dir).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val flips = r.getAs[Long]("n_flips")
      val n = r.getAs[Long]("n_vecs")
      assert(flips > 0L, "the delta must move SOME threshold bits")
      assert(r.getAs[Boolean]("retrain") == (flips * 100 > n * 56 * 5),
        s"decision diverges from its own arithmetic: $r")
      assert(r.getAs[Int]("max_flips").toLong * n >= flips,
        s"max below mean is impossible: $r")
    }
    // the measured corpus point: drift is real but under the 5% bar
    assert(rows.forall(!_.getAs[Boolean]("retrain")),
      "sf0.001 measured point: no word crosses the retrain bar")
  }

  for ((dir, floor) <- floors) {
    test(s"BQ re-ranked recall@5 vs exact L2 at $dir") {
      val exact = exactTop(dir)
      assert(exact.nonEmpty && exact.values.forall(_.size == k))
      val got = Similarity.simBqHamming(spark, dir, k = k).collect()
      assert(got.length == 5 * k)
      got.foreach { r =>
        val d = r.getAs[Double]("dist")
        assert(!d.isNaN && !d.isInfinite && d >= 0.0, s"dist out of range: $d")
      }
      val byQ = got.groupBy(_.getAs[Long]("qid"))
        .map { case (qid, rs) => qid -> rs.map(_.getAs[Long]("vec_id")).toSet }
      val per = exact.map { case (qid, t) =>
        (byQ.getOrElse(qid, Set.empty[Long]) & t).size.toDouble / t.size }
      val recall = per.sum / per.size
      info(s"$dir: BQ(thermometer 7-bit/dim, L=50) recall@5 = $recall")
      assert(recall >= floor,
        s"BQ recall $recall below the pinned $floor floor at $dir")
    }
  }
}
