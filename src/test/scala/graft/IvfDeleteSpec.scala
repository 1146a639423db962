package graft

import graft.queries.Similarity

/** IVF delete/compaction lifecycle pins (VERDICT r7 item 3): the physical
  * overlay implements the delete rule exactly, searches never surface a
  * tombstoned id at either nprobe operating point, and the index
  * deterministically carries BOTH lifecycle states (compacted overlay and
  * tombstone-masked base) so each read path is actually exercised.
  * Completeness (no live member lost to compaction) is proven by the
  * sim_ivf_ann_deleted ORACLE row — DuckDB computes the live search from
  * first principles and the hash must match.
  */
class IvfDeleteSpec extends SparkSpec {

  private def isDead(cell: Long, id: Long): Boolean =
    cell % 2 == 0 && id % Similarity.ivfDelMod == Similarity.ivfDelRem

  // both 500-vector corpora (disjoint draws — sf0.01 is the driver's
  // gate scale); the ensure* accessors rebuild when the dir changes, so
  // each dir's three tests run against its own freshly-built overlay
  for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    ivfDeleteTests(dir)

  private def ivfDeleteTests(dir: String): Unit = {

  test(s"audit at $dir: physical state implements the delete + compaction rule") {
    val rows = Similarity.simIvfDelete(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (base, dead, live) = (r.getAs[Long]("n_base"),
        r.getAs[Long]("n_dead"), r.getAs[Long]("n_live"))
      assert(live == base - dead,
        s"cell ${r.getAs[Long]("cell")}: live $live != base $base - dead $dead")
      assert(r.getAs[Boolean]("compacted") ==
        (live * 100 < base * Similarity.ivfCompactLivePct),
        s"cell ${r.getAs[Long]("cell")}: threshold misapplied")
    }
    // both lifecycle branches must exist, or one read path went untested
    assert(rows.exists(_.getAs[Boolean]("compacted")),
      "no cell crossed the compaction threshold")
    assert(rows.exists(!_.getAs[Boolean]("compacted")),
      "every cell compacted — the tombstone-masked path is untested")
  }

  test(s"searches at $dir never return a tombstoned id, at both nprobe points") {
    val nlist = 8 // the oracle-pinned trained-centroid count (kmeansTrain k)
    for (np <- Seq(2, nlist)) {
      val res = Similarity.simIvfAnnDeleted(spark, dir, nprobe = np).collect()
      assert(res.nonEmpty, s"empty result at nprobe=$np")
      res.foreach { r =>
        assert(!isDead(r.getAs[Long]("cell"), r.getAs[Long]("vec_id")),
          s"tombstoned id ${r.getAs[Long]("vec_id")} returned at nprobe=$np")
      }
    }
  }

  test(s"full-probe deleted search at $dir differs from the full search only by dead members") {
    val nlist = 8
    val full = Similarity.simIvfAnnIndexed(spark, dir, nprobe = nlist, k = 5)
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("cell")))
    val deleted = Similarity.simIvfAnnDeleted(spark, dir, nprobe = nlist, k = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    // every LIVE id the full-corpus search surfaced must survive the
    // delete search (scores are identical arithmetic; removing members
    // can only ADMIT new ids into the top-k, never evict a survivor)
    val lostLive = full.filter { case (qid, id, cell) =>
      !isDead(cell, id) && !deleted((qid, id))
    }
    assert(lostLive.isEmpty, s"live ids lost by the delete machinery: $lostLive")
  }
  }

  // ---- gen-2 generational compaction (full rewrite, no masks) ----------

  private val gen2Dir = "/root/testdata/sf0.01"

  test("gen2 rewrite holds exactly the live set — no dead row, no tombstone dir") {
    import org.apache.spark.sql.functions.col
    val gen2 = Similarity.ensureIvfGen2Index(spark, gen2Dir)
    val cells = spark.read.parquet(s"$gen2/cells")
      .selectExpr("m_vec_id", "CAST(cell AS BIGINT) AS cell")
    assert(cells.filter(col("cell") % 2 === 0 &&
      col("m_vec_id") % Similarity.ivfDelMod === Similarity.ivfDelRem)
      .count() == 0, "gen-2 partition holds a tombstoned member")
    val main = Similarity.ensureIvfIndex(spark, gen2Dir)
    val del = Layout.indexBase(spark, gen2Dir, "ivf_del")
    val nBase = spark.read.parquet(s"$main/cells").count()
    val nDead = spark.read.parquet(s"$del/tombstones").count()
    assert(cells.count() == nBase - nDead,
      "gen-2 cardinality != base - tombstones")
    val fs = new org.apache.hadoop.fs.Path(gen2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$gen2/tombstones")),
      "a compacted generation must carry no tombstone table")
  }

  test("compacted serve ≡ merge-on-read deleted serve bit-for-bit, plan mask-free") {
    val a = Similarity.simIvfAnnDeleted(spark, gen2Dir).collect().toSeq
    val df = Similarity.simIvfAnnCompacted(spark, gen2Dir)
    val b = df.collect().toSeq
    assert(a == b, "gen-2 serve diverged from the masked serve")
    // the whole point of the rewrite: no anti-join mask, no overlay split
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"), "gen-2 serve still anti-joins a mask")
    assert(!plan.contains("ivf_del"), "gen-2 serve still reads the overlay")
    assert(plan.contains("ivf_gen2"), "gen-2 serve does not read gen-2")
  }

  test("composed gen2 serve ≡ masked IVFPQ deleted serve bit-for-bit, plan mask-free") {
    val a = Similarity.simIvfPqDeleted(spark, gen2Dir).collect().toSeq
    val df = Similarity.simIvfPqCompacted(spark, gen2Dir)
    val b = df.collect().toSeq
    assert(a == b, "composed gen-2 serve diverged from the masked serve")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"), "composed gen-2 serve still anti-joins")
    assert(!plan.contains("ivf_del"), "composed gen-2 serve still reads the overlay")
  }

  // ---- PQ delete (the flat-index remove_ids analog: physical rewrite) ----

  private val pqDir = "/root/testdata/sf0.01"

  private def pqIsDead(id: Long): Boolean =
    id % Similarity.pqDelMod == Similarity.pqDelRem

  test("pq delete audit: overlay content is exactly base minus the carve") {
    val rows = Similarity.codecDeleteAudit(spark, pqDir, Similarity.pqCodec).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (base, dead, live) = (r.getAs[Long]("n_base"),
        r.getAs[Long]("n_dead"), r.getAs[Long]("n_live"))
      assert(live == base - dead,
        s"(s=${r.getAs[Int]("s")}, code=${r.getAs[Long]("code")}): " +
          s"live $live != base $base - dead $dead")
    }
    assert(rows.exists(_.getAs[Long]("n_dead") > 0),
      "the carve must tombstone something")
    // the physically rewritten overlay holds no deleted vector's codes
    val del = Layout.indexBase(spark, pqDir, "pq_del")
    import org.apache.spark.sql.functions.col
    assert(spark.read.parquet(s"$del/codes")
      .filter(col("vec_id") % Similarity.pqDelMod === Similarity.pqDelRem)
      .count() == 0, "overlay code table must hold no dead vec_id")
  }

  test("pq deleted search never surfaces a deleted id and loses no live id") {
    val full = Similarity.simPqAdcIndexed(spark, pqDir, k = 5).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
    val deleted = Similarity.simPqAdcDeleted(spark, pqDir, k = 5).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
    assert(deleted.nonEmpty)
    deleted.foreach { case (_, id) =>
      assert(!pqIsDead(id), s"deleted id $id surfaced in the ADC search")
    }
    // ADC scores are per-(query, vector) and independent of other
    // vectors: removing members can only admit new ids, never evict a
    // live survivor
    val deletedSet = deleted.toSet
    val lostLive = full.filter { case (qid, id) =>
      !pqIsDead(id) && !deletedSet((qid, id))
    }
    assert(lostLive.isEmpty, s"live ids lost by the PQ delete: $lostLive")
  }

  // ---- IVFPQ delete (the composed remove_ids: shared deletion event) ----

  test("ivfpq delete audit agrees with the IVF per-cell audit on every subspace") {
    val ivf = Similarity.simIvfDelete(spark, pqDir).collect()
      .map(r => r.getAs[Long]("cell") ->
        (r.getAs[Long]("n_base"), r.getAs[Long]("n_dead"),
          r.getAs[Long]("n_live"), r.getAs[Boolean]("compacted"))).toMap
    val rows = Similarity.simIvfPqDelete(spark, pqDir).collect()
    assert(rows.nonEmpty)
    val m = Similarity.pqM
    assert(rows.length == ivf.size * m,
      s"expected ${ivf.size} cells x $m subspaces, got ${rows.length}")
    rows.foreach { r =>
      val cell = r.getAs[Long]("cell")
      val (base, dead, live, compacted) = ivf(cell)
      // every vector carries exactly one code per subspace, so the
      // composed inverted-list occupancy must equal the vector counts
      assert(r.getAs[Long]("n_base") == base && r.getAs[Long]("n_dead") == dead
        && r.getAs[Long]("n_live") == live,
        s"cell $cell s=${r.getAs[Int]("s")} disagrees with the IVF audit")
      assert(r.getAs[Boolean]("compacted") == compacted,
        s"cell $cell: compaction flag diverged between the two audits")
      val liveCodes = r.getAs[Long]("n_live_codes")
      assert(liveCodes <= live && (live == 0) == (liveCodes == 0),
        s"cell $cell s=${r.getAs[Int]("s")}: $liveCodes codewords, $live live")
    }
  }

  test("ivfpq deleted search never surfaces a tombstoned id, at both nprobe points") {
    val cellOf = spark.read
      .parquet(Similarity.ensureIvfIndex(spark, pqDir) + "/cells")
      .selectExpr("m_vec_id", "CAST(cell AS BIGINT)").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (np <- Seq(2, 8)) {
      val res = Similarity.simIvfPqDeleted(spark, pqDir, nprobe = np).collect()
      assert(res.nonEmpty, s"empty composed result at nprobe=$np")
      res.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        assert(!isDead(cellOf(id), id),
          s"tombstoned id $id surfaced in the composed search at nprobe=$np")
      }
    }
  }
}
