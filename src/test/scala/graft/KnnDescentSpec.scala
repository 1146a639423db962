package graft

import graft.queries.Similarity

/** NN-descent pins: the local-join rounds may only IMPROVE each vertex's
  * neighborhood (keep-best-of-union makes per-rank cosine monotone
  * non-decreasing — the Dong et al. WWW'11 convergence argument), every
  * vertex stays covered, and recall against the exact driver-side global
  * kNN rises from the deliberately-approximate LSH+ring init to the
  * descended graph (measured floors pinned per corpus).
  */
class KnnDescentSpec extends SparkSpec {

  // recall is evaluated on the top-3 ranked edges against the exact
  // global top-3 (the offline numpy model's metric); the graph itself
  // carries knnDescentK = 12 neighbors per vertex (descent needs the
  // breadth — see the operator scaladoc)
  private val k = 3

  /** Exact global top-k by brute force on the driver — the recall
    * reference (n ≤ 2000 vectors of 64 floats: bounded).
    */
  private def exactTopK(dir: String): Map[Long, Set[Long]] = exactTopKOf(dir, k)

  private def graphAt(dir: String, rounds: Int): Map[Long, Seq[(Long, Double)]] =
    Similarity.simKnnDescent(spark, dir, rounds = rounds).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rnk")))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap

  private def recall(graph: Map[Long, Seq[(Long, Double)]],
      exact: Map[Long, Set[Long]]): Double =
    exact.iterator.map { case (id, want) =>
      graph.getOrElse(id, Seq.empty).take(k).count(e => want(e._1))
    }.sum.toDouble / exact.iterator.map(_._2.size).sum

  // floors sit just under the offline-modeled (and engine-reproduced)
  // points: init 0.049, descended 0.737 at both 500-vector corpora —
  // the init is DELIBERATELY poor (that's what descent demonstrates)
  for ((dir, floor0, floorN) <- Seq(
      ("/root/testdata/sf0.001", 0.04, 0.70),
      ("/root/testdata/sf0.01", 0.04, 0.70)))
    test(s"descent at $dir: monotone per-rank improvement, full coverage, recall rises past $floorN") {
      val exact = exactTopK(dir)
      val rounds = (0 to Similarity.knnDescentRounds).map(r => graphAt(dir, r))
      // full coverage: the ring strides guarantee every vertex has edges
      rounds.foreach(g => assert(g.size == exact.size,
        s"${exact.size - g.size} vertices missing from the graph"))
      // keep-best-of-union: cosine at each rank never degrades round over round
      rounds.sliding(2).foreach { case Seq(prev, next) =>
        prev.foreach { case (id, es) =>
          val ns = next(id)
          assert(ns.size >= es.size, s"vertex $id lost neighbors")
          es.indices.foreach { i =>
            assert(ns(i)._2 >= es(i)._2,
              s"vertex $id rank ${i + 1} degraded: ${ns(i)._2} < ${es(i)._2}")
          }
        }
      }
      val r0 = recall(rounds.head, exact)
      val rN = recall(rounds.last, exact)
      info(f"recall: init $r0%.3f -> descended $rN%.3f")
      assert(rN > r0, s"descent did not improve recall ($r0 -> $rN)")
      assert(r0 >= floor0, s"init recall $r0 under the pinned floor $floor0")
      assert(rN >= floorN, s"descended recall $rN under the pinned floor $floorN")
    }

  // ---- beam search over the standing graph (the HNSW layer-0 walk) ----

  for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"graph search at $dir: hop-monotone frontier, no self hit, recall@5 >= 0.85") {
      val kSearch = 5
      val exact5 = {
        val e = exactTopKOf(dir, kSearch)
        e.view.filterKeys(_ < 5).toMap
      }
      // keep-best-of-union across hops: each query's rank-r cosine is
      // monotone non-decreasing in the hop count
      val byHops = (1 to Similarity.graphSearchHops).map { h =>
        Similarity.simGraphSearch(spark, dir, k = kSearch, hops = h).collect()
          .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
            r.getAs[Double]("cosine"), r.getAs[Int]("rnk")))
      }
      byHops.foreach(_.foreach { case (qid, vid, _, _) =>
        assert(vid != qid, s"query $qid returned itself")
      })
      byHops.sliding(2).foreach { case Seq(prev, next) =>
        val nm = next.map(t => (t._1, t._4) -> t._3).toMap
        prev.foreach { case (qid, _, c, rnk) =>
          assert(nm((qid, rnk)) >= c,
            s"query $qid rank $rnk degraded with an extra hop")
        }
      }
      val fin = byHops.last
      val hits = fin.count { case (qid, vid, _, _) => exact5(qid)(vid) }
      val recall = hits.toDouble / (exact5.size * kSearch)
      info(f"graph-search recall@5: $recall%.3f")
      assert(recall >= 0.85, s"recall $recall under the modeled 0.88 floor")
    }

  test("graph upsert: delta carve covered, corpus-only links, measured walk recall") {
    val dir = "/root/testdata/sf0.01"
    val kg = Similarity.knnDescentK
    val rows = Similarity.simKnnGraphUpsert(spark, dir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine")))
    val byQ = rows.groupBy(_._1)
    // the reversed negative-key carve, each with exactly the graph degree
    val vecs = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val expectQids = vecs.map(_._1).filter(_ % 5 == 0).map(-_ - 1).toSet
    assert(byQ.keySet == expectQids, "upsert queries are not the delta carve")
    byQ.values.foreach(es => assert(es.length == kg, "degree != knnDescentK"))
    rows.foreach { case (_, nbr, _) =>
      assert(nbr >= 0, s"insert linked to non-corpus id $nbr")
    }
    // walk recall vs driver-side brute force of the reversed delta
    val norms = vecs.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    }.toMap
    val hits = byQ.map { case (qid, es) =>
      val src = -(qid + 1)
      val dv = vecs.find(_._1 == src).get._2.reverse
      val dn = math.sqrt(dv.map(x => x.toDouble * x.toDouble).sum)
      val want = vecs.map { case (jd, u) =>
        var dot = 0.0
        var i = 0
        while (i < dv.length) { dot += dv(i).toDouble * u(i).toDouble; i += 1 }
        (jd, dot / (dn * norms(jd)))
      }.sortBy { case (jd, c) => (-c, jd) }.take(kg).map(_._1).toSet
      es.count(e => want(e._2))
    }.sum
    val recall = hits.toDouble / (byQ.size * kg)
    info(f"graph-upsert walk recall@$kg: $recall%.3f")
    assert(recall >= 0.78, s"insert-walk recall $recall under the measured 0.824")
  }

  // ---- delete lifecycle: overlay repair + post-delete walk ----

  for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"graph delete at $dir: dead-free overlay, live coverage, bridge repair, walk recall") {
      def isDead(id: Long): Boolean =
        id % Similarity.graphDelMod == Similarity.graphDelRem
      val audit = Similarity.simKnnGraphDelete(spark, dir).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("deg_before"),
          r.getAs[Long]("n_dead_nbrs"), r.getAs[Long]("deg_after"),
          r.getAs[Long]("n_new_links")))
      val base = Similarity.ensureKnnGraphDeleteIndex(spark, dir)
      val rep = spark.read.parquet(s"$base/edges")
        .select("vec_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // no dead id in ANY adjacency position — the r10 verdict's exact gap
      // (dead ids previously lingered in lists for the walk to surface)
      rep.foreach { case (s, d) =>
        assert(!isDead(s), s"dead vertex $s still owns an adjacency list")
        assert(!isDead(d), s"dead id $d survives in $s's adjacency list")
      }
      // every live vertex keeps an adjacency list (nobody orphaned)
      val n = Tables(spark, dir, "embeddings").count()
      val live = (0L until n).filterNot(isDead).toSet
      assert(rep.map(_._1).toSet == live,
        "live vertex set != overlay adjacency owners")
      // keep-best-of-union floor: repair never leaves a vertex with fewer
      // neighbors than survived the tombstoning, and the bridge round
      // actually fires (some vertex gains a link it did not have)
      audit.foreach { case (id, before, deadN, after, _) =>
        assert(after >= before - deadN,
          s"vertex $id lost live neighbors in repair ($before-$deadN -> $after)")
        assert(after <= Similarity.knnDescentK, s"vertex $id over-degree")
      }
      val newLinks = audit.map(_._5).sum
      info(s"bridge repair added $newLinks new links across ${audit.length} vertices")
      assert(newLinks > 0, "bridge repair never fired")
      // post-delete walk recall vs driver-side brute force over the LIVE
      // corpus (the 0.88-point corpora; floors pinned under measurement)
      val kSearch = 5
      val vecs = Tables(spark, dir, "embeddings")
        .selectExpr("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val norms = vecs.map { case (id, v) =>
        id -> math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      }.toMap
      val exactLive = vecs.filter(_._1 < 5).map { case (id, v) =>
        val scored = vecs.filter(t => t._1 != id && !isDead(t._1))
          .map { case (jd, u) =>
            var dot = 0.0
            var i = 0
            while (i < v.length) { dot += v(i).toDouble * u(i).toDouble; i += 1 }
            (jd, dot / (norms(id) * norms(jd)))
          }
        id -> scored.sortBy { case (jd, c) => (-c, jd) }
          .take(kSearch).map(_._1).toSet
      }.toMap
      val res = Similarity.simGraphSearchDeleted(spark, dir, k = kSearch)
        .collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
      res.foreach { case (_, vid) =>
        assert(!isDead(vid), s"post-delete walk surfaced dead id $vid")
      }
      val hits = res.count { case (qid, vid) => exactLive(qid)(vid) }
      val recall = hits.toDouble / (exactLive.size * kSearch)
      info(f"post-delete walk recall@5 (vs live brute force): $recall%.3f")
      assert(recall >= 0.80, s"post-delete recall $recall under the pinned floor")
    }

  // ---- HNSW upper layers: routing mechanism + measured recall ----

  for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"hnsw at $dir: layers well-formed, routed entries closer, recall pinned") {
      // layer structure: members obey the stratification rule, degrees
      // bounded, every member owns a list (L2 ⊂ L1 by construction)
      val base = Similarity.ensureHnswIndex(spark, dir)
      val l1 = spark.read.parquet(s"$base/l1_edges")
        .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
      val l2 = spark.read.parquet(s"$base/l2_edges")
        .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
      l1.foreach { case (s, d) =>
        assert(s % Similarity.hnswL1Mod == 0 && d % Similarity.hnswL1Mod == 0) }
      l2.foreach { case (s, d) =>
        assert(s % Similarity.hnswL2Mod == 0 && d % Similarity.hnswL2Mod == 0) }
      val n = Tables(spark, dir, "embeddings").count()
      assert(l2.map(_._1).distinct.length ==
        (0L until n).count(_ % Similarity.hnswL2Mod == 0))
      assert(l1.groupBy(_._1).values.forall(_.length <= Similarity.hnswL1K))
      // mechanism pin: the routed entry is (much) closer to its query
      // than the fixed min-vec_id entry — summed brute-force ranks
      val vecs = Tables(spark, dir, "embeddings")
        .selectExpr("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val norms = vecs.map { case (id, v) =>
        id -> math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      }.toMap
      def bruteRank(q: Long, v: Long): Int = {
        val qv = vecs.find(_._1 == q).get._2
        val qn = norms(q)
        val order = vecs.filter(_._1 != q).map { case (jd, u) =>
          var dot = 0.0
          var i = 0
          while (i < qv.length) { dot += qv(i).toDouble * u(i).toDouble; i += 1 }
          (jd, dot / (qn * norms(jd)))
        }.sortBy { case (jd, c) => (-c, jd) }.map(_._1)
        order.indexOf(v)
      }
      val routed = Similarity.hnswRouteEntries(spark, dir, None).collect()
        .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("vid")).toMap
      assert(routed.keySet == (0L until 5L).toSet)
      val routedRanks = routed.toSeq.sortBy(_._1).map { case (q, v) => bruteRank(q, v) }
      val fixedRanks = (0L until 5L).map(q => if (q == 0L) 0 else bruteRank(q, 0L))
      info(s"routed entry ranks: $routedRanks; fixed-entry ranks: $fixedRanks")
      assert(routedRanks.sum < fixedRanks.sum,
        s"upper-layer routing did not move entries closer ($routedRanks vs $fixedRanks)")
      // measured recall point — the honest comparison against the 0.88
      // fixed-entry operating point (the numpy model predicted routing
      // matches-but-does-not-beat on this concentrated corpus)
      val exact = exactTopKOf(dir, 5)
      val res = Similarity.simHnswSearch(spark, dir).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
      val recall = res.count { case (q, v) => exact(q)(v) }.toDouble / 25
      info(f"hnsw-routed walk recall@5: $recall%.3f (fixed-entry point: 0.88)")
      assert(recall >= 0.80, s"hnsw recall $recall under the pinned floor")
    }

  test("LPA communities: cliques converge to min-label, a bridge does not merge them") {
    val spark2 = spark
    import spark2.implicits._
    // two triangles joined by ONE bridge edge (0-10): connected as a
    // single component, but LPA keeps two communities — the density
    // lens the scaladoc claims vs the CC closure
    val cl1 = Seq((0L, 1L), (0L, 2L), (1L, 2L))
    val cl2 = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val bridge = Seq((0L, 10L))
    import org.apache.spark.sql.functions.col
    val directed = (cl1 ++ cl2 ++ bridge).toDF("v", "u")
    val und = directed
      .unionByName(directed.select(col("u").as("v"), col("v").as("u")))
      .distinct()
    val out = Similarity.communitiesOver(und).collect()
      .map(r => (r.getAs[Long]("community"), r.getAs[Long]("n_members"),
        r.getAs[Long]("first_member"), r.getAs[Long]("last_member")))
    // hand-traced (3 synchronous rounds, 2x neighbor + 1x self votes,
    // min-label ties): l1 = [1,0,0,0,10,10], l2 = [0,0,0,10,10,10],
    // l3 = l2 stable — each triangle is one community; the bridge does
    // NOT merge them (a CC closure would return one component)
    assert(out.toSeq == Seq((0L, 3L, 0L, 2L), (10L, 3L, 10L, 12L)),
      s"LPA must keep the two bridged triangles apart: ${out.toSeq}")
  }

  test("triangle census: bridged triangles count once each, the square counts none") {
    val spark2 = spark
    import spark2.implicits._
    // the LPA fixture (two triangles + bridge 0-10) plus a 4-cycle
    // 20-21-22-23: cycles have wedges but NO triangles — the census
    // must not confuse the two (a pair-count heuristic would)
    val tri2 = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L), (0L, 10L))
    val square = Seq((20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L))
    import org.apache.spark.sql.functions.col
    val directed = (tri2 ++ square).toDF("v", "u")
    val und = directed
      .unionByName(directed.select(col("u").as("v"), col("v").as("u")))
      .distinct()
    val out = Similarity.trianglesOver(und).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"),
          r.getAs[Long]("n_wedges"), r.getAs[Double]("lcc"))).toMap
    // hand-counted: 1,2,11,12 sit in 1 triangle with deg 2 (lcc 1);
    // 0 and 10 carry the bridge (deg 3, wedges 3, still 1 triangle);
    // the square's vertices have deg 2, one wedge each, zero triangles
    for (v <- Seq(1L, 2L, 11L, 12L))
      assert(out(v) == ((2L, 1L, 1L, 1.0)), s"vertex $v: ${out(v)}")
    for (v <- Seq(0L, 10L))
      assert(out(v) == ((3L, 1L, 3L, 1.0 / 3.0)), s"vertex $v: ${out(v)}")
    for (v <- Seq(20L, 21L, 22L, 23L))
      assert(out(v) == ((2L, 0L, 1L, 0.0)), s"vertex $v: ${out(v)}")
    // global count: each triangle found exactly once (sum of corners = 3T)
    assert(out.values.map(_._2).sum == 6L, "corner sum must be 3 x 2 triangles")
  }

  /** exactTopK generalized to an arbitrary k for the search pins. */
  test("hnsw upserted: strata admit negative ids, layer 0 is bidirectional, recall on the upserted corpus pinned") {
    val dir = "/root/testdata/sf0.01"
    val base = Similarity.ensureHnswUpsIndex(spark, dir)
    // layer 0 carries the insert links BOTH ways — a walk can route TO
    // an inserted vector and THROUGH it
    val l0 = spark.read.parquet(s"$base/l0_edges")
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val l0set = l0.toSet
    assert(l0.exists(_._1 < 0) && l0.exists(_._2 < 0),
      "upserted layer 0 missing negative-id adjacency")
    l0.filter(_._1 < 0).take(50).foreach { case (s, d) =>
      assert(l0set.contains((d, s)), s"insert link ($s,$d) not bidirectional")
    }
    // the re-derived strata admit negative ids exactly when the modulus
    // does (% keeps the dividend's sign in both engines)
    val l1m = spark.read.parquet(s"$base/l1_edges")
      .select("src").collect().map(_.getLong(0)).distinct
    assert(l1m.forall(_ % Similarity.hnswL1Mod == 0))
    assert(l1m.exists(_ < 0), "no upserted vector reached level 1")
    // recall vs brute force over the UPSERTED corpus (base + reversed
    // negative-key delta) — the measured point beside the 0.824
    // insert-walk and 0.80 routed-walk pins
    val vecs = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val all = vecs ++ vecs.filter(_._1 % 5 == 0)
      .map { case (id, v) => (-id - 1, v.reverse) }
    val norms = all.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    }.toMap
    val exact = (0L until 5L).map { q =>
      val qv = all.find(_._1 == q).get._2
      q -> all.filter(_._1 != q).map { case (jd, u) =>
        var dot = 0.0
        var i = 0
        while (i < qv.length) { dot += qv(i).toDouble * u(i).toDouble; i += 1 }
        (jd, dot / (norms(q) * norms(jd)))
      }.sortBy { case (jd, c) => (-c, jd) }.take(5).map(_._1).toSet
    }.toMap
    val res = Similarity.simHnswSearchUpserted(spark, dir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
    assert(res.length == 25)
    val recall = res.count { case (q, v) => exact(q)(v) }.toDouble / 25
    info(f"hnsw upserted-corpus walk recall@5: $recall%.3f (measured 0.840)")
    assert(recall >= 0.78, s"upserted-walk recall $recall under the measured 0.840")
  }

  test("hnsw deleted: strata and results are tombstone-free, recall over the survivors pinned") {
    val dir = "/root/testdata/sf0.01"
    val base = Similarity.ensureHnswDelIndex(spark, dir)
    def dead(id: Long): Boolean =
      id % Similarity.graphDelMod == Similarity.graphDelRem
    // the re-derived strata contain NO tombstoned vertex — stale upper
    // layers are exactly what this overlay exists to replace
    Seq("l1_edges", "l2_edges").foreach { t =>
      val es = spark.read.parquet(s"$base/$t")
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(es.nonEmpty && es.forall { case (s, d) => !dead(s) && !dead(d) },
        s"tombstoned vertex survives in $t")
    }
    // recall vs brute force over the SURVIVING members; queries stay
    // the external 0..4 set (query 3 is itself tombstoned — searching
    // WITH a deleted vector's embedding is legal, it just can't be
    // returned, and both engines treat it identically)
    val allVecs = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val vecs = allVecs.filter { case (id, _) => !dead(id) }
    val qnorms = allVecs.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    }.toMap
    val exact = (0L until 5L).map { q =>
      val qv = allVecs.find(_._1 == q).get._2
      q -> vecs.filter(_._1 != q).map { case (jd, u) =>
        var dot = 0.0
        var i = 0
        while (i < qv.length) { dot += qv(i).toDouble * u(i).toDouble; i += 1 }
        (jd, dot / (qnorms(q) * qnorms(jd)))
      }.sortBy { case (jd, c) => (-c, jd) }.take(5).map(_._1).toSet
    }.toMap
    val res = Similarity.simHnswSearchDeleted(spark, dir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
    assert(res.length == 25)
    assert(res.forall { case (_, v) => !dead(v) },
      "a tombstoned vector surfaced in the post-delete layered walk")
    val recall = res.count { case (q, v) => exact(q)(v) }.toDouble / 25
    info(f"hnsw survivor-corpus walk recall@5: $recall%.3f (measured 0.840)")
    assert(recall >= 0.78, s"deleted-walk recall $recall under the measured 0.840")
  }

  test("scoreTopK: src joins last so the keep-best window adds no exchange (SMJ regime)") {
    // the r16-opt join-order claim, probed in the regime it exists for
    // (broadcasts at -1, AQE off — the CLAUDE.md broadcast-beating rule):
    // cand⋈dst costs 2 exchanges, ⋈src 2 more, and the window's required
    // hashpartitioning(src) is satisfied by the final join — 4 total,
    // with NO exchange between the Window and the src-side join.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // ADVICE r16-3: AQE is save/restored like the thresholds, not
    // hardcoded back to "true" — a session configured with AQE off must
    // leave this test the way it entered
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val saved = confs.map(kk => kk -> spark.conf.getOption(kk))
    confs.take(2).foreach(kk => spark.conf.set(kk, "-1"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      graft.functions.VectorFunctions.ensureRegistered(spark)
      val v = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("norm", expr("sqrt(float_dot(embedding, embedding))"))
      val cand = Tables(spark, dir, "embeddings")
        .select(col("vec_id").as("src"),
          ((col("vec_id") + 1) % 100).as("dst"))
      val plan = Similarity.scoreTopK(cand, v, 5)
        .queryExecution.executedPlan
      // 3 real exchanges: cand-by-dst, v-by-dst, joined-by-src. The
      // src-side v exchange REUSES the dst-side one (same v subtree
      // hashed by vec_id either way), and the window adds none — its
      // required hashpartitioning(src) is the final join's output.
      val exchanges = plan.collect { case e: ShuffleExchangeLike => e }
      assert(exchanges.length == 3,
        s"expected 3 exchanges (2 joins + v-side reuse, none for the window): got ${exchanges.length}\n$plan")
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      assert(plan.collect { case r: ReusedExchangeExec => r }.nonEmpty,
        s"v side no longer shares one exchange across both joins\n$plan")
      val windowSubtreeExchanges = plan.collect {
        case w: WindowExec =>
          w.child.collect { case e: ShuffleExchangeLike => e }.length
      }
      assert(windowSubtreeExchanges.nonEmpty, s"no WindowExec in\n$plan")
      // every exchange sits at or below the joins: the window subtree
      // sees all 3, i.e. the window itself required no 4th
      assert(windowSubtreeExchanges.head == 3,
        s"window required a 4th exchange — src join no longer satisfies it\n$plan")
    } finally {
      saved.foreach {
        case (kk, Some(vv)) => spark.conf.set(kk, vv)
        case (kk, None) => spark.conf.unset(kk)
      }
    }
  }

  test("descent round: B(w) membership folds through ONE exchange with a bounded buffer (r17-opt)") {
    // the round's retired shape deduped (w, x) rows through a distinct
    // exchange and self-joined them through two more; the collect_set
    // form must keep exactly one shuffle on the membership rows, and its
    // aggregation buffer is bounded by 2k by construction (k
    // out-neighbors + the k-capped reverse set). Drives the SAME local
    // join the production descent loop runs (Similarity.descentLocalJoin).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val k = 3
    val graph = (0L until 40L).flatMap(s =>
        (1 to k).map(j => (s, (s + j) % 40L, 1.0 / j, j)))
      .toDF("src", "dst", "cosine", "rnk")
    val (bset, pairs) = Similarity.descentLocalJoin(graph, k)
    val rows = bset.collect()
    assert(rows.nonEmpty && rows.forall(_.getSeq[Long](1).size <= 2 * k),
      "B(w) buffer exceeded the 2k bound")
    val exchanges = bset.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e }
    // one for the groupBy(w); the rev window's dst exchange serves both
    // (w = dst on the reverse side)
    assert(exchanges.length <= 2,
      s"membership fold grew extra exchanges:\n${bset.queryExecution.executedPlan}")
    // the pair SET from the array expansion equals the retired
    // distinct+self-join form's, rebuilt here independently
    val viaArray = pairs
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wRev = org.apache.spark.sql.expressions.Window
      .partitionBy("dst").orderBy(col("cosine").desc, col("src").asc)
    val rev = graph.withColumn("rrnk", row_number().over(wRev))
      .filter(col("rrnk") <= k)
      .select(col("dst").as("w"), col("src").as("x"))
    val nbrsD = graph.select(col("src").as("w"), col("dst").as("x"))
      .unionByName(rev).distinct()
    val viaJoin = nbrsD.as("a").join(nbrsD.as("b"),
        col("a.w") === col("b.w") && col("a.x") =!= col("b.x"))
      .select(col("a.x").as("src"), col("b.x").as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaArray == viaJoin, "array expansion changed the candidate pair set")
  }

  private def exactTopKOf(dir: String, kk: Int): Map[Long, Set[Long]] = {
    val vecs = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val norms = vecs.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    }.toMap
    vecs.map { case (id, v) =>
      val scored = vecs.filter(_._1 != id).map { case (jd, u) =>
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += v(i).toDouble * u(i).toDouble; i += 1 }
        (jd, dot / (norms(id) * norms(jd)))
      }
      id -> scored.sortBy { case (jd, c) => (-c, jd) }.take(kk).map(_._1).toSet
    }.toMap
  }
}
