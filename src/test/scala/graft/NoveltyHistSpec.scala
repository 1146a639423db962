package graft

import org.apache.spark.sql.functions._
import graft.queries.Text

/** Pins for the wave-2 profiling ops: novelty first-appearance credit
  * hand-traced on a planted corpus plus the distinct-gram conservation
  * law on real data, and the histogram-quantile sketch's containment +
  * linearity (base + delta cells ≡ the direct full-corpus histogram).
  */
class NoveltyHistSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("novelty credits a gram exactly once, to its lowest doc_id") {
    import spark.implicits._
    val text8 = "a b c d e f g h" // one 8-gram
    val planted = Seq(
      (1L, "s1", text8),          // first appearance -> novel
      (2L, "s2", text8),          // repeat -> 0 novel
      (3L, "s2", "p q r s t u v w x"), // 2 grams, both novel
      (4L, "s3", "too short"))    // under width -> 0 grams
      .toDF("doc_id", "source", "text")
    val out = Text.noveltyOver(planted).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("s1").getAs[Long]("n_grams") == 1)
    assert(out("s1").getAs[Long]("n_novel") == 1)
    assert(out("s1").getAs[Long]("novelty_ppm") == 1000000L)
    assert(out("s2").getAs[Long]("n_grams") == 3)
    assert(out("s2").getAs[Long]("n_novel") == 2)
    assert(out("s2").getAs[Long]("novelty_ppm") == 666666L)
    assert(out("s3").getAs[Long]("n_grams") == 0)
    assert(out("s3").getAs[Long]("n_novel") == 0)
    assert(out("s3").getAs[Long]("novelty_ppm") == 0L)
  }

  test("novelty conserves: novel grams sum to the global distinct-gram count") {
    val rows = Text.txNoveltyProfile(spark, dir).collect()
    assert(rows.nonEmpty)
    val novel = rows.map(_.getAs[Long]("n_novel")).sum
    val grams = rows.map(_.getAs[Long]("n_grams")).sum
    assert(novel > 0 && novel <= grams)
    // every distinct gram is novel somewhere, exactly once
    val distinctGk = Tables(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 8)
      .select(explode(expr(Text.shingleExpr(8))).as("g"))
      .select(expr(
        "CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)").as("gk"))
      .distinct().count()
    assert(novel == distinctGk,
      s"novel sum $novel != global distinct grams $distinctGk")
  }

  test("incremental novelty matches an independent set recompute; snapshot order wins") {
    val sf = "/root/testdata/sf0.001"
    def gks(carve: Long => Boolean): Map[Long, Set[Long]] =
      Tables(spark, sf, "documents")
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(expr(Text.shingleExpr(8))).as("g"))
        .select(col("doc_id"), expr(
          "CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)").as("gk"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => carve(p._1))
        .groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2).toSet }
    val baseGk = gks(_ % 5 != 0).values.flatten.toSet
    val deltaDocs = gks(_ % 5 == 0)
    val srcOf = Tables(spark, sf, "documents").select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // first-within-batch assignment of the not-in-base grams
    val firstIn = deltaDocs.toSeq
      .flatMap { case (d, s) => (s -- baseGk).map(_ -> d) }
      .groupBy(_._1).map { case (_, ds) => ds.map(_._2).min }
      .groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
    val served = Text.txNoveltyIncremental(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val bySrc = deltaDocs.keys.toSeq.groupBy(srcOf)
    served.foreach { case (src, r) =>
      // Seq, not Set — a Set.map would collapse equal per-doc counts
      val docs = bySrc.getOrElse(src, Seq.empty)
      assert(r.getAs[Long]("n_grams") ==
        docs.map(d => deltaDocs(d).size.toLong).sum, s"$src grams")
      assert(r.getAs[Long]("n_in_base") ==
        docs.map(d => (deltaDocs(d) & baseGk).size.toLong).sum,
        s"$src in_base")
      assert(r.getAs[Long]("n_novel") ==
        docs.map(d => firstIn.getOrElse(d, 0L)).sum, s"$src novel")
      // conservation: in-base + novel never exceed the gram total (the
      // gap is within-batch non-first duplicates)
      assert(r.getAs[Long]("n_in_base") + r.getAs[Long]("n_novel") <=
        r.getAs[Long]("n_grams"))
    }
  }

  test("cluster diameter BFS hand-traces on a planted chain and conserves members") {
    import spark.implicits._
    // path 1-2-3-4-5 (rep 1, eccentricity 4) + pair 10-11 (ecc 1)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val out = Text.diameterOver(spark, edges, 6).collect()
      .map(r => r.getAs[Int]("depth") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("n_clusters_ecc")))
      .toMap
    assert(out(0) == ((2L, 0L))) // two representatives
    assert(out(1) == ((2L, 1L))) // 2 and 11; pair cluster closes here
    assert(out(2) == ((1L, 0L)))
    assert(out(3) == ((1L, 0L)))
    assert(out(4) == ((1L, 1L))) // node 5; the chain's eccentricity
    assert(!out.contains(-1), "planted members must all be reached")
    // on the real corpus: members conserve against the closure and
    // nothing is left unreached within the round cap
    val served = Text.ddClusterDiameter(spark, dir).collect()
    val total = served.filter(_.getAs[Int]("depth") >= 0)
      .map(_.getAs[Long]("n_members")).sum
    val clusters = Text.ddDupClusters(spark, dir).count()
    assert(total == clusters,
      s"BFS reached $total members, closure has $clusters")
    assert(!served.exists(_.getAs[Int]("depth") == -1))
  }

  test("shingle df profile conserves mass and brackets each bucket") {
    val rows = Text.ddShingleDfProfile(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val mx = r.getAs[Long]("max_df")
      // every df in bucket b lies in [2^b, 2^(b+1))
      assert(mx >= (1L << b) && mx < (1L << (b + 1)), r.toString)
      assert(r.getAs[Long]("posting_mass") >= r.getAs[Long]("n_shingles"))
      assert(r.getAs[Long]("pair_mass") >= 0L)
    }
    // conservation: posting mass sums to the distinct (doc, gram) pairs
    val pairs = Tables(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(Text.shingleExpr(3))).as("g"))
      .count()
    assert(rows.map(_.getAs[Long]("posting_mass")).sum == pairs)
    // singletons (bucket 0) generate zero candidate pairs
    rows.find(_.getAs[Long]("bucket") == 0L).foreach { r =>
      assert(r.getAs[Long]("pair_mass") == 0L)
    }
  }

  test("histogram quantiles contain the exact percentile and stay monotone") {
    val rows = Text.txHistRefresh(spark, dir).collect()
    assert(rows.length >= 3)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("contained"),
        s"estimate does not contain the exact percentile: $r")
      // the estimate brackets from below by construction
      assert(r.getAs[Long]("exact_val") >= r.getAs[Long]("est_lo"))
    }
    // per source, buckets are monotone in p
    rows.groupBy(_.getAs[String]("source")).foreach { case (s, rs) =>
      val byP = rs.sortBy(_.getAs[Int]("p")).map(_.getAs[Long]("bucket"))
      assert(byP.sameElements(byP.sorted), s"$s: non-monotone buckets")
    }
  }

  test("histogram retract: counter subtraction serves the survivor corpus") {
    val rows = Text.txHistRetract(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Boolean]("contained"), r.toString))
    // per-source totals equal the survivor doc counts — the subtracted
    // sketch serves the survivor corpus, not an approximation of it
    val surv = Tables(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(7L)) =!= 3L)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n"))
      .toMap
    rows.groupBy(_.getAs[String]("source")).foreach { case (s, rs) =>
      assert(rs.head.getAs[Long]("n_docs") == surv(s), s)
    }
  }

  test("streamed delta cells + standing cells equal the one-pass histogram") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingOps
    val sf = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft-hist-stream").toString
    Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(5L)) === 0)
      .write.mode("overwrite").parquet(s"$streamDir/delta")
    val q = StreamingOps.histDeltaCells(
        StreamingOps.readDocumentsStream(spark, s"$streamDir/delta"))
      .writeStream.format("memory").queryName("hist_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not drain within timeout")
    val base = Text.histBase.ensure(spark, sf)
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[String]("source"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("cnt")).toMap
    val merged = toMap(spark.read.parquet(s"$base/cells")
      .unionByName(spark.table("hist_stream"))
      .groupBy("source", "bucket").agg(sum("cnt").as("cnt")).collect())
    val direct = toMap(
      Text.histCells(Tables(spark, sf, "documents")).collect())
    assert(merged == direct,
      "streamed delta counters + standing cells must equal the one-pass histogram")
  }

  test("histogram cells are linear: base + delta equals the direct sketch") {
    val full = Tables(spark, dir, "documents")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select(col("source"),
          least(expr("size(split(text, ' ')) div 16"), lit(63L))
            .cast("long").as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("bucket")) ->
          r.getAs[Long]("cnt")).toMap
    val base = cells(full.filter(pmod(col("doc_id"), lit(5L)) =!= 0))
    val delta = cells(full.filter(pmod(col("doc_id"), lit(5L)) === 0))
    val direct = cells(full)
    val merged = (base.keySet ++ delta.keySet).map(k =>
      k -> (base.getOrElse(k, 0L) + delta.getOrElse(k, 0L))).toMap
    assert(merged == direct)
  }
}
