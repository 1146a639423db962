package graft

import org.apache.spark.sql.functions._
import graft.queries.Text

/** KMV (bottom-k) distinct-cardinality sketches and the sketch-derived
  * source-overlap matrix. The lossless-merge test pins the identity the
  * 100 TB story rests on (min-k(∪ sources) = min-k(∪ per-source
  * sketches), exact, not approximate); the planted tests exercise both
  * estimator paths (small-set exact, full-sketch floor division); the
  * sf0.01 test pins estimate accuracy against true distinct counts —
  * the part the bit-exact oracle deliberately does not check.
  */
class KmvSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  private def plant(rows: Seq[(Long, String, String, String)]): String = {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kmv").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("bottom-k of per-source sketches IS the full-corpus sketch (lossless merge)") {
    val docsDf = Tables(spark, sf001, "documents")
    val per = Text.kmvSketches(docsDf)
    val fromSketches = per.select(explode(col("sketch")).as("gk"))
      .distinct().collect().map(_.getLong(0)).sorted.take(Text.KmvK).toSeq
    val direct = Text.kmvSketches(docsDf.withColumn("source", lit("ALL")))
      .collect()
    assert(direct.length == 1)
    val directSketch = direct.head.getSeq[Long](1)
    assert(fromSketches == directSketch,
      "merging per-source bottom-ks must reproduce the direct corpus sketch exactly")
  }

  test("planted: small source takes the exact path, large the estimator path") {
    val big = (0 until 600).map(i => s"t$i").mkString(" ") // 598 shingles
    val dir = plant(Seq(
      (1L, "a b c d e f", "en", "tiny"), // 4 distinct 3-gram shingles
      (2L, big, "en", "large")))
    val rows = Text.txKmvDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val tiny = rows("tiny")
    assert(tiny.getAs[Long]("k_used") == 4L && tiny.isNullAt(2) &&
      tiny.getAs[Long]("est_distinct") == 4L,
      s"under-full sketch must report its exact size: $tiny")
    val large = rows("large")
    assert(large.getAs[Long]("k_used") == Text.KmvK.toLong &&
      !large.isNullAt(2), s"full sketch expected: $large")
    val est = large.getAs[Long]("est_distinct").toDouble
    assert(math.abs(est - 598.0) / 598.0 < 0.3,
      s"estimator path must land near the true 598: $est")
  }

  test("planted overlap: identical sources at jaccard 1, disjoint at 0") {
    val shared = (0 until 50).map(i => s"s$i").mkString(" ")
    val other = (0 until 50).map(i => s"z$i").mkString(" ")
    val dir = plant(Seq(
      (1L, shared, "en", "srcA"),
      (2L, shared, "en", "srcB"),
      (3L, other, "en", "srcC")))
    val rows = Text.txKmvOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = rows(("srcA", "srcB"))
    assert(ab.getAs[Long]("n_both") == ab.getAs[Long]("k_used") &&
      ab.getAs[Double]("jaccard_est") == 1.0,
      s"identical sources must merge to an all-shared sketch: $ab")
    for (p <- Seq(("srcA", "srcC"), ("srcB", "srcC"))) {
      val r = rows(p)
      assert(r.getAs[Long]("n_both") == 0L &&
        r.getAs[Double]("jaccard_est") == 0.0,
        s"disjoint sources must share no sketch key: $r")
    }
  }

  test("sf0.01: estimates track true distinct shingle counts within 25%") {
    val est = Text.txKmvDistinct(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("est_distinct")).toMap
    val keyed = Tables(spark, sf001, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= Text.KmvWidth)
      .select(col("source"),
        explode(expr(Text.shingleExpr(Text.KmvWidth))).as("g"))
    val perSource = keyed.groupBy("source")
      .agg(countDistinct("g").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = keyed.select("g").distinct().count()
    for ((s, n) <- perSource) {
      val e = est(s).toDouble
      assert(math.abs(e - n) / n < 0.25, s"$s: est $e vs true $n")
    }
    assert(math.abs(est("ALL").toDouble - total) / total < 0.25,
      s"ALL: est ${est("ALL")} vs true $total")
    assert(est.size == perSource.size + 1)
  }

  test("refresh (standing base + delta) equals the full rebuild bit-for-bit") {
    val refreshed = Text.txKmvRefresh(spark, sf001).collect()
    val rebuilt = Text.txKmvDistinct(spark, sf001).collect()
    assert(refreshed.length == rebuilt.length && refreshed.nonEmpty)
    assert(refreshed.toSeq == rebuilt.toSeq,
      "the lossless bottom-k union must make refresh ≡ rebuild exactly")
  }

  test("refresh scans the corpus once — the delta carve, never the base") {
    Text.kmvBase.ensure(spark, sf001) // standing table before planning
    val df = Text.txKmvRefresh(spark, sf001)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val corpusScans = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation => f.location.rootPaths.mkString(",")
        case _ => ""
      }
    }.count(_.contains("documents"))
    assert(corpusScans == 1,
      s"the refresh plan must scan the corpus exactly once, saw $corpusScans")
  }

  test("source retirement: drop-row + re-merge equals the survivor rebuild, zero extra scans") {
    // the deletion contrast to tx_cms_retract: bottom-k cannot subtract
    // a document, but retiring a SOURCE is free — its standing row
    // drops and min-k(∪ survivors) = min-k(surviving corpus keys)
    val retired = Text.txKmvRetract(spark, sf001).collect()
    assert(retired.nonEmpty &&
      !retired.exists(_.getString(0) == Text.kmvRetiredSource),
      "the retired source still reports")
    val rebuilt = Text.txKmvDistinct(spark, sf001).collect()
      .filter(_.getString(0) != Text.kmvRetiredSource)
      .filter(_.getString(0) != "ALL")
    val retiredSrcRows = retired.filter(_.getString(0) != "ALL")
    assert(retiredSrcRows.map(_.toSeq).toSeq == rebuilt.map(_.toSeq).toSeq,
      "surviving sources' rows must be untouched by the retirement")
    // the ALL row must equal a from-scratch merge over survivors (the
    // oracle pins the raw-text version; this pins the sketch algebra)
    val directAll = Text.kmvReport(
        Text.kmvSketches(Tables(spark, sf001, "documents")
          .filter(col("source") =!= Text.kmvRetiredSource)), Text.KmvK)
      .filter(col("source") === "ALL").collect()
    assert(retired.filter(_.getString(0) == "ALL").map(_.toSeq).toSeq ==
      directAll.map(_.toSeq).toSeq,
      "re-merged ALL row drifted from the survivor rebuild")
    // scan shape: one corpus scan (the delta leg), same as the refresh
    Text.kmvBase.ensure(spark, sf001)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val corpusScans = Text.txKmvRetract(spark, sf001)
      .queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case f: HadoopFsRelation => f.location.rootPaths.mkString(",")
          case _ => ""
        }
      }.count(_.contains("documents"))
    assert(corpusScans == 1,
      s"retirement must not rescan the corpus beyond the delta leg, saw $corpusScans")
  }

  test("standing sketches are served, not rebuilt per refresh") {
    val base = Text.kmvBase.ensure(spark, sf001)
    val marker = new org.apache.hadoop.fs.Path(s"$base/sketches/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = fs.getFileStatus(marker).getModificationTime
    Text.txKmvRefresh(spark, sf001).collect()
    Text.txKmvRefresh(spark, sf001).collect()
    assert(fs.getFileStatus(marker).getModificationTime == t0,
      "two refreshes must not rewrite the standing sketch table")
  }

  test("streamed delta keys + standing sketches equal the batch refresh") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.streaming.StreamingOps
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft-kmv-stream").toString
    Tables(spark, sf001, "documents")
      .filter(pmod(col("doc_id"), lit(Text.incrementalDeltaMod)) === 0)
      .write.mode("overwrite").parquet(s"$streamDir/delta")
    val q = StreamingOps.kmvDeltaKeys(
        StreamingOps.readDocumentsStream(spark, s"$streamDir/delta"))
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not drain within timeout")
    val base = Text.kmvBase.ensure(spark, sf001)
    val merged = spark.read.parquet(s"$base/sketches")
      .select(col("source"), explode(col("sketch")).as("gk"))
      .unionByName(spark.table("kmv_stream").select("source", "gk"))
      .distinct()
      .groupBy("source")
      .agg(ColumnBridge.collectTopK(col("gk"), Text.KmvK, reverse = true)
        .as("sketch"))
    val streamed = Text.kmvReport(merged, Text.KmvK).collect()
    val batch = Text.txKmvRefresh(spark, sf001).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq,
      "streamed delta keys + lossless union must equal the batch refresh")
  }
}
