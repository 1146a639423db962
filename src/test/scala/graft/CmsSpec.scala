package graft

import org.apache.spark.sql.functions._
import graft.queries.Text

/** Count-min sketch: linearity (the merge law — cell tables SUM, which
  * is what makes per-shard/per-day sketches combinable at 100 TB), the
  * planted hand-count exactness of the probe path, and the CMS
  * overestimate-only guarantee on the natural corpus.
  */
class CmsSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  test("CMS is linear: per-carve cell partials sum to the direct sketch") {
    val grams = Text.cmsGrams(Tables(spark, sf001, "documents"))
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = toMap(Text.cmsCells(grams).collect())
    val lo = Text.cmsCells(grams.filter(col("source") < "src5")).collect()
    val hi = Text.cmsCells(grams.filter(col("source") >= "src5")).collect()
    val summed = (toMap(lo).toSeq ++ toMap(hi).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(summed == direct,
      "cell-wise sum of carve sketches must equal the one-pass sketch")
    assert(direct.nonEmpty && direct.values.sum == grams.count() * Text.CmsDepth)
  }

  test("planted corpus: probe estimates equal hand counts, zero overestimate") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cms").toString
    Seq(
      (1L, "x y x y z", "en", "src0"),
      (2L, "x y q", "en", "src1"),
      (3L, "q r q r", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.txCmsFrequency(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("est_count"), r.getAs[Long]("exact_count"),
          r.getAs[Long]("overestimate"))).toMap
    // probes = distinct src0 bigrams {"x y", "y x", "y z"}; "x y" occurs
    // twice in doc 1 and once in doc 2 — corpus-wide frequency semantics
    assert(rows.keySet == Set("x y", "y x", "y z"))
    assert(rows("x y") == ((3L, 3L, 0L)), s"got ${rows("x y")}")
    assert(rows("y x") == ((1L, 1L, 0L)))
    assert(rows("y z") == ((1L, 1L, 0L)))
  }

  test("natural corpus: estimates never undercount (CMS guarantee)") {
    val rows = Text.txCmsFrequency(spark, sf001).collect()
    assert(rows.length == Text.CmsProbeLimit)
    assert(rows.forall(_.getAs[Long]("overestimate") >= 0L),
      "a count-min estimate below the true count is impossible by construction")
    assert(rows.forall(r =>
      r.getAs[Long]("est_count") >= r.getAs[Long]("exact_count")))
  }

  test("standing cells are served, not rebuilt per refresh") {
    val base = Text.cmsBase.ensure(spark, sf001)
    val marker = new org.apache.hadoop.fs.Path(s"$base/cells/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = fs.getFileStatus(marker).getModificationTime
    Text.txCmsRefresh(spark, sf001).collect()
    Text.txCmsRefresh(spark, sf001).collect()
    assert(fs.getFileStatus(marker).getModificationTime == t0,
      "two refreshes must not rewrite the standing cell table")
  }

  test("streamed delta cells + standing cells equal the direct corpus sketch") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingOps
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft-cms-stream").toString
    Tables(spark, sf001, "documents")
      .filter(pmod(col("doc_id"), lit(Text.incrementalDeltaMod)) === 0)
      .write.mode("overwrite").parquet(s"$streamDir/delta")
    val q = StreamingOps.cmsDeltaCells(
        StreamingOps.readDocumentsStream(spark, s"$streamDir/delta"))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not drain within timeout")
    val base = Text.cmsBase.ensure(spark, sf001)
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Int]("j"), r.getAs[Long]("cell")) ->
        r.getAs[Long]("cnt")).toMap
    val merged = toMap(spark.read.parquet(s"$base/cells")
      .unionByName(spark.table("cms_stream"))
      .groupBy("j", "cell").agg(sum("cnt").as("cnt")).collect())
    val direct = toMap(Text.cmsCells(
      Text.cmsGrams(Tables(spark, sf001, "documents"))).collect())
    assert(merged == direct,
      "streamed delta counters + standing cells must equal the one-pass sketch")
  }

  test("retraction by subtraction equals the survivor rebuild, cell for cell") {
    // the deletion-CMS identity tx_cms_retract rides on: (full sketch)
    // minus (deleted carve's counters) == (survivor corpus's sketch),
    // EXACTLY — deletes are a subset of inserts, so linearity runs
    // backwards too; zero cells drop (a zero cell IS an absent cell)
    val docs = Tables(spark, sf001, "documents")
    val survives = pmod(col("doc_id"), lit(Text.retractMod)) =!= lit(Text.retractRem)
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = toMap(Text.cmsCells(Text.cmsGrams(docs)).collect())
    val del = toMap(Text.cmsCells(Text.cmsGrams(docs.filter(!survives))).collect())
    val rebuilt = toMap(Text.cmsCells(Text.cmsGrams(docs.filter(survives))).collect())
    val subtracted = full.map { case (k, v) => k -> (v - del.getOrElse(k, 0L)) }
      .filter(_._2 > 0L)
    assert(del.nonEmpty && subtracted == rebuilt,
      "counter subtraction drifted from the survivor rebuild")
  }
}
