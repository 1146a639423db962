package graft

import org.apache.spark.sql.functions._
import graft.queries.Text

/** Incremental MV refresh: merging the standing base partials with the
  * delta partials must equal the one-pass full-corpus aggregate
  * BIT-FOR-BIT (counts add; the 64-bit md5 XOR folds compose because
  * XOR is associative/commutative/self-inverse), the refresh must read
  * the corpus exactly once (the delta carve — never the base side), and
  * the standing table must be served, not rebuilt.
  */
class AggRefreshSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("refresh equals the one-pass full recompute bit-for-bit") {
    val got = Text.pipelineAggRefresh(spark, dir).collect()
    val full = Text.aggMvPartials(Tables(spark, dir, "documents"))
      .orderBy("lang", "source").collect()
    assert(got.length == full.length && got.nonEmpty)
    got.zip(full).foreach { case (g, f) =>
      assert(g.getAs[String]("lang") == f.getAs[String]("lang"))
      assert(g.getAs[String]("source") == f.getAs[String]("source"))
      assert(g.getAs[Long]("n_docs") == f.getAs[Long]("n_docs"))
      assert(g.getAs[Long]("n_tokens") == f.getAs[Long]("n_tokens"))
      assert(g.getAs[Long]("text_xor") == f.getAs[Long]("text_xor"),
        s"XOR fold must compose exactly: $g vs $f")
      assert(g.getAs[Long]("n_base_docs") + g.getAs[Long]("n_delta_docs") ==
        g.getAs[Long]("n_docs"))
    }
  }

  test("refresh reads the corpus once — the delta carve, never the base") {
    Text.aggMvBase.ensure(spark, dir) // standing table in place before planning
    val df = Text.pipelineAggRefresh(spark, dir)
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

  test("streamed delta partials merge to the exact batch refresh") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingOps
    // land ONLY the delta carve, as a streaming source
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft-aggmv-stream").toString
    Tables(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(Text.incrementalDeltaMod)) === 0)
      .write.mode("overwrite").parquet(s"$streamDir/delta")
    val q = StreamingOps.aggDeltaPartials(
        StreamingOps.readDocumentsStream(spark, s"$streamDir/delta"))
      .writeStream.format("memory").queryName("aggmv_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not drain within timeout")
    val base = Text.aggMvBase.ensure(spark, dir)
    val merged = Text.aggMvMerge(spark.read.parquet(s"$base/aggs"),
        spark.table("aggmv_stream"))
      .orderBy("lang", "source").collect()
    val batch = Text.pipelineAggRefresh(spark, dir).collect()
    assert(merged.length == batch.length && merged.nonEmpty)
    assert(merged.toSeq == batch.toSeq,
      "streamed partials + merge must equal the batch refresh bit for bit")
  }

  test("batch retract equals the one-pass survivor recompute bit-for-bit") {
    val got = Text.pipelineAggRetract(spark, dir).collect()
    val surv = Text.aggMvPartials(Tables(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(Text.retractMod)) =!= lit(Text.retractRem)))
      .orderBy("lang", "source").collect()
    assert(got.length == surv.length && got.nonEmpty)
    got.zip(surv).foreach { case (g, f) =>
      assert(g.getAs[String]("lang") == f.getAs[String]("lang"))
      assert(g.getAs[String]("source") == f.getAs[String]("source"))
      assert(g.getAs[Long]("n_docs") == f.getAs[Long]("n_docs"))
      assert(g.getAs[Long]("n_tokens") == f.getAs[Long]("n_tokens"))
      assert(g.getAs[Long]("text_xor") == f.getAs[Long]("text_xor"),
        s"XOR self-inverse retraction must compose exactly: $g vs $f")
      assert(g.getAs[Long]("n_standing_docs") - g.getAs[Long]("n_deleted_docs")
        == g.getAs[Long]("n_docs"))
    }
  }

  test("streamed CDC delete partials retract to the exact batch retract") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingOps
    // land ONLY the tombstoned docs, as a change-feed stream
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft-aggmv-retract").toString
    Tables(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(Text.retractMod)) === lit(Text.retractRem))
      .write.mode("overwrite").parquet(s"$streamDir/deleted")
    val q = StreamingOps.aggRetractPartials(
        StreamingOps.readDocumentsStream(spark, s"$streamDir/deleted"))
      .writeStream.format("memory").queryName("aggmv_retract_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not drain within timeout")
    val base = Text.aggMvBase.ensure(spark, dir)
    val standingFull = Text.aggMvMerge(spark.read.parquet(s"$base/aggs"),
        Text.aggMvPartials(Tables(spark, dir, "documents")
          .filter(pmod(col("doc_id"), lit(Text.incrementalDeltaMod)) === 0)))
      .select("lang", "source", "n_docs", "n_tokens", "text_xor")
    val retracted = Text.aggMvRetract(standingFull,
        spark.table("aggmv_retract_stream"))
      .orderBy("lang", "source").collect()
    val batch = Text.pipelineAggRetract(spark, dir).collect()
    assert(retracted.length == batch.length && retracted.nonEmpty)
    assert(retracted.toSeq == batch.toSeq,
      "streamed delete partials + retract must equal the batch retract bit for bit")
  }

  test("the standing table is served, not rebuilt per refresh") {
    val base = Text.aggMvBase.ensure(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(s"$base/aggs/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = fs.getFileStatus(marker).getModificationTime
    Text.pipelineAggRefresh(spark, dir).collect()
    Text.pipelineAggRefresh(spark, dir).collect()
    assert(fs.getFileStatus(marker).getModificationTime == t0,
      "two refreshes must not rewrite the standing aggregate table")
  }
}
