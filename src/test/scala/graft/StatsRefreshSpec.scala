package graft

import graft.queries.Text
import org.apache.spark.sql.functions._

/** Incremental-ANALYZE pins: the merged report agrees with a direct
  * full-corpus recompute on the exact fields (the oracle re-proves this
  * bit-for-bit in DuckDB; here it's pinned engine-side too), BOTH KMV
  * estimator branches fire (short-sketch exact and k-th-key estimate,
  * with measured accuracy in the 1/√k regime), and a refresh serves off
  * the STANDING table without rebuilding it.
  */
class StatsRefreshSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("merged exact fields equal a direct full recompute") {
    val report = Text.pipelineStatsRefresh(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val d = Tables(spark, dir, "documents")
    val n = d.count()
    assert(report.values.forall(_.getAs[Long]("n_rows") == n))
    val Row = report("doc_id")
    assert(Row.getAs[String]("min_str") ==
      d.agg(min("doc_id")).head().getLong(0).toString)
    assert(Row.getAs[String]("max_str") ==
      d.agg(max("doc_id")).head().getLong(0).toString)
    assert(report("text").getAs[Long]("sum_len") ==
      d.agg(sum(length(col("text")))).head().getLong(0))
    assert(report("doc_id").isNullAt(report("doc_id").fieldIndex("sum_len")),
      "numeric columns carry no byte sum")
  }

  test("both NDV branches fire; estimator lands in the 1/sqrt(k) regime") {
    val report = Text.pipelineStatsRefresh(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("ndv_est")).toMap
    val d = Tables(spark, dir, "documents")
    // lang: 5 distinct values << k — the short-sketch branch IS exact
    val langTrue = d.select("lang").distinct().count()
    assert(langTrue < Text.KmvK)
    assert(report("lang") == langTrue, "short-sketch branch must be exact")
    // doc_id: every value distinct, >= k — the k-th-key estimator branch
    val idTrue = d.count()
    assert(idTrue >= Text.KmvK, "corpus too small to exercise the estimator")
    val relErr = math.abs(report("doc_id").toDouble - idTrue) / idTrue
    assert(relErr < 0.20, f"doc_id NDV est ${report("doc_id")} vs $idTrue " +
      f"(rel err $relErr%.3f) outside the 1/sqrt(k) regime")
  }

  test("refresh serves off the standing table without rebuilding it") {
    val base = Text.statsMvBase.ensure(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(s"$base/stats/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = fs.getFileStatus(marker).getModificationTime
    Text.pipelineStatsRefresh(spark, dir).collect()
    assert(fs.getFileStatus(marker).getModificationTime == t0,
      "refresh rebuilt the standing stats table")
  }
}
