package graft

import org.apache.spark.sql.functions._

import graft.queries.Similarity

/** SQ-int8 lifecycle symmetry (r12 verdict gap #3): the post-delete
  * serve and the integer retrain decision. The frozen-scale upsert and
  * delete audits run in OpqLifecycleSpec's loop over every flat-code
  * family.
  */
class SqLifecycleSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"

  test("sq delete serve: no tombstoned id ever surfaces from the live overlay") {
    val served = Similarity.simSqInt8Deleted(spark, sf001).collect()
    assert(served.nonEmpty)
    served.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(id % Similarity.pqDelMod != Similarity.pqDelRem,
        s"deleted vector $id surfaced as a candidate")
    }
    // the overlay serve agrees with filtering the full serve's corpus:
    // ranks re-pack but the surviving order is preserved per query
    val full = Similarity.simSqInt8Indexed(spark, sf001, k = 40).collect()
      .filter(r => r.getAs[Long]("vec_id") % Similarity.pqDelMod
        != Similarity.pqDelRem)
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rnk"))
        .map(_.getAs[Long]("vec_id")).take(10).toSeq }
    served.groupBy(_.getAs[Long]("qid")).foreach { case (q, rs) =>
      val got = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("vec_id")).toSeq
      assert(full(q).startsWith(got.take(full(q).length)) || full(q) == got,
        s"overlay serve ranking drifted for query $q")
    }
  }

  test("sq drift: plain reversal is scale-invisible; the amplitude delta forces retrain") {
    // the scaladoc's measured claim: max|x| over base ∪ reversed-base
    // equals the base max, so a reversal-only delta re-derives the SAME
    // scale bit-for-bit (the vacuous-audit trap the 5/4 amplitude avoids)
    val baseMax = Tables(spark, sf001, "embeddings")
      .agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")))
      .head().getDouble(0)
    val revMax = Tables(spark, sf001, "embeddings")
      .filter(col("vec_id") % Similarity.upsertDeltaMod === 0)
      .agg(max(expr(
        "array_max(transform(reverse(embedding), x -> abs(CAST(x AS DOUBLE))))")))
      .head().getDouble(0)
    assert(revMax <= baseMax, "reversal cannot introduce a new max")
    val frozen = spark.read.parquet(
      s"${Similarity.ensureSqIndex(spark, sf001)}/scale").head().getDouble(0)
    // the exact law: new max = max(base max, 1.25 · carve max) — the
    // carve need not contain the global-max vector, so the shrink is
    // bounded by, not equal to, 1.25 (first spec draft asserted equality
    // and the corpus corrected it)
    val carveMax = Tables(spark, sf001, "embeddings")
      .filter(col("vec_id") % Similarity.upsertDeltaMod === 0)
      .agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")))
      .head().getDouble(0)
    val expected = 127.0 / math.max(baseMax, carveMax * 1.25)
    val rows = Similarity.simSqDrift(spark, sf001).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("new_scale") == expected)
      assert(r.getAs[Double]("new_scale") < frozen,
        "amplitude delta must shrink the scale")
      assert(r.getAs[Boolean]("retrain"),
        s"dim ${r.getAs[Int]("dim")} under-detected amplitude drift")
    }
  }
}
