package graft

import org.apache.spark.sql.functions._

import graft.queries.Text

/** Version-pinned release reproducibility (VERDICT r13 item 5): the
  * release manifest built AT a version must be derivable from the log
  * alone — identical whether the state comes from the merge-on-read
  * point read or sequential replay, identical run-over-run, and at
  * version 0 identical to the live release (the base snapshot IS the
  * live corpus).
  */
class ReleaseAtVersionSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("point-read state and sequential replay build the SAME manifest at the head") {
    val head = rows(Text.pipelineReleaseAtVersion(spark, sf001))
    // replay from first principles: base snapshot folded through every
    // batch with the shared applyBatch step — never touches the log
    val snap = Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("text"))
    val s0 = snap.select(col("doc_id").as("k"), col("text"))
    val replayed = (1 to Text.ttVersions).foldLeft(s0) { (st, v) =>
      Text.applyBatch(st, Text.ttBatch(snap, v)).localCheckpoint(false)
    }
    val viaReplay = rows(Text.releaseAtVersionOver(spark, sf001, replayed,
      Text.ttVersions))
    assert(head == viaReplay,
      "manifest from the point read differs from sequential replay")
    assert(head.nonEmpty && head.forall(_.last == Text.ttVersions))
  }

  test("standing survivor snapshots ≡ the per-call prepare recompute, per version (r17-opt)") {
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.select("doc_id", "source", "n2", "h2")
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    val liveStanding = sorted(spark.read.parquet(
      Text.ensureReleaseSurvivors(spark, sf001, "live")))
    val liveRecomputed = sorted(Text.prepareCorpusSurvivors(spark, sf001))
    assert(liveStanding == liveRecomputed,
      "standing live survivors drifted from the per-call prepare")
    // every version, interior ones included: a replay bug touching only
    // a middle batch must not hide between the endpoints
    for (v <- 0 to Text.ttVersions) {
      val standing = sorted(spark.read.parquet(
        Text.ensureReleaseSurvivors(spark, sf001, s"atv$v")))
      val recomputed = sorted(Text.prepareCorpusSurvivorsOver(spark,
        Text.atVersionDocs(spark, sf001, Text.readAtVersion(spark, sf001, v)),
        s".atv$v"))
      assert(standing == recomputed,
        s"standing atv$v survivors drifted from the per-call prepare")
    }
  }

  test("each survivor snapshot stands alone: a lost marker rebuilds only that snapshot") {
    val live = Text.ensureReleaseSurvivors(spark, sf001, "live")
    val atv1 = Text.ensureReleaseSurvivors(spark, sf001, "atv1")
    val liveMark = new org.apache.hadoop.fs.Path(s"$live/_SUCCESS")
    val atv1Mark = new org.apache.hadoop.fs.Path(s"$atv1/_SUCCESS")
    val fs = liveMark.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = fs.getFileStatus(liveMark).getModificationTime
    fs.delete(atv1Mark, false)
    Text.pipelineRelease(spark, sf001).collect()
    assert(!fs.exists(atv1Mark), "the live release touched a version snapshot")
    Text.ensureReleaseSurvivors(spark, sf001, "atv1")
    assert(fs.exists(atv1Mark), "the lost snapshot was not rebuilt")
    assert(fs.getFileStatus(liveMark).getModificationTime == t0,
      "rebuilding one version snapshot rewrote the live snapshot")
  }

  test("the manifest reproduces bit-for-bit run-over-run from the log alone") {
    val a = rows(Text.pipelineReleaseAtVersion(spark, sf001))
    val b = rows(Text.pipelineReleaseAtVersion(spark, sf001))
    assert(a == b, "release-at-version is not reproducible run-over-run")
    // the reproducibility pin is the content XOR column specifically —
    // equal XORs per (source, shard) mean the same TEXTS, not just the
    // same counts
    assert(a.exists(r => r(4).asInstanceOf[Long] != 0L),
      "degenerate manifest: every content XOR zero")
  }

  test("release at version 0 equals the live release (base snapshot = live corpus)") {
    val atV0 = Text.pipelineReleaseAtVersion(spark, sf001, v = 0)
      .drop("version")
    val live = Text.pipelineRelease(spark, sf001)
    assert(rows(atV0) == rows(live),
      "the v=0 replayed release drifted from the live release recipe")
  }

  test("the head manifest differs from the live one (the log's edits are visible)") {
    // sanity that the composition is not vacuous: three batches of
    // revisions/deletes/inserts must move the manifest
    val head = rows(Text.pipelineReleaseAtVersion(spark, sf001)
      .drop("version"))
    val live = rows(Text.pipelineRelease(spark, sf001))
    assert(head != live,
      "three edit batches left the release manifest unchanged")
  }
}
