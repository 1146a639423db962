package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: images/audio/video as opaque `binary`
  * columns with typed metadata (SURVEY.md §7.5 extension surface).
  *
  * The Spark-side plumbing — schema, binary slicing, per-frame feature
  * rows, partition-friendly layout — is real and tested. The *codec* step
  * is a clearly-marked deterministic fake ([[decodeStub]]): this container
  * has no image/audio libraries, so "decode" derives metadata from the
  * bytes themselves (hash-based), keeping every downstream operator
  * exercisable and oracle-comparable. Swapping in a real codec means
  * replacing only `decodeStub`'s column expressions (or, for native
  * libraries, a `mapPartitions` over the same schema).
  *
  * Everything stays in native expressions on BinaryType (substring / crc32
  * / md5 / length are codegen'd for binary), so at 100 TB the media scan
  * is one narrow pass with no serialization fence.
  */
object Multimodal {

  /** Canonical media-table schema: id + opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("media", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType), StructField("width", IntegerType),
      StructField("height", IntegerType), StructField("n_frames", IntegerType))))))

  /** Build a media table from the documents table: payload = UTF-8 bytes of
    * the text (a deterministic stand-in for real image/audio bytes),
    * metadata derived from payload size.
    */
  def fromDocuments(docs: DataFrame, nFrames: Int = 4): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(
        lit("fake/raw").as("format"),
        (pmod(xxhash64(col("text")), lit(1280)) + 64).cast("int").as("width"),
        (pmod(xxhash64(col("text"), lit(1)), lit(720)) + 64).cast("int").as("height"),
        lit(nFrames).as("n_frames")).as("meta"))

  /** STUB DECODE — deterministic fake (no codec libraries in this
    * environment). A real implementation would decode pixels/samples here;
    * the fake derives stable per-media features from the raw bytes so the
    * pipeline shape (one feature row per media) is fully exercised.
    */
  def decodeStub(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("meta"),
      length(col("media")).as("byte_len"),
      crc32(col("media")).as("checksum"),
      hex(expr("substring(media, 1, 4)")).as("header"))

  /** Frame sampling: slice the payload into `meta.n_frames` equal byte
    * ranges and emit one row per frame with per-frame digests — the shape
    * of video frame extraction (posexplode keeps it distributed; no
    * driver-side loop).
    */
  def frameSample(media: DataFrame): DataFrame =
    media
      .withColumn("frame_size",
        greatest(ceil(length(col("media")) / col("meta.n_frames")), lit(1)).cast("int"))
      .select(col("media_id"), col("frame_size"),
        posexplode(expr(
          "transform(sequence(0, meta.n_frames - 1), i -> substring(media, i * frame_size + 1, frame_size))")))
      .withColumnRenamed("pos", "frame_idx").withColumnRenamed("col", "frame")
      .select(col("media_id"), col("frame_idx"),
        length(col("frame")).as("frame_bytes"),
        md5(col("frame")).as("frame_md5"))

  /** Cross-media frame-level exact dedup — the multimodal face of the
    * [[graft.queries.Text.ddParagraph]] keep-first rule: a frame
    * occurrence survives iff its (media_id, frame_idx) is the
    * corpus-wide minimum for that frame's digest (video pipelines dedup
    * repeated frames/intros/outros across assets exactly this way —
    * frame hashes stand in for perceptual hashes, which would slot into
    * the same digest column). Per media: frame count, duplicate frames,
    * and the bytes a dedup pass would reclaim. Scale shape: frames are
    * digested in the narrow [[frameSample]] pass (payload bytes never
    * reach a shuffle), keep-first is the partial-aggregated min-struct +
    * digest-keyed join-back — a corpus-wide hot frame (a standard intro)
    * collapses map-side.
    */
  def frameDedup(media: DataFrame): DataFrame = {
    val frames = frameSample(media)
    val firsts = frames.groupBy("frame_md5")
      .agg(min(struct(col("media_id"), col("frame_idx"))).as("first"))
    frames.join(firsts, "frame_md5")
      .withColumn("kept",
        col("media_id") === col("first.media_id") &&
          col("frame_idx") === col("first.frame_idx"))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dup_frames"),
        sum(when(col("kept"), 0L).otherwise(col("frame_bytes").cast("long")))
          .as("dup_bytes"))
      .orderBy("media_id")
  }

  /** [[sceneCuts]] grid geometry, shared with the generated oracle: the
    * payload is sliced into `sceneSrcSlices` source segments, each
    * surfacing as `sceneRepeat` consecutive frames — a deterministic
    * stand-in for a video whose content holds still within a shot, so
    * the cut detector has real structure to find (the decodeStub
    * discipline: the codec-derived feature is faked, the detection
    * machinery is real).
    */
  val sceneSrcSlices = 4
  val sceneRepeat = 4

  /** SCENE-CUT SEGMENTATION — the shot-boundary pass every video
    * curation pipeline runs before sampling keyframes (PySceneDetect's
    * content detector, FFmpeg `select=gt(scene,t)`): consecutive frames
    * are compared by a per-frame feature; a frame whose feature differs
    * from its predecessor past the threshold opens a new scene, and
    * scenes materialize with their frame spans via the running-sum-of-
    * cuts fold (the ev_session_window gaps-and-islands shape applied
    * within media). With the stub codec the per-frame feature is the
    * frame-byte digest and the "distance past threshold" degenerates to
    * digest inequality — a REAL perceptual feature slots into the same
    * `fd` column and a `dist(prev, cur) > t` predicate replaces the
    * `=!=`, leaving the segmentation fold untouched. Output per scene:
    * frame span, length and the scene's (constant) frame digest — the
    * keyframe a sampler would keep.
    *
    * Scale shape: frames are a narrow per-media projection (payload
    * bytes never shuffle — digests leave the scan); the lag + running
    * sum + rollup all share ONE media-keyed exchange, and scenes are
    * bounded by the frame grid, never by payload size.
    */
  def sceneCuts(media: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nFrames = sceneSrcSlices * sceneRepeat
    val frames = media
      .withColumn("frame_size",
        greatest(ceil(length(col("media")) / sceneSrcSlices), lit(1)).cast("int"))
      .select(col("media_id"),
        posexplode(expr(s"transform(sequence(0, ${nFrames - 1}), i -> " +
          s"md5(substring(media, CAST(i DIV $sceneRepeat AS INT) * frame_size + 1, frame_size)))")))
      .select(col("media_id"), col("pos").as("frame_idx"), col("col").as("fd"))
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    frames
      .withColumn("cut",
        when(lag("fd", 1).over(w).isNull ||
          lag("fd", 1).over(w) =!= col("fd"), 1L).otherwise(0L))
      .withColumn("scene_idx", sum("cut").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .groupBy("media_id", "scene_idx")
      .agg(min("frame_idx").as("start_frame"),
        max("frame_idx").as("end_frame"),
        count(lit(1)).as("scene_frames"),
        min("fd").as("scene_key"))
      .orderBy("media_id", "scene_idx")
  }

  /** [[temporalAlign]] geometry, shared with the generated oracle (the
    * kmeansCtes discipline): 16 frames per media and a minimum aligned
    * run of 3 consecutive frames — one shared scene is not a duplicate
    * claim, three consecutive ones at a consistent offset are.
    */
  val alignFrames = 16
  val alignMinRun = 3L

  /** TEMPORAL-ALIGNMENT near-dup for video — the duplicate class both
    * digest paths miss: a re-cut of the same asset (trimmed intro,
    * shifted splice) shares most of its frame SEQUENCE at a constant
    * index offset, while whole-payload digests ([[simhashDedup]]) and
    * per-frame keep-first ([[frameDedup]]) see only unordered content.
    * Shape (the video-dedup standard, frame hashes standing in for
    * perceptual hashes exactly as in [[frameDedup]]):
    *
    *   1. candidates BLOCK on order-sensitive 3-frame shingles
    *      (md5 of three consecutive frame digests) — a pair meets only
    *      if three consecutive frames match somewhere, so candidate
    *      count scales with true shared-scene pairs, never O(n²);
    *   2. per candidate pair, every frame-digest match yields an
    *      (offset = idx_a − idx_b) vote; per offset, the LONGEST
    *      CONTIGUOUS aligned run is the gaps-and-islands fold
    *      (ib − row_number is constant exactly on consecutive matches);
    *   3. a pair reports at its best offset (longest run, then most
    *      matches, then smallest offset — a deterministic max-struct,
    *      never a window over pairs) and survives at
    *      run ≥ [[alignMinRun]].
    *
    * Empty trailing frames (payload shorter than the frame grid) are
    * dropped BEFORE shingling — their shared empty digest would align
    * every pair of short assets. Scale: frames/shingles are narrow
    * per-media projections; the only corpus-wide shuffles key on 16-byte
    * digests (the dd_* digest-only rule) and the per-pair state is a
    * bounded (offset, island) rollup — no shuffle carries media bytes.
    */
  def temporalAlign(media: DataFrame, minRun: Long = alignMinRun): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    val frames = graft.Caches.scoped("mm_align.frames",
      frameSample(media).filter(col("frame_bytes") > 0)
        .select(col("media_id"), col("frame_idx"), col("frame_md5")))
    val sh = frames
      .withColumn("f1", lead("frame_md5", 1).over(w))
      .withColumn("f2", lead("frame_md5", 2).over(w))
      .filter(col("f2").isNotNull)
      .select(col("media_id"),
        md5(concat_ws(":", col("frame_md5"), col("f1"), col("f2"))).as("g"))
      .distinct()
    val cands = sh.as("x").join(sh.as("y"),
        col("x.g") === col("y.g") && col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"))
      .distinct()
    alignRollup(cands, frames, minRun)
  }

  /** The per-pair offset/run rollup of [[temporalAlign]] — steps 2–3 of
    * its scaladoc, factored so the streaming twin's compaction
    * ([[graft.streaming.StreamingOps.alignCompaction]]) feeds
    * stream-discovered candidate pairs through the IDENTICAL fold:
    * streamed ≡ batch holds by construction on everything after
    * candidate discovery.
    */
  private[graft] def alignRollup(cands: DataFrame, frames: DataFrame,
      minRun: Long): DataFrame = {
    val fa = frames.select(col("media_id").as("media_a"),
      col("frame_idx").as("ia"), col("frame_md5").as("h"))
    val fb = frames.select(col("media_id").as("media_b"),
      col("frame_idx").as("ib"), col("frame_md5").as("h"))
    val m = cands.join(fa, "media_a").join(fb, Seq("media_b", "h"))
      .select(col("media_a"), col("media_b"),
        (col("ia") - col("ib")).cast("long").as("off"), col("ib"))
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("media_a", "media_b", "off").orderBy("ib")
    val perOff = m
      .withColumn("isl", col("ib") - row_number().over(wRun))
      .groupBy("media_a", "media_b", "off", "isl")
      .agg(count(lit(1)).as("run"))
      .groupBy("media_a", "media_b", "off")
      .agg(max("run").as("longest_run"), sum("run").as("n_aligned"))
    perOff
      .groupBy("media_a", "media_b")
      .agg(max(struct(col("longest_run"), col("n_aligned"),
        (-col("off")).as("noff"))).as("best"))
      .filter(col("best.longest_run") >= minRun)
      .select(col("media_a"), col("media_b"),
        (-col("best.noff")).as("offset"),
        col("best.n_aligned").as("n_aligned"),
        col("best.longest_run").as("longest_run"),
        (col("best.longest_run").cast("double") / lit(alignFrames.toDouble))
          .as("aligned_frac"))
      .orderBy("media_a", "media_b")
  }

  /** [[temporalAlign]]'s order-sensitive 3-frame shingles computed
    * ARRAY-NATIVE per media row — no window, so the projection runs
    * unchanged under the STREAMING planner (a lead() over media_id is a
    * stateful window the append-mode landing path cannot run). Empty
    * frames are filtered BEFORE shingling, so consecutive-in-filtered-
    * order here equals the batch side's lead() over the filtered frame
    * rows — MultimodalSpec pins set equality on the natural corpus. The
    * `size >= 3` CASE guards the descending-sequence ANSI trap.
    */
  def alignShingles(media: DataFrame): DataFrame =
    media
      .withColumn("frame_size",
        greatest(ceil(length(col("media")) / col("meta.n_frames")), lit(1))
          .cast("int"))
      .withColumn("fr", expr(
        """transform(filter(transform(sequence(0, meta.n_frames - 1),
          |  i -> substring(media, i * frame_size + 1, frame_size)),
          |  b -> length(b) > 0), b -> md5(b))""".stripMargin))
      .select(col("media_id"), explode(expr(
        """CASE WHEN size(fr) >= 3
          |  THEN transform(sequence(0, size(fr) - 3),
          |    j -> md5(concat_ws(':', fr[j], fr[j + 1], fr[j + 2])))
          |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("g"))

  /** STANDING temporal-align index over the base media carve
    * (`!Text.isDelta(media_id)` — the incremental carve every standing
    * table shares): the order-sensitive 3-frame shingle table landing media
    * probe for candidates, and the non-empty frame table the compaction
    * rollup aligns against. shingles/ is written last and carries the
    * marker.
    */
  def ensureAlignIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.Standing.dir(spark, dir, "align_index", Seq("shingles")) { base =>
      val media = fromDocuments(
        graft.Tables(spark, dir, "documents")
          .filter(!graft.queries.Text.isDelta(col("doc_id"))), alignFrames)
      frameSample(media).filter(col("frame_bytes") > 0)
        .select(col("media_id"), col("frame_idx"), col("frame_md5"))
        .write.mode("overwrite").parquet(s"$base/frames")
      alignShingles(media).distinct()
        .write.mode("overwrite").parquet(s"$base/shingles")
    }

  /** One side's (frames, shingles) audit stats for [[mmAlignRefresh]]:
    * media/frame/shingle counts plus 64-bit md5 XOR folds binding every
    * row's FULL identity (media:idx:digest / media:shingle — an
    * off-by-one frame index or a swapped media id flips the fold). The
    * two single-row aggregates meet through a union + groupBy re-fold,
    * never a constant-key join (the BNLJ ban).
    */
  private def alignSideStats(frames: DataFrame, shingles: DataFrame,
      grp: String): DataFrame = {
    val xor = graft.queries.Text.md5SignedHash64Expr("hd")
    val f = frames
      .select(md5(concat_ws(":", col("media_id"), col("frame_idx"),
        col("frame_md5")).cast("binary")).as("hd"), col("media_id"))
      .agg(countDistinct("media_id").as("n_media"),
        count(lit(1)).as("n_frames"),
        expr(s"bit_xor($xor)").as("frame_xor"))
      .select(lit(grp).as("grp"), col("n_media"), col("n_frames"),
        col("frame_xor"), lit(null).cast("long").as("n_shingles"),
        lit(null).cast("long").as("shingle_xor"))
    val s = shingles
      .select(md5(concat_ws(":", col("media_id"), col("g"))
        .cast("binary")).as("hd"))
      .agg(count(lit(1)).as("n_shingles"),
        expr(s"bit_xor($xor)").as("shingle_xor"))
      .select(lit(grp).as("grp"), lit(null).cast("long").as("n_media"),
        lit(null).cast("long").as("n_frames"),
        lit(null).cast("long").as("frame_xor"),
        col("n_shingles"), col("shingle_xor"))
    f.unionByName(s).groupBy("grp")
      .agg(max("n_media").as("n_media"), max("n_frames").as("n_frames"),
        max("frame_xor").as("frame_xor"),
        max("n_shingles").as("n_shingles"),
        max("shingle_xor").as("shingle_xor"))
  }

  /** ALIGN-INDEX REFRESH audit (the lifecycle half [[ensureAlignIndex]]
    * lacked — every other standing artifact has one): the landing carve
    * (`Text.isDelta(media_id)`, the incremental-delta convention) is admitted
    * by computing its frames/shingles with the IDENTICAL projections
    * the standing tables were built from, and the refreshed index is
    * DERIVED by composition — counts add, the 64-bit md5 XOR folds XOR
    * (media ids are disjoint across the carves, so every fold input is
    * distinct and XOR composition is lossless). The oracle computes the
    * base, delta AND merged rows from first principles over the full
    * corpus and never sees the standing tables — agreement proves both
    * that the standing tables are exactly the base carve (no drift
    * since build) and that composition ≡ rebuild, bit for bit.
    *
    * Scale shape: the base row aggregates the STANDING tables (never
    * re-derives them from media); the delta pass reads only the landing
    * carve; every aggregate is a single bounded row.
    */
  def mmAlignRefresh(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureAlignIndex(spark, dir)
    val bStats = alignSideStats(
      spark.read.parquet(s"$base/frames"),
      spark.read.parquet(s"$base/shingles"), "base")
    val deltaMedia = fromDocuments(
      graft.Tables(spark, dir, "documents")
        .filter(graft.queries.Text.isDelta(col("doc_id"))), alignFrames)
    val dStats = alignSideStats(
      frameSample(deltaMedia).filter(col("frame_bytes") > 0)
        .select(col("media_id"), col("frame_idx"), col("frame_md5")),
      alignShingles(deltaMedia).distinct(), "delta")
    val both = bStats.unionByName(dStats)
    val merged = both
      .agg(sum("n_media").as("n_media"), sum("n_frames").as("n_frames"),
        expr("bit_xor(frame_xor)").as("frame_xor"),
        sum("n_shingles").as("n_shingles"),
        expr("bit_xor(shingle_xor)").as("shingle_xor"))
      .select(lit("merged").as("grp"), col("n_media"), col("n_frames"),
        col("frame_xor"), col("n_shingles"), col("shingle_xor"))
    both.unionByName(merged).orderBy("grp")
  }

  /** Banding/threshold geometry for [[simhashDedup]] — shared with the
    * generated oracle (the kmeansCtes discipline: the Spark side derives
    * its shift from THESE constants and the oracle interpolates them, so
    * there is no parameter whose non-default value could silently desync
    * engine and oracle — r10 review finding).
    */
  val simhashPrefixBits = 16
  val simhashHammingClose = 16

  /** NEAR-dup media detection — the perceptual-hash slot
    * [[frameDedup]]'s scaladoc names (exact frame hashing is correctly
    * blind to near-dup media; LAION-style image pipelines close that gap
    * with pHash + hamming banding): a 64-bit signature per media from a
    * simhash vote over its 8-byte payload shingles (the pHash STUB — a
    * real pipeline swaps the shingle front for codec-domain features,
    * exactly like [[decodeStub]]; the signature/banding/cluster
    * machinery downstream is the production shape and is shared with
    * [[graft.queries.Text.ddSimhash]]), then the established
    * cluster-arithmetic pair accounting: media collapse to distinct
    * (block, simhash) signatures with counts, intra-cluster pairs are
    * c·(c−1)/2, cross-cluster pairs come from the blocked signature
    * self-join — pair counts are never enumerated per media pair, so
    * the join scales with signature diversity, not corpus size.
    *
    * Output (one audit row): media count, same-block pair count, pairs
    * within Hamming 16, minimum observed distance. The two bounded
    * 1-row aggregates meet via a scalar subquery (the simSqInt8 rule —
    * a constant-key join folds to the banned BNLJ).
    */
  def simhashDedup(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val uniq = graft.Caches.scoped("mm_simhash.clusters",
      simhashSignatures(media)
        .select("simhash", "block")
        .groupBy("block", "simhash")
        .agg(count(lit(1)).as("c")))
    val cross = uniq.as("x").join(uniq.as("y"),
        col("x.block") === col("y.block") &&
          col("x.simhash") < col("y.simhash"))
      .withColumn("hamming", expr("bit_count(x.simhash ^ y.simhash)"))
      .withColumn("w", col("x.c") * col("y.c"))
      .agg(sum("w").as("cross_pairs"),
        sum(when(col("hamming") <= simhashHammingClose, col("w"))
          .otherwise(0L)).as("cross_close"),
        min("hamming").as("min_cross"))
    cross.createOrReplaceTempView("graft_mm_simhash_cross")
    uniq
      .agg(sum("c").as("n_media"), sum(expr("c * (c - 1) div 2")).as("p0"))
      .withColumn("cx", expr(
        "(SELECT struct(cross_pairs, cross_close, min_cross) FROM graft_mm_simhash_cross)"))
      .select(col("n_media"),
        (col("p0") + coalesce(col("cx.cross_pairs"), lit(0L))).as("n_block_pairs"),
        (col("p0") + coalesce(col("cx.cross_close"), lit(0L))).as("n_close_pairs"),
        when(col("p0") > 0, lit(0)).otherwise(col("cx.min_cross")).as("min_hamming"))
  }

  /** Per-media 64-bit simhash signature + banding block — the signature
    * front end of [[simhashDedup]], factored so the cross-modal spec can
    * measure the hamming distance between two specific media (proving the
    * simhash path misses a pair the vector path catches) with the exact
    * production arithmetic.
    */
  def simhashSignatures(media: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(media.sparkSession)
    media.filter(length(col("media")) >= 8)
      .withColumn("hx", lower(hex(col("media"))))
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(0, length(hx) div 16 - 1), i -> substring(hx, i * 16 + 1, 16)))"))
      .withColumn("hd", expr("transform(sh, t -> md5(CAST(t AS BINARY)))"))
      .withColumn("hs", expr(
        s"transform(hd, h -> ${graft.queries.Text.md5SignedHash64Expr("h")})"))
      .withColumn("simhash", expr("simhash64(hs)"))
      .select(col("media_id"), col("simhash"),
        expr(s"shiftright(simhash, ${64 - simhashPrefixBits})").as("block"))
  }

  /** Media subset for [[crossModalDedup]] — nFrames·count stays under the
    * smallest embeddings corpus (500) so the frame→vector carve is
    * injective and invertible at every SF. Shared with the generated
    * oracle (the kmeansCtes single-definition rule).
    */
  val crossModalMediaCount = 100

  /** CROSS-MODAL near-dup media detection (VERDICT r10 "What's missing"
    * item 2 — media and embeddings finally meet): the CLIP-style path a
    * real multimodal pipeline uses for the near-dup media that BOTH
    * digest paths are blind to ([[frameDedup]] needs bit-identical frame
    * bytes; [[simhashDedup]] needs mostly-shared payload shingles — a
    * re-encode/rescale shares neither, but its frames EMBED next to the
    * original's).
    *
    * Pipeline shape (each stage the production operator):
    * 1. [[frameSample]] the media subset (doc_id < [[crossModalMediaCount]]);
    * 2. ENCODE each frame to a vector — stubbed like [[decodeStub]]: the
    *    frame keys to a standing embedding via the deterministic carve
    *    `vec_id = media_id·n_frames + frame_idx` (injective: the carve
    *    range fits inside every corpus). A real pipeline replaces this
    *    one join with a CLIP `mapInPandas` producing the same
    *    (vec_id, embedding) shape;
    * 3. probe the STANDING IVF index with the frame vectors —
    *    [[graft.queries.Similarity.simIvfAnnIndexed]] verbatim (same
    *    nprobe/k defaults, partition-pruned cell reads);
    * 4. map each semantic hit back to its owning media by inverting the
    *    carve; canonicalize cross-media pairs;
    * 5. per media pair: frame-level link count, best cosine, links over
    *    the semantic-dup threshold ([[graft.queries.Similarity.knnGraphDupTau]],
    *    the semdedup constant), and — the blindness audit — the number
    *    of exact frame digests the pair shares (0 for every
    *    vector-found pair on this corpus: exactly the gap MultimodalSpec
    *    pins).
    *
    * Scale shape: the encoder join is id-keyed (a real encoder is a
    * narrow map); the probe is the standing index's pruned read (no new
    * pairwise work); pair aggregation touches only top-k hit rows
    * (|queries|·k), never frames². The digest audit joins frames on
    * digest — the [[frameDedup]] shuffle, digests only.
    */
  def crossModalDedup(spark: SparkSession, dir: String): DataFrame = {
    val nF = 4
    val carveMax = crossModalMediaCount * nF
    val tau = graft.queries.Similarity.knnGraphDupTau
    val docs = graft.Tables(spark, dir, "documents")
      .filter(col("doc_id") < crossModalMediaCount)
    val frames = frameSample(fromDocuments(docs, nF))
    val fq = frames
      .select((col("media_id") * nF + col("frame_idx")).as("vec_id"))
      .join(graft.Tables(spark, dir, "embeddings")
        .select("vec_id", "embedding"), "vec_id")
    val nbrs = graft.queries.Similarity.simIvfAnnIndexed(
      spark, dir, querySet = Some(fq))
    val links = nbrs.filter(col("vec_id") < carveMax)
      .withColumn("ma", expr(s"qid div $nF"))
      .withColumn("mb", expr(s"vec_id div $nF"))
      .filter(col("ma") =!= col("mb"))
      .select(least(col("ma"), col("mb")).as("media_a"),
        greatest(col("ma"), col("mb")).as("media_b"), col("cosine"))
    val pairs = links.groupBy("media_a", "media_b")
      .agg(count(lit(1)).as("n_frame_links"),
        max("cosine").as("best_cosine"),
        sum(when(col("cosine") >= tau, 1L).otherwise(0L)).as("n_close_links"))
    val fd = frames.select(col("media_id"), col("frame_md5"))
    val shared = fd.as("x").join(fd.as("y"),
        col("x.frame_md5") === col("y.frame_md5") &&
          col("x.media_id") < col("y.media_id"))
      .groupBy(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"))
      .agg(count(lit(1)).as("n_shared_digests"))
    pairs.join(shared, Seq("media_a", "media_b"), "left")
      .select(col("media_a"), col("media_b"), col("n_frame_links"),
        col("best_cosine"), col("n_close_links"),
        coalesce(col("n_shared_digests"), lit(0L)).as("n_shared_digests"))
      .orderBy("media_a", "media_b")
  }

  /** Default resize geometry for the `mm_resize` query — ONE definition
    * for the Spark call and the generated oracle SQL (the shared-constant
    * discipline: mirrored literals desync silently).
    */
  val resizeW = 64
  val resizeH = 48

  /** Resize stub: truncate the payload to `w*h` bytes (a real resize would
    * decode → scale → re-encode; the byte-level truncation keeps the
    * schema/partition shape identical).
    */
  def resizeStub(media: DataFrame, w: Int, h: Int): DataFrame =
    media.withColumn("media", expr(s"substring(media, 1, ${w * h})"))
      .withColumn("meta", struct(
        col("meta.format"), lit(w).cast("int").as("width"),
        lit(h).cast("int").as("height"), col("meta.n_frames")))
}
