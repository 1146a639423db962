package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.queries.{Similarity, Text}

/** Round-2 scale/codegen reworks (VERDICT.md "Next round" #1/#2/#4/#5):
  * bit-equality of the new codegen'd expressions against their interpreted
  * formulations, and subquadratic candidate-pair growth across scale
  * factors for every blocked dedup operator.
  */
class TextOpsSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"
  private val sf01 = "/root/testdata/sf0.1"

  test("minhash_bands equals the interpreted md5 fold bit-for-bit") {
    TextFunctions.ensureRegistered(spark)
    val both = Tables(spark, sf001, "documents")
      .filter(col("doc_id") < 100)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("fast", expr("minhash_bands(toks, 3, 16, 4)"))
      .withColumn("sh", expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
      .withColumn("hh", expr(
        """transform(sh, sg -> concat(
             md5(cast(sg AS BINARY)),
             md5(cast(concat(sg, '#') AS BINARY)),
             md5(cast(concat(sg, '##') AS BINARY)),
             md5(cast(concat(sg, '###') AS BINARY))))"""))
      .withColumn("slots", expr(
        "transform(sequence(0, 15), j -> array_min(transform(hh, x -> substring(x, 8*j + 1, 8))))"))
      .withColumn("fold", expr(
        "transform(sequence(0, 3), b -> md5(cast(concat(slots[4*b], slots[4*b+1], slots[4*b+2], slots[4*b+3]) AS BINARY)))"))
      .select("fast", "fold").collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("minhash_xx_bands equals the interpreted xxhash64 chain bit-for-bit") {
    TextFunctions.ensureRegistered(spark)
    val both = Tables(spark, sf001, "documents")
      .filter(col("doc_id") < 200)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("fast", expr("minhash_xx_bands(toks, 3, 16, 4)"))
      .withColumn("th", expr("transform(toks, t -> xxhash64(t))"))
      .withColumn("shingles", expr(
        "transform(sequence(0, size(th) - 3), i -> xxhash64(th[i], th[i+1], th[i+2]))"))
      .withColumn("sig", expr(
        "transform(sequence(0, 15), j -> array_min(transform(shingles, s -> xxhash64(s, j))))"))
      .withColumn("fold", expr(
        "transform(sequence(0, 3), b -> xxhash64(sig[4*b], sig[4*b+1], sig[4*b+2], sig[4*b+3]))"))
      .select("fast", "fold").collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("minhash_bands null handling: null input, short input, null element") {
    TextFunctions.ensureRegistered(spark)
    val out = spark.sql(
      """SELECT minhash_bands(CAST(NULL AS ARRAY<STRING>), 3, 16, 4) AS a,
        |       minhash_bands(array('x', 'y'), 3, 16, 4) AS b,
        |       minhash_bands(array('x', CAST(NULL AS STRING), 'z'), 3, 16, 4) AS c
        |""".stripMargin).collect().head
    assert(out.isNullAt(0) && out.isNullAt(1) && out.isNullAt(2))
  }

  test("lsh_bucket equals the interpreted hyperplane fold bit-for-bit") {
    TextFunctions.ensureRegistered(spark)
    for (nbits <- Seq(8, 16)) {
      val planeDot =
        s"""aggregate(sequence(0, 63), 0D, (acc, d) ->
              acc + CAST(embedding[d] AS DOUBLE) *
                    (CAST((j * 73 + d * 37) % 19 - 9 AS DOUBLE) / 9.0D))"""
      val both = Tables(spark, sf001, "embeddings")
        .select(
          expr(s"lsh_bucket(embedding, $nbits)").as("fast"),
          expr(s"""aggregate(sequence(0, ${nbits - 1}), 0L, (b, j) ->
                     b + CASE WHEN ($planeDot) > 0D THEN shiftleft(1L, j) ELSE 0L END)""")
            .as("fold")).collect()
      assert(both.length == 500)
      assert(both.forall(r => r.getLong(0) == r.getLong(1)), s"nbits=$nbits")
    }
  }

  test("lsh_bucket null handling") {
    TextFunctions.ensureRegistered(spark)
    val out = spark.sql(
      """SELECT lsh_bucket(CAST(NULL AS ARRAY<FLOAT>), 8) AS a,
        |       lsh_bucket(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), 8) AS b
        |""".stripMargin).collect().head
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("lexicon_hits equals the four interpreted filter passes") {
    val lexicons = Seq(
      Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
      Seq("el", "la", "de", "los", "las", "y", "en", "que", "un", "una"),
      Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
      Seq("le", "la", "les", "de", "et", "un", "une", "est", "en", "que"))
    val sqlLex = lexicons.map(_.map(w => s"'$w'").mkString("array(", ",", ")"))
    val both = Tables(spark, sf001, "documents")
      .withColumn("toks", expr("split(lower(text), ' ')"))
      .withColumn("fast", TextFunctions.lexiconHits(col("toks"), lexicons))
      .withColumn("fold", expr(
        sqlLex.map(l => s"size(filter(toks, t -> array_contains($l, t)))")
          .mkString("array(", ",", ")")))
      .select("fast", "fold").collect()
    assert(both.length == 500)
    assert(both.forall(r => r.getSeq[Int](0) == r.getSeq[Int](1)))
  }

  test("near-dup candidate pairs grow subquadratically across scale factors") {
    // 10x docs (500 -> 5000) must NOT produce ~100x candidate pairs (round
    // 1's fixed-block blocking measured 91x). MinHash-band candidates
    // track the planted-duplicate count, which grows linearly.
    def candPairs(dir: String): Long =
      Text.ddNgramJaccard(spark, dir)
        .agg(sum("n_candidate_pairs")).collect().head.getLong(0)
    val small = candPairs(sf001)
    val large = candPairs(sf01)
    assert(small >= 1, s"expected planted dups at sf0.01, got $small")
    assert(large <= small * 25,
      s"candidate growth must be ~linear for 10x docs: $small -> $large")
    // And absolutely tiny versus the ~12.5M same-corpus pairs at sf0.1.
    assert(large < 2000, s"candidate count at sf0.1 must stay small: $large")
  }

  test("near-dup recall: band candidates find every planted duplicate pair") {
    // Ground truth (all-pairs shingle-Jaccard >= 0.5, computed offline in
    // DuckDB over the fixed testdata): 6 pairs at sf0.01, 79 at sf0.1.
    // Equality proves 100% candidate recall on the planted duplicates.
    def nearDups(dir: String): Long =
      Text.ddNgramJaccard(spark, dir)
        .agg(sum("n_near_dups")).collect().head.getLong(0)
    assert(nearDups(sf001) == 6L)
    assert(nearDups(sf01) == 79L)
  }

  test("dd_minhash_lsh recall sits on the banding curve over planted duplicates") {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    // sf0.001: ground truth enumerated in-spec (all-pairs shingle-hash
    // Jaccard >= 0.8 — 300 docs, cheap here, impossible at scale).
    val sh = Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("th", expr("transform(toks, t -> xxhash64(t))"))
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(0, size(th) - 3), i -> xxhash64(th[i], th[i+1], th[i+2])))"))
      .select(col("doc_id"), col("sh"))
    val truth = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter", expr("size(array_intersect(a.sh, b.sh))"))
      .filter(col("inter").cast("double") /
        (expr("size(a.sh)") + expr("size(b.sh)") - col("inter")) >= 0.8)
      .count()
    // Confirmed dups can never exceed truth (confirmation is exact
    // Jaccard), and recall must sit on the banding curve: at the 0.8
    // threshold P(candidate | j=0.8) = 1-(1-0.8^4)^4 ≈ 0.88, rising
    // steeply toward 1 for the near-identical planted dups — so >= 85%
    // found, and in practice all but the borderline-j pairs (measured:
    // 27 of 28 at sf0.001; the miss has j ≈ 0.8).
    // both family members sit on the same curve: the oracle'd md5 form
    // and the engine-native xxhash64 form (different hash families ->
    // slightly different band keys, same banding probability)
    for ((label, fn) <- Seq(
        "md5" -> (Text.ddMinhashLsh _),
        "xx" -> (Text.ddMinhashLshXx _))) {
      val got001 = fn(spark, "/root/testdata/sf0.001")
        .collect().head.getAs[Long]("n_confirmed_dups")
      assert(got001 <= truth,
        s"$label precision: confirmed $got001 exceeds truth $truth")
      assert(got001 * 100 >= truth * 85,
        s"$label sf0.001 recall: found $got001 of $truth")
      // sf0.01: ground truth 25 (all-pairs >= 0.8, measured offline in
      // DuckDB over the fixed testdata; pairs are cross-language here,
      // unlike ddNgramJaccard's within-language blocking).
      val got01 = fn(spark, sf001)
        .collect().head.getAs[Long]("n_confirmed_dups")
      assert(got01 <= 25L && got01 * 100 >= 25L * 85,
        s"$label sf0.01 recall: found $got01 of 25")
    }
  }

  test("embedding-cosine pairs stay ~linear when nbits follows the log2 rule") {
    // 4x vectors (500 -> 2000) with nbits 8 -> 10 keeps expected bucket
    // population constant, so pair count should grow ~linearly (4x), not
    // quadratically (16x).
    def pairs(dir: String, nbits: Int): Long =
      Similarity.ddEmbeddingCosine(spark, dir, nbits)
        .agg(sum("n_pairs")).collect().head.getLong(0)
    val small = pairs(sf001, 8)
    val large = pairs(sf01, 10)
    assert(small >= 1)
    assert(large <= small * 8,
      s"pair growth must be ~linear for 4x vectors under the log2 rule: $small -> $large")
  }

  test("dd_simhash cluster arithmetic equals enumerated pair counting") {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val fast = Text.ddSimhash(spark, sf001, 16).collect().toSeq
    // The naive enumerated formulation (round 1's shape, within-lang):
    // quadratic in cluster sizes, but fine as a test oracle at sf0.01.
    val hashed = Tables(spark, sf001, "documents")
      .withColumn("hd", expr(
        "transform(array_distinct(split(text, ' ')), t -> md5(CAST(t AS BINARY)))"))
      .withColumn("hs", expr(s"transform(hd, h -> ${Text.md5SignedHash64Expr("h")})"))
      .withColumn("simhash", expr("simhash64(hs)"))
      .select(col("doc_id"), col("lang"), col("simhash"),
        expr("shiftright(simhash, 48)").as("block"))
    val slow = hashed.as("x").join(hashed.as("y"),
        col("x.lang") === col("y.lang") && col("x.block") === col("y.block") &&
          col("x.doc_id") < col("y.doc_id"))
      .withColumn("hamming", expr("bit_count(x.simhash ^ y.simhash)"))
      .groupBy(col("x.lang").as("lang"))
      .agg(count(lit(1)).as("n_block_pairs"),
        sum(when(col("hamming") <= 16, 1L).otherwise(0L)).as("n_close_pairs"),
        min("hamming").as("min_hamming"))
      .orderBy("lang").collect().toSeq
    assert(fast == slow)
  }

  test("simhash signature join is output-bound: high precision, far below all-pairs") {
    // This corpus's TRUE close-pair count is quadratic (identical and
    // near-identical token sets dominate), so no complete method can have
    // subquadratic OUTPUT. The scalable claims are therefore:
    //   (1) documents never pair up — the join runs over distinct
    //       signatures (cluster arithmetic covers intra-cluster pairs);
    //   (2) the signature join does almost no wasted work — nearly every
    //       in-block signature pair is a genuinely close pair (work ∝
    //       output, the best any complete candidate generator can do);
    //   (3) blocking still prunes hard versus unblocked all-pairs.
    val u = Text.simhashClusters(spark, sf01, 19).cache()
    val joined = u.as("x").join(u.as("y"),
        col("x.lang") === col("y.lang") && col("x.block") === col("y.block") &&
          col("x.simhash") < col("y.simhash"))
      .select(expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .cache()
    val nSigs = u.count()
    val nDocs = Tables(spark, sf01, "documents").count()
    val total = joined.count()
    val close = joined.filter(col("hamming") <= 16).count()
    val allPairs = nSigs * (nSigs - 1) / 2
    assert(nSigs < nDocs, s"signatures must deduplicate docs: $nSigs vs $nDocs")
    assert(close >= (total * 95) / 100,
      s"block join must be output-bound (precision >= 0.95): $close / $total")
    assert(total < allPairs / 10,
      s"blocking must prune vs all-pairs: $total vs $allPairs")
    u.unpersist(); joined.unpersist()
  }

  test("sequence packing conserves tokens and orders chunks by document") {
    val totalTokens = Tables(spark, sf001, "documents")
      .select(expr("sum(size(split(text, ' ')))")).collect().head.getLong(0)
    val packed = Text.txPackChunks(spark, sf001).collect()
    // every token lands in exactly one chunk
    assert(packed.map(_.getAs[Long]("tokens")).sum == totalTokens)
    // within a (lang, shard) stream, chunk order == document order
    packed.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("shard")))
      .foreach { case (_, rows) =>
        val byChunk = rows.sortBy(_.getAs[Long]("chunk_id"))
          .map(_.getAs[Long]("first_doc_id")).toSeq
        assert(byChunk == byChunk.sorted)
      }
  }

  test("tx_hash_sample has no WindowExec and matches the window formulation") {
    val df = Text.txHashSample(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "two-phase top-k must not fall back to a per-language window sort")
    // Equivalence against round 1's window formulation (same output).
    val windowed = Tables(spark, sf001, "documents")
      .withColumn("h", expr("md5(cast(cast(doc_id AS STRING) AS BINARY))"))
      .withColumn("rn", expr(
        "row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)"))
      .groupBy("lang")
      .agg(
        sum(when(expr("substring(h, 1, 1) < '2'"), 1L).otherwise(0L))
          .as("n_bernoulli"),
        sum(when(col("rn") <= 10, 1L).otherwise(0L)).as("n_stratified"),
        min(when(col("rn") <= 10, col("doc_id"))).as("min_sampled_id"))
      .orderBy("lang")
    assert(df.collect().toSeq == windowed.collect().toSeq)
  }

  test("ngram_stats equals the interpreted HOF formulation bit-for-bit") {
    TextFunctions.ensureRegistered(spark)
    val both = Tables(spark, sf001, "documents")
      .filter(col("doc_id") < 200)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .withColumn("fast", expr("ngram_stats(toks, 2)"))
      .withColumn("bg", expr(
        "transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1]))"))
      .withColumn("slow", struct(
        expr("CAST(size(bg) AS BIGINT)").as("n_total"),
        expr("CAST(size(array_distinct(bg)) AS BIGINT)").as("n_distinct"),
        expr("CAST(array_max(transform(array_distinct(bg), x -> size(filter(bg, y -> y = x)))) AS BIGINT)")
          .as("max_count")))
      .select("fast", "slow").collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getStruct(0) == r.getStruct(1)))
  }

  test("ngram_stats edge cases: short arrays and null tokens") {
    TextFunctions.ensureRegistered(spark)
    val rows = spark.sql(
      """SELECT ngram_stats(array('a'), 3) AS short,
        |       ngram_stats(array('a', CAST(NULL AS STRING), 'b'), 2) AS withNull,
        |       ngram_stats(CAST(NULL AS ARRAY<STRING>), 2) AS nullArr,
        |       ngram_stats(array('x', 'x', 'x', 'x'), 2) AS rep
        |""".stripMargin).collect().head
    assert(rows.getStruct(0) == org.apache.spark.sql.Row(0L, 0L, 0L))
    assert(rows.isNullAt(1) && rows.isNullAt(2))
    assert(rows.getStruct(3) == org.apache.spark.sql.Row(3L, 1L, 3L))
  }

  test("tx_repetition flags fire on real corpus rows with bounded fractions") {
    val rows = Text.txRepetition(spark, sf001).collect()
    assert(rows.nonEmpty)
    val flagged2 = rows.map(_.getAs[Long]("n_flag_top2")).sum
    val flagged3 = rows.map(_.getAs[Long]("n_flag_dup3")).sum
    assert(flagged2 > 0, "top-2-gram flag must fire on this corpus")
    assert(flagged3 > 0, "dup-3-gram flag must fire on this corpus")
    rows.foreach { r =>
      assert(r.getAs[Double]("max_top2_frac") >= 0.0 &&
        r.getAs[Double]("max_top2_frac") <= 2.0)
      assert(r.getAs[Double]("max_dup3_frac") >= 0.0 &&
        r.getAs[Double]("max_dup3_frac") <= 3.0)
      assert(r.getAs[Long]("n_flag_top2") <= r.getAs[Long]("n_docs"))
    }
  }

  test("bm25: rare-term dominance, length normalization, tf saturation, exact score") {
    val spark2 = spark
    import spark2.implicits._
    // N=6, T=32; df_dup=1, df_query=3, df_scan=1
    val planted = Seq(
      (1L, "dup alpha beta gamma"),          // rare term, dl=4
      (2L, "query query query query"),       // tf=4 of a common term
      (3L, "query alpha beta gamma"),        // tf=1, dl=4
      (4L, "query alpha beta gamma delta eps zeta eta theta iota kappa lambda"), // tf=1, dl=12
      (5L, "alpha beta gamma delta"),        // no query terms
      (6L, "scan scan alpha beta"))
      .toDF("doc_id", "text")
    val rows = Text.bm25TopK(planted, 10).collect()
    val score = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(!score.contains(5L), "termless doc must not surface")
    assert(score(1L) > score(3L), "rare 'dup' must outrank common 'query' at equal tf/dl")
    assert(score(3L) > score(4L), "longer doc must score lower at equal tf")
    assert(score(2L) < 4.0 * score(3L), "tf must saturate (k1), not scale linearly")
    // hand-recompute d1 with the same IEEE ops in the same order:
    // idf = (2N-2df+1)/(2df+1) = 11/3, tf factor = 44·1·T/(20·1·T+6T+18·dl·N)
    val expected = ((2 * 6 - 2 * 1 + 1) * 44 * 1 * 32).toDouble /
      ((2 * 1 + 1) * (20 * 1 * 32 + 6 * 32 + 18 * 4 * 6)).toDouble
    assert(score(1L) == expected, s"d1 score ${score(1L)} != hand-traced $expected")
    // ranks are dense from 1 in score order
    assert(rows.map(_.getAs[Int]("rnk")).toSeq == (1 to rows.length))
  }

  test("lsh s-curve: identical sets always collide, analytic column matches the closed form") {
    val rows = Text.ddLshScurve(spark, sf001).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_collided"),
          r.getAs[Double]("measured_rate"), r.getAs[Double]("analytic_rate")))
      .toMap
    assert(rows.nonEmpty && rows.keySet.forall(b => b >= 0 && b <= 10))
    rows.values.foreach { case (n, c, m, a) =>
      assert(c >= 0 && c <= n && m >= 0.0 && m <= 1.0 && a >= 0.0 && a <= 1.0)
      assert(m == c.toDouble / n.toDouble)
    }
    // identical shingle sets have identical minhashes — deterministic
    // collision, not just probability 1 in the limit
    rows.get(10L).foreach { case (_, _, m, a) =>
      assert(m == 1.0 && a == 1.0, s"J=1 bucket must collide always: $m, $a")
    }
    // the analytic column IS the closed form at the bucket midpoint,
    // with the same left-associated IEEE ops (no libm pow)
    rows.foreach { case (b, (_, _, _, a)) =>
      val s = math.min((b.toDouble + 0.5) / 10.0, 1.0)
      val s4 = ((s * s) * s) * s
      val q = 1.0 - s4
      val expected = 1.0 - (((q * q) * q) * q)
      assert(a == expected, s"bucket $b analytic $a != hand $expected")
    }
    // the curve discriminates: sub-threshold buckets (J < 0.2) must
    // measure far below the confirm threshold's collision regime
    rows.filter(_._1 <= 1L).values.foreach { case (_, _, m, _) =>
      assert(m < 0.05, s"low-J pairs colliding at $m — banding broken")
    }
    // no shingle in this corpus exceeds the df cap (measured max df = 9
    // at sf0.001) — the accounting columns must report exactly zero,
    // never null (the drop aggregate runs even when nothing is dropped)
    val raw = Text.ddLshScurve(spark, sf001).collect()
    raw.foreach { r =>
      assert(r.getAs[Long]("capped_shingles") == 0L)
      assert(r.getAs[Long]("capped_pairs_bound") == 0L)
    }
  }

  test("lsh s-curve df cap: a planted hot shingle is dropped and its mass reported") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scv").toString
    val md = java.security.MessageDigest.getInstance("MD5")
    // every planted doc must pass the audit's deterministic content
    // sample (md5(text) hex prefix < '8') — search a salt token so the
    // TEST controls sampling, not luck
    def sampled(base: String): String =
      Iterator.from(0).map(k => s"$base z$k").find { t =>
        val h = md.digest(t.getBytes("UTF-8"))
        ((h(0) >> 4) & 0xf) < 8
      }.get
    // 70 docs sharing exactly one shingle ("hot hot hot", df = 70 > 64);
    // every other shingle is unique to its doc, so with the cap active
    // these docs form NO audited pairs at all
    val hot = (1 to 70).map(i => (i.toLong, sampled(s"hot hot hot u$i")))
    // one exact-duplicate pair with all-cold shingles (df = 2): survives
    // the cap, lands in bucket 10, and must still always collide
    val cleanText = sampled("alpha beta gamma delta epsilon")
    val clean = Seq((101L, cleanText), (102L, cleanText))
    (hot ++ clean).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.ddLshScurve(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("bucket")).toSeq == Seq(10L),
      s"only the clean pair may survive the cap: ${rows.toSeq}")
    val r = rows.head
    assert(r.getAs[Long]("n_pairs") == 1L && r.getAs[Long]("n_collided") == 1L)
    assert(r.getAs[Double]("measured_rate") == 1.0)
    // the no-silent-caps accounting: 1 dropped shingle, 70·69/2 pair
    // slots of enumeration work refused
    assert(r.getAs[Long]("capped_shingles") == 1L)
    assert(r.getAs[Long]("capped_pairs_bound") == 70L * 69L / 2L)
  }

  test("tf-idf topterms: planted corpus — ubiquitous terms quantize out, rare terms win") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-idf").toString
    // 'common' appears in EVERY doc (df = N -> N div df = 1 -> idf_q = 0:
    // it can never out-score anything); 'rare' appears only in doc 1 but
    // many times (tf large, idf_q = ilog2(4) = 2); 'mid' in two docs.
    Seq(
      (1L, "common rare rare rare rare mid"),
      (2L, "common mid filler1 filler2"),
      (3L, "common filler3 filler4 filler5"),
      (4L, "common filler6 filler7 filler8"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.txIdfTopterms(spark, dir).collect()
    val byRnk = rows.sortBy(_.getAs[Int]("rnk"))
    assert(byRnk.head.getAs[String]("term") == "rare",
      s"rare (tf=4, idf_q=2, score=8) must top: ${byRnk.toSeq}")
    assert(byRnk.head.getAs[Long]("score") == 8L)
    rows.foreach { r =>
      assert(r.getAs[String]("term") != "common",
        "a df=N term has idf_q=0 and must never surface")
      // score algebra and the whole-bit integer log, recomputed
      val expIdf = 63 - java.lang.Long.numberOfLeadingZeros(
        4L / r.getAs[Long]("df"))
      assert(r.getAs[Long]("idf_q") == expIdf.toLong)
      assert(r.getAs[Long]("score") ==
        r.getAs[Long]("tf") * r.getAs[Long]("idf_q"))
    }
  }

  test("waterfill: planted caps — small source saturates, residue splits with exact remainder") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wf").toString
    def doc(id: Long, src: String, nToks: Int) =
      (id, (1 to nToks).map(i => s"w$i").mkString(" "), "en", src)
    // caps: s1=10, s2=100, s3=101; total 211, budget T=105.
    // s1 saturates (10·3 ≤ 105); residue 95 over m=2 → base 47, rem 1 →
    // s2 (alphabetically first unsaturated) gets 48, s3 gets 47.
    Seq(doc(1, "s1", 10), doc(2, "s2", 50), doc(3, "s2", 50),
      doc(4, "s3", 101))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.txMixWaterfill(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("cap_tokens"), r.getAs[Long]("allocated_tokens"),
          r.getAs[Boolean]("saturated"))).toMap
    assert(rows == Map(
      "s1" -> ((10L, 10L, true)),
      "s2" -> ((100L, 48L, false)),
      "s3" -> ((101L, 47L, false))), s"waterfill solve wrong: $rows")
    // the exactness law on the natural corpus: allocations sum to the
    // budget TO THE TOKEN, saturated iff allocated == cap, unsaturated
    // allocations within 1 of each other
    val nat = Text.txMixWaterfill(spark, sf001).collect()
    val budget = nat.head.getAs[Long]("budget_tokens")
    assert(nat.map(_.getAs[Long]("allocated_tokens")).sum == budget)
    nat.foreach { r =>
      assert(r.getAs[Boolean]("saturated") ==
        (r.getAs[Long]("allocated_tokens") == r.getAs[Long]("cap_tokens")))
    }
    val uns = nat.filter(!_.getAs[Boolean]("saturated"))
      .map(_.getAs[Long]("allocated_tokens"))
    if (uns.nonEmpty) assert(uns.max - uns.min <= 1L,
      s"equal-shares violated: ${uns.toSeq}")
  }

  test("dataset card agrees with the single-signal operators it composes") {
    val card = Text.txDatasetCard(spark, sf001).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // median must equal txLengthPercentiles' p50 per source (same
    // nearest-rank definition, independent plan)
    val p50 = Text.txLengthPercentiles(spark, sf001).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("p50")).toMap
    assert(card.keySet == p50.keySet && card.nonEmpty)
    card.foreach { case (src, r) =>
      assert(r.getAs[Long]("p50_tokens") == p50(src),
        s"$src median drifted from txLengthPercentiles")
      assert(r.getAs[Long]("n_exact_dup_rows") >= 0L &&
        r.getAs[Long]("n_exact_dup_rows") < r.getAs[Long]("n_docs"))
      val pm = r.getAs[Long]("alnum_permille")
      assert(pm >= 0L && pm <= 1000L, s"$src alnum per-mille out of range: $pm")
    }
    // token shares partition the corpus
    val shareSum = card.values.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"shares sum to $shareSum")
    // token masses match the mixing operator's
    val mix = Text.txSourceMix(spark, sf001).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("tokens")).toMap
    card.foreach { case (src, r) =>
      assert(r.getAs[Long]("n_tokens") == mix(src),
        s"$src token mass drifted from txSourceMix")
    }
  }

  test("ppjoin: exact pairs with inclusive tau boundary, planted sub-threshold pair dropped") {
    val spark2 = spark
    import spark2.implicits._
    // docs 1/2 share an 8-token run (6 of 9 shingles): J = 6/12 = τ
    // EXACTLY (inclusive boundary); doc 3 shares only a 4-token run
    // with doc 1 (2 shingles, J = 2/16 = 0.125 — dropped); doc 4 = doc 1
    val w = (1 to 8).map(i => s"w$i").mkString(" ")
    val planted = Seq(
      (1L, s"$w x1 x2 x3"),
      (2L, s"$w y1 y2 y3"),
      (3L, "w1 w2 w3 w4 z1 z2 z3 z4 z5 z6 z7"),
      (4L, s"$w x1 x2 x3"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val out = Text.ppjoinPairs(planted).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("uni"),
          r.getAs[Double]("jaccard"))).toMap
    assert(out.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)),
      s"expected exactly the three qualifying pairs: ${out.keySet}")
    assert(out((1L, 2L)) == ((6L, 12L, 0.5)), "boundary J = τ must be KEPT")
    assert(out((1L, 4L)) == ((9L, 9L, 1.0)))
    assert(out((2L, 4L)) == ((6L, 12L, 0.5)))
  }

  test("ppjoin: one cached tokenize+md5 projection feeds all consumers, array-free shuffles") {
    // VERDICT r11 weak #1: the shingle-md5 projection was consumed three
    // times uncached (8.35 s warm judge-measured) and the verify shipped
    // full shingle ARRAYS through both candidate joins. Pins the r12
    // shape: the ONE text-reading scan lives inside the scoped cache
    // (InferFiltersFromGenerate otherwise inlines the interpreted
    // transform chain into a per-row filter — profiled at ~4 s alone),
    // every consumer reads the InMemoryRelation, and no key-partitioned
    // shuffle carries an array attribute (|∩| is a count over exploded
    // postings, the oracle's own formulation).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    val df = Text.ddPpjoin(spark, sf001)
    df.collect()
    var textScans = 0
    var memScans = 0
    val arrayShuffles = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case f: FileSourceScanExec
            if f.schema.fieldNames.contains("text") => textScans += 1
        case _: InMemoryTableScanExec => memScans += 1
        case e: ShuffleExchangeLike
            if e.output.exists(_.dataType.isInstanceOf[ArrayType]) &&
              !e.outputPartitioning.toString.contains("RoundRobin") =>
          arrayShuffles += e.toString
        case _ => ()
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case other => other.children.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    assert(textScans == 0,
      s"a text-reading documents scan escaped the shingle cache ($textScans)")
    assert(memScans >= 3,
      s"expected prefix path + both verify sides on the cached projection, saw $memScans")
    assert(arrayShuffles.isEmpty,
      "a shingle array crossed a key-partitioned shuffle:\n" +
        arrayShuffles.mkString("\n"))
  }

  test("bm25 index: serve equals direct, partition-prunes to query terms, never rebuilds") {
    val sfDir = "/root/testdata/sf0.001"
    val indexed = Text.txBm25Indexed(spark, sfDir)
    assert(indexed.collect().toSeq ==
      Text.txBm25TopK(spark, sfDir).collect().toSeq,
      "standing-index serve must equal the direct query row for row")
    // r12 layout (VERDICT r11 weak #2): the postings scan prunes to the
    // query terms' HASHED buckets (bounded dir count — one-dir-per-term
    // was the 100 TB scale-killer) and pushes term IN (…) into the
    // row-group scan within each bucket
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("tb#"),
      "postings scan must carry a tb bucket partition filter")
    assert(plan.contains("PushedFilters:") && plan.contains("In(term"),
      "term IN (…) must be pushed into the postings parquet scan")
    // served, not rebuilt (the AggRefreshSpec mtime discipline)
    val base = Text.ensureBm25Index(spark, sfDir)
    val marker = new org.apache.hadoop.fs.Path(s"$base/termstats/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = fs.getFileStatus(marker).getModificationTime
    Text.txBm25Indexed(spark, sfDir).collect()
    Text.txBm25Indexed(spark, sfDir).collect()
    assert(fs.getFileStatus(marker).getModificationTime == t0,
      "two indexed serves must not rewrite the standing index")
  }

  test("bm25 lifecycle: upsert/delete serve from standing indexes, never re-tokenize or rebuild") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val sfDir = "/root/testdata/sf0.001"
    // upsert over base+delta standing indexes ≡ the full-corpus direct
    // query (the strongest refresh ≡ rebuild form); delete ≡ the direct
    // query over the surviving carve
    val up = Text.txBm25Upsert(spark, sfDir)
    assert(up.collect().toSeq == Text.txBm25TopK(spark, sfDir).collect().toSeq,
      "merged upsert serve must equal the full-corpus direct query")
    val surviving = Tables(spark, sfDir, "documents")
      .filter(expr(s"pmod(doc_id, 5) != 0"))
    val del = Text.txBm25Delete(spark, sfDir)
    assert(del.collect().toSeq == Text.bm25TopK(surviving, 20).collect().toSeq,
      "tombstoned serve must equal the direct query over survivors")
    // serve plans read ONLY standing parquet — no text-carrying scan
    // (the corpus is never re-tokenized at serve time)
    for ((name, df) <- Seq("upsert" -> Text.txBm25Upsert(spark, sfDir),
        "delete" -> Text.txBm25Delete(spark, sfDir))) {
      df.collect()
      var textScans = 0
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case f: FileSourceScanExec
              if f.schema.fieldNames.contains("text") => textScans += 1
          case _ => ()
        }
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case other => other.children.foreach(walk)
        }
      }
      walk(df.queryExecution.executedPlan)
      assert(textScans == 0,
        s"$name serve re-tokenized the corpus ($textScans text scans)")
    }
    // served, not rebuilt: neither lifecycle serve may touch the shared
    // full index, the base/delta carve indexes, or the tombstones
    val fsConf = spark.sparkContext.hadoopConfiguration
    val markers = Seq(
      s"${Text.ensureBm25Index(spark, sfDir)}/termstats/_SUCCESS",
      s"${Text.ensureBm25Index(spark, sfDir, "base")}/termstats/_SUCCESS",
      s"${Text.ensureBm25Index(spark, sfDir, "delta")}/termstats/_SUCCESS",
      s"${Text.ensureBm25Tombstones(spark, sfDir)}/ids/_SUCCESS")
      .map(new org.apache.hadoop.fs.Path(_))
    val mtimes = markers.map(m =>
      m.getFileSystem(fsConf).getFileStatus(m).getModificationTime)
    Text.txBm25Upsert(spark, sfDir).collect()
    Text.txBm25Delete(spark, sfDir).collect()
    Text.txBm25Refresh(spark, sfDir).collect()
    val after = markers.map(m =>
      m.getFileSystem(fsConf).getFileStatus(m).getModificationTime)
    assert(mtimes == after,
      "a lifecycle serve rewrote a standing artifact")
  }

  test("gopher rules: every rule fires on its planted violator and passes the clean doc") {
    val spark2 = spark
    import spark2.implicits._
    val stop8 = "the be to of and that have with"
    val filler = Seq.fill(52)("word").mkString(" ")
    val planted = Seq(
      (1L, s"$stop8 $filler"),                                   // clean: 60 words
      (2L, s"$stop8 ${Seq.fill(4)("word").mkString(" ")}"),      // 12 words: word-count fail
      (3L, s"$stop8 ${Seq.fill(52)("supercalifragilistic").mkString(" ")}"), // mean len > 10
      (4L, s"$stop8 ${Seq.fill(42)("word").mkString(" ")} ${Seq.fill(10)("#").mkString(" ")}"), // 10 '#' in 60
      (5L, s"$stop8 ${Seq.fill(28)("word").mkString(" ")} ${Seq.fill(24)("1234").mkString(" ")}"), // 24/60 numeric
      (6L, Seq.fill(60)("word").mkString(" ")))                  // no stopwords
      .toDF("doc_id", "text")
    val f = Text.gopherFlags(planted).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("fail_word_count"), r.getAs[Long]("fail_mean_len"),
          r.getAs[Long]("fail_symbol"), r.getAs[Long]("fail_alpha"),
          r.getAs[Long]("fail_stop"))).toMap
    assert(f(1L) == ((0L, 0L, 0L, 0L, 0L)), s"clean doc flagged: ${f(1L)}")
    assert(f(2L)._1 == 1L, "short doc must fail the word-count band")
    assert(f(3L)._2 == 1L, "long-word doc must fail the mean-length band")
    assert(f(4L)._3 == 1L, s"symbol-heavy doc must fail the symbol ratio: ${f(4L)}")
    assert(f(5L)._4 == 1L, "numeric-heavy doc must fail the alpha-word ratio")
    assert(f(6L)._5 == 1L, "stopword-free doc must fail stopword presence")
    // the rollup agrees with the flags and pass_all is conjunctive
    val roll = Text.txGopherRules(spark, sf001).collect()
    assert(roll.nonEmpty)
    roll.foreach { r =>
      assert(r.getAs[Long]("n_pass_all") <=
        r.getAs[Long]("n_docs") - Seq("n_fail_word_count", "n_fail_mean_len",
          "n_fail_symbol", "n_fail_alpha", "n_fail_stop")
          .map(r.getAs[Long](_)).max)
    }
  }

  test("tx_decontaminate finds the planted cross-source duplicates, 8-grams only") {
    val rows = Text.txDecontaminate(spark, sf001).collect()
    val contaminated = rows.map(_.getAs[Long]("n_contaminated")).sum
    val train = rows.map(_.getAs[Long]("n_train_docs")).sum
    assert(contaminated > 0, "planted cross-source dups must be flagged")
    // 8-gram overlap is surgical: the vast majority of train docs survive
    // (3-gram shingles would flag 84% of this corpus — the spec pins the
    // width choice, not just the plumbing)
    assert(contaminated * 10 < train,
      s"decontamination must be selective: $contaminated of $train flagged")
    rows.foreach { r =>
      if (r.getAs[Long]("n_contaminated") == 0L) {
        assert(r.isNullAt(r.fieldIndex("first_contaminated")))
      }
    }
  }

  test("tx_source_mix weights invert the shares and shares sum to 1") {
    val rows = Text.txSourceMix(spark, sf001).collect()
    assert(rows.length > 1)
    val shares = rows.map(_.getAs[Double]("token_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-9)
    val k = rows.length.toDouble
    rows.foreach { r =>
      // weight × share = 1/k exactly in real arithmetic; double round-off
      // only at the last ulps
      val prod = r.getAs[Double]("target_weight") * r.getAs[Double]("token_share")
      assert(math.abs(prod - 1.0 / k) < 1e-12)
    }
  }

  test("tx_topk_ngrams is a bounded heap plan, not a global sort") {
    val df = Text.txTopkNgrams(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must compile to per-partition heaps + driver merge")
    val rows = df.collect()
    assert(rows.length == 20)
    // descending with deterministic tiebreak
    val pairs = rows.map(r => (r.getAs[Long]("n_occurrences"), r.getAs[String]("gram")))
    assert(pairs.sameElements(pairs.sortBy(p => (-p._1, p._2))))
  }

  test("dd_dup_clusters matches the transitive closure of confirmed pairs") {
    val rows = Text.ddDupClusters(spark, sf001).collect()
    assert(rows.nonEmpty, "planted near-dups must produce clusters")
    // invariants: every cluster has >= 2 members, the component IS the
    // min member id, sizes agree with the actual row counts
    val byComp = rows.groupBy(_.getAs[Long]("component"))
    byComp.foreach { case (comp, members) =>
      val ids = members.map(_.getAs[Long]("doc_id"))
      assert(ids.min == comp, s"component must be the min doc_id: $comp")
      assert(members.length >= 2)
      assert(members.forall(_.getAs[Long]("cluster_size") == members.length))
    }
    // clustered docs = union of endpoints of confirmed pairs, and the
    // number of clusters can only be <= the number of confirmed pairs
    val nj = Text.ddNgramJaccard(spark, sf001).collect()
    val confirmedPairs = nj.map(_.getAs[Long]("n_near_dups")).sum
    assert(byComp.size <= confirmedPairs)
    assert(rows.length <= 2 * confirmedPairs)
  }

  test("lsh_bands equals the interpreted full-period plane fold bit-for-bit") {
    TextFunctions.ensureRegistered(spark)
    val (nbits, ntables) = (8, 3)
    // the HOF string mirrors the expression's arithmetic exactly,
    // including left-associative (emb * coef) / 510.0
    val fold =
      s"""transform(sequence(0, ${ntables - 1}), t ->
            aggregate(sequence(0, ${nbits - 1}), 0L, (b, j) ->
              b + CASE WHEN aggregate(sequence(0, 63), 0D, (acc, d) ->
                acc + CAST(embedding[d] AS DOUBLE) *
                      CAST((CAST(t * $nbits + j AS BIGINT) * 64 + d) * 2654435761L % 1021L - 510L AS DOUBLE)
                        / 510.0D) > 0D
              THEN shiftleft(1L, j) ELSE 0L END))"""
    val both = Tables(spark, sf001, "embeddings")
      .select(
        expr(s"lsh_bands(embedding, $nbits, $ntables)").as("fast"),
        expr(fold).as("fold")).collect()
    assert(both.length == 500)
    assert(both.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("lsh_bands null handling") {
    TextFunctions.ensureRegistered(spark)
    val out = spark.sql(
      """SELECT lsh_bands(CAST(NULL AS ARRAY<FLOAT>), 8, 3) AS a,
        |       lsh_bands(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), 8, 3) AS b
        |""".stripMargin).collect().head
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("dd_paragraph keep-first conserves paragraphs: kept = corpus-distinct") {
    val rows = Text.ddParagraph(spark, sf001).collect()
    // per-document chunk count is exactly ceil(tokens / 20)
    val tokCounts = Tables(spark, sf001, "documents")
      .select(col("doc_id"), expr("size(split(text, ' '))").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val expect = (tokCounts(r.getAs[Long]("doc_id")) + 19) / 20
      assert(r.getAs[Long]("n_paras") == expect)
    }
    // kept occurrences across the corpus == distinct paragraph texts
    // (keep-first keeps exactly one occurrence per distinct paragraph)
    val kept = rows.map(r =>
      r.getAs[Long]("n_paras") - r.getAs[Long]("n_dup_paras")).sum
    val distinctParas = Tables(spark, sf001, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(explode(expr(
        """transform(sequence(0, (size(toks) - 1) div 20),
          |  i -> concat_ws(' ', slice(toks, i * 20 + 1, 20)))""".stripMargin)))
      .distinct().count()
    assert(kept == distinctParas, s"kept $kept != distinct $distinctParas")
    // this corpus plants full-document duplicates, so dups must exist
    assert(rows.map(_.getAs[Long]("n_dup_paras")).sum > 0)
  }

  test("fuzzy decontamination: exact precision, banding-curve recall vs truth") {
    val dir = "/root/testdata/sf0.001"
    // brute-force truth (300 docs): train docs with a same-lang src0
    // partner at shingle-Jaccard >= 0.5 / >= 0.8
    val sh = Tables(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"))
      .select(col("doc_id"), col("lang"), col("source"), col("sh"))
    val j = sh.filter(col("source") =!= "src0").as("t")
      .join(sh.filter(col("source") === "src0").as("b"),
        col("t.lang") === col("b.lang"))
      .withColumn("inter", expr("size(array_intersect(t.sh, b.sh))"))
      .withColumn("jac", col("inter").cast("double") /
        (expr("size(t.sh)") + expr("size(b.sh)") - col("inter")))
    val truth05 = j.filter(col("jac") >= 0.5)
      .select(col("t.doc_id")).distinct().collect().map(_.getLong(0)).toSet
    val truth08 = j.filter(col("jac") >= 0.8)
      .select(col("t.doc_id")).distinct().collect().map(_.getLong(0)).toSet
    val flaggedCount = Text.txFuzzyDecontaminate(spark, dir)
      .agg(sum("n_flagged")).collect().head.getLong(0)
    // precision is structural (exact-Jaccard confirm): flagged <= truth;
    // recall: every j >= 0.8 doc sits near the top of the banding curve
    // (P >= 0.88 per pair at 16/4), so at least 85% of those are found
    assert(flaggedCount <= truth05.size.toLong,
      s"flagged $flaggedCount exceeds truth ${truth05.size}")
    assert(flaggedCount * 100 >= truth08.size.toLong * 85,
      s"flagged $flaggedCount of ${truth08.size} high-sim contaminated docs")
  }

  test("mix sampling fills every source budget exactly once, deterministically") {
    val rows = Text.txMixSample(spark, sf001).collect()
    assert(rows.nonEmpty)
    val target = rows.head.getAs[Long]("target")
    assert(rows.forall(_.getAs[Long]("target") == target))
    // the budget is the smallest source's mass, and that source keeps all
    assert(target == rows.map(_.getAs[Long]("tokens")).min)
    assert(rows.exists(r => r.getAs[Long]("tokens") == target &&
      r.getAs[Long]("n_kept") == r.getAs[Long]("n_docs") &&
      r.getAs[Long]("tokens_kept") == target))
    // every source fills its budget, overshooting by at most one document
    val maxDoc = Tables(spark, sf001, "documents")
      .groupBy("source").agg(expr("max(size(split(text, ' ')))").as("m"))
      .collect().map(r => r.getString(0) -> r.getInt(1).toLong).toMap
    rows.foreach { r =>
      val kept = r.getAs[Long]("tokens_kept")
      assert(kept >= target, s"${r.getString(0)}: budget unfilled: $kept")
      assert(kept < target + maxDoc(r.getString(0)),
        s"${r.getString(0)}: overshoot beyond one straddling doc")
    }
    // keyed-hash ranking is a pure function of doc_id — rerun equality
    assert(Text.txMixSample(spark, sf001).collect().toSeq == rows.toSeq)
  }

  test("prepare-corpus pipeline only ever drops docs and tokens, per stage") {
    val rows = Text.pipelinePrepareCorpus(spark, sf001).collect()
    assert(rows.nonEmpty)
    val rawTrainTokens = Tables(spark, sf001, "documents")
      .filter(col("source") =!= "src0")
      .groupBy("lang").agg(expr("sum(size(split(text, ' ')))").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (lang, in, out, toks) = (r.getString(0), r.getAs[Long]("n_docs_in"),
        r.getAs[Long]("n_docs_out"), r.getAs[Long]("tokens_out"))
      assert(out <= in, s"$lang: survivors exceed input")
      assert(out > 0, s"$lang: pipeline must not empty a whole language here")
      // the paragraph rewrite + dedup can only shrink the token mass
      assert(toks <= rawTrainTokens(lang), s"$lang: tokens grew through prep")
    }
    // the corpus plants duplicates and contamination — something must drop
    assert(rows.map(r => r.getAs[Long]("n_docs_in") - r.getAs[Long]("n_docs_out")).sum > 0)
    // deterministic under re-execution (collect_list order is pinned)
    assert(Text.pipelinePrepareCorpus(spark, sf001).collect().toSeq == rows.toSeq)
  }

  // the uncompressed row bytes every shuffle in a query carried
  // ("dataSize" — deterministic, unlike compressed write bytes)
  private def shuffledRowBytes(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    df.collect()
    // AQE nests executed stages recursively, and EVERY stage kind
    // (shuffle, broadcast, table-cache) hides its subtree behind a
    // leaf-like QueryStageExec — walk through all of them, or shuffles
    // that ended up inside a broadcast/cache stage are silently missed.
    // Count the EXCHANGE nodes only: a ShuffleQueryStageExec's metric is
    // the same accumulator as the ShuffleExchangeExec inside its plan,
    // so counting both would double every materialized stage (and a
    // reused exchange correctly counts once — the data shuffled once).
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Long = {
      val self = p match {
        case e: ShuffleExchangeExec => e.metrics("dataSize").value
        case _ => 0L
      }
      val below = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.map(walk).sum
      }
      self + below
    }
    walk(df.queryExecution.executedPlan)
  }

  test("hashed-shingle decontamination: same answer, smaller shuffle rows") {
    val stringKeyed = Text.txDecontaminate(spark, sf001)
    val hashKeyed = Text.txDecontaminateHashed(spark, sf001)
    // identical rollup — the hashed key changes the carrier, not the set
    assert(stringKeyed.collect().toSeq ==
      hashKeyed.orderBy("lang").collect().toSeq)
    val sBytes = shuffledRowBytes(Text.txDecontaminate(spark, sf001))
    val hBytes = shuffledRowBytes(Text.txDecontaminateHashed(spark, sf001))
    // the shingle distinct + semi-join dominate shuffle volume, so 8-byte
    // keys vs ~46-byte mean grams must shrink the total by at least 2x
    assert(hBytes * 2 <= sBytes,
      s"hashed-key shuffle not smaller: $hBytes vs $sBytes row bytes")
    info(s"shuffled row bytes: string-keyed $sBytes, hashed $hBytes")
  }

  test("bloom-prefiltered decontamination: same answer, corpus shuffle shrinks") {
    // the Bloom prefilter may only change the PHYSICAL cost: the exact
    // confirm semi-join removes every false positive, so the rollup must
    // be bit-identical to the unfiltered hashed twin
    val hashKeyed = Text.txDecontaminateHashed(spark, sf001)
    val bloomed = Text.txDecontaminateBloom(spark, sf001)
    assert(hashKeyed.collect().toSeq == bloomed.collect().toSeq)
    // The prefilter's shuffle claim only bites in the regime it exists
    // for: a benchmark digest set too big to broadcast, where the confirm
    // semi-join goes shuffle-side and every corpus gram key rides the
    // exchange. Force that regime (as the 100 TB plan would see it) and
    // the map-side Bloom drop must shrink the shuffled row bytes — on the
    // planted corpus most training grams are not benchmark grams.
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(k => spark.conf.set(k, "-1"))
    try {
      val hBytes = shuffledRowBytes(Text.txDecontaminateHashed(spark, sf001))
      val bBytes = shuffledRowBytes(Text.txDecontaminateBloom(spark, sf001))
      assert(bBytes < hBytes,
        s"bloom prefilter did not shrink the shuffle: $bBytes vs $hBytes row bytes")
      info(s"shuffled row bytes (no broadcast): hashed $hBytes, bloom-prefiltered $bBytes")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hashed-shingle projection evaluates once per query (cache reuse)") {
    // VERDICT r6 finding 3: both semi-join sides of the hashed
    // decontamination fed from the same tokenize+explode+md5 subtree with
    // no cache, so the corpus pass ran twice per query. With the scoped
    // cache, every consumer must read an InMemoryRelation and NO visible
    // file scan of documents may still read `text` (the one text-reading
    // scan lives inside the cached relation, materialized once).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scanCounts(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      df.collect()
      var textScans = 0
      var memScans = 0
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case f: FileSourceScanExec
              if f.schema.fieldNames.contains("text") => textScans += 1
          case _: InMemoryTableScanExec => memScans += 1
          case _ => ()
        }
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          // every AQE stage kind (shuffle, broadcast, table-cache) hides
          // its subtree behind .plan, not .children
          case s: QueryStageExec => walk(s.plan)
          case other => other.children.foreach(walk)
        }
      }
      walk(df.queryExecution.executedPlan)
      (textScans, memScans)
    }
    for (df <- Seq(Text.txDecontaminateHashed(spark, sf001),
        Text.txOverlapFraction(spark, sf001))) {
      val (textScans, memScans) = scanCounts(df)
      assert(textScans == 0,
        s"a text-reading documents scan escaped the shingle cache ($textScans)")
      assert(memScans >= 2,
        s"expected both join sides on the cached projection, saw $memScans")
    }
  }

  test("vocab coverage caches the (lang,tok,c) aggregate, not the token stream") {
    // VERDICT r7 finding 1: caching the exploded token stream is storage
    // proportional to total corpus tokens (driver runs grew 4.6 → 16.2 s
    // under the GC pressure). The plan must now cache the bounded
    // (lang, tok, c) rollup: every InMemoryTableScan carries the count
    // column `c` (the raw stream had only lang/tok), the corpus text scan
    // lives INSIDE the cached relation (no visible text scan), and all
    // consumers read the cache.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Text.txVocabCoverage(spark, sf001)
    df.collect()
    var textScans = 0
    val memSchemas = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case f: FileSourceScanExec
            if f.schema.fieldNames.contains("text") => textScans += 1
        case m: InMemoryTableScanExec =>
          memSchemas += m.relation.output.map(_.name)
        case _ => ()
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case other => other.children.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    assert(textScans == 0,
      s"a text-reading documents scan escaped the rollup cache ($textScans)")
    assert(memSchemas.size >= 3,
      s"expected per/cov/gc consumers on the cached rollup, saw ${memSchemas.size}")
    memSchemas.foreach { s =>
      assert(s.contains("c"),
        s"cached relation lacks the count column — the unbounded token stream is cached: $s")
    }
  }

  test("indexed incremental fuzzy equals the train-per-call twin and reads the standing tables") {
    val plain = Text.ddIncrementalFuzzy(spark, sf001).collect()
    val indexed = Text.ddIncrementalFuzzyIndexed(spark, sf001).collect()
    assert(indexed.toSeq == plain.toSeq,
      "standing-index admission must reproduce the full-recompute audit")
    // and the physics: the plan must actually read the bucketed standing
    // band/shingle tables (re-banding the base corpus would pass the
    // equality above while scaling with the base at 100 TB), and in the
    // no-broadcast regime — the 100 TB shape — BOTH standing scans must
    // consume their bucketing (r8 probe: bucketed on `key` alone the
    // planner disabled the bucketed read and re-shuffled the standing
    // side; bucketing on the full join key set fixed it)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(k => spark.conf.set(k, "-1"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      Text.ddIncrementalFuzzyIndexed(spark, sf001)
        .queryExecution.executedPlan.collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.mkString.contains("graft_fuzzy") =>
            (f.relation.location.rootPaths.mkString, f.bucketedScan)
        }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(scans.exists(_._1.contains("graft_fuzzy_bands_bq")),
      "standing band table not read")
    assert(scans.exists(_._1.contains("graft_fuzzy_sh_bq")),
      "standing shingle table not read")
    scans.foreach { case (loc, bucketed) =>
      assert(bucketed, s"standing scan not bucket-consumed: $loc")
    }
  }

  test("hashed_bucket_counts equals the conv(md5) SQL formulation exactly") {
    TextFunctions.ensureRegistered(spark)
    val d = 32
    val both = Tables(spark, sf001, "documents")
      .filter(col("doc_id") < 200)
      .withColumn("grams", split(col("text"), " "))
      .filter(size(col("grams")) >= 1)
      .withColumn("fast", expr(s"hashed_bucket_counts(grams, $d)"))
      .withColumn("slow", expr(
        s"""transform(sequence(0, ${d - 1}), j -> size(filter(
              transform(grams, g -> CAST(conv(substring(md5(cast(g AS BINARY)), 1, 4), 16, 10) AS BIGINT) % $d),
              b -> b = j)))"""))
      .select(expr("fast = CAST(slow AS ARRAY<BIGINT>)").as("eq"))
      .collect()
    assert(both.nonEmpty && both.forall(_.getBoolean(0)))
  }

  test("fuzzy upsert: batch-2 admission sees admitted batch-1 docs, planted corpus") {
    // The natural corpora have no batch1-batch2 near-dup pairs (measured:
    // b2_vs_upserted = 0 at every sf), so the upsert mechanism is pinned
    // on a planted corpus. base doc 1; batch 1 (%10=0): doc 0 dups base
    // (dropped), docs 10/20 dup each other (keep-first: 10 admitted, 20
    // dropped — and NOT upserted), doc 30 unique (admitted). batch 2
    // (%10=5): doc 5 dups ADMITTED batch-1 doc 10 → vs_upserted (the
    // point of the upsert — and doc 20's copy being absent from the
    // overlay is exercised by the same match), doc 15 dups base →
    // vs_base, docs 25/35 dup each other → keep-first within batch.
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ddups").toString
    Seq(
      (1L, "a b c d e f g h", "en", "src1"),
      (2L, "k l m n o p q r", "en", "src1"),
      (0L, "a b c d e f g h", "en", "src1"),
      (10L, "s t u v w x y z", "en", "src1"),
      (20L, "s t u v w x y z", "en", "src1"),
      (30L, "ka kb kc kd ke kf kg kh", "en", "src1"),
      (5L, "s t u v w x y z", "en", "src1"),
      (15L, "a b c d e f g h", "en", "src1"),
      (25L, "ha hb hc hd he hf hg hh", "en", "src1"),
      (35L, "ha hb hc hd he hf hg hh", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Text.ddIncrementalFuzzyUpsert(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_batch1") == 4)
    assert(row.getAs[Long]("n_b1_admitted") == 2,
      "docs 10 and 30 admitted; 0 (vs base) and 20 (keep-first) dropped")
    assert(row.getAs[Long]("n_batch2") == 4)
    assert(row.getAs[Long]("b2_vs_base") == 1, "doc 15 matches base doc 1")
    assert(row.getAs[Long]("b2_vs_upserted") == 1,
      "doc 5 matches the UPSERTED batch-1 doc 10 — the index grew")
    assert(row.getAs[Long]("b2_in_batch") == 1, "doc 35 keep-first behind 25")
    assert(row.getAs[Long]("b2_admitted") == 1)
    assert(row.getAs[Long]("first_admitted") == 25L)
  }

  test("fuzzy upsert: reads standing + overlay tables bucket-consumed, never rebuilds") {
    // The r8 physics pin extended to the overlay: in the no-broadcast
    // regime every standing/overlay scan must consume its bucketing, and
    // all four tables (base bands/shingles, upserted bands/shingles) must
    // appear as file scans — batch 2 never re-bands the base or batch 1.
    import org.apache.spark.sql.execution.FileSourceScanExec
    Text.ddIncrementalFuzzyUpsert(spark, sf001).collect() // ensure builds
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(k => spark.conf.set(k, "-1"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      Text.ddIncrementalFuzzyUpsert(spark, sf001)
        .queryExecution.executedPlan.collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.mkString.contains("graft_fuzzy") =>
            (f.relation.location.rootPaths.mkString, f.bucketedScan)
        }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // each table's CANDIDATE-JOIN scan must consume its bucketing; the
    // audit recount leg also scans bands_ups for (doc_id, lang) only —
    // no bucket column read there, so that scan is legitimately
    // unbucketed and per-table existence is the right pin
    for (t <- Seq("graft_fuzzy_bands_bq", "graft_fuzzy_sh_bq",
        "graft_fuzzy_bands_ups", "graft_fuzzy_sh_ups"))
      assert(scans.exists { case (loc, bucketed) =>
        loc.contains(t) && bucketed
      }, s"$t has no bucket-consumed scan")
  }

  test("temperature mixing: shares sum to 1, α=0.5 flattens the mixture") {
    val rows = Text.txTemperatureMix(spark, sf001).collect()
    val sampled = rows.map(_.getAs[Double]("sampled_share"))
    val natural = rows.map(_.getAs[Double]("token_share"))
    assert(math.abs(sampled.sum - 1.0) < 1e-9)
    assert(math.abs(natural.sum - 1.0) < 1e-9)
    // temperature < 1 moves every share toward uniform: the biggest
    // source is down-weighted, the smallest up-weighted
    val byTokens = rows.sortBy(_.getAs[Long]("tokens"))
    assert(byTokens.last.getAs[Double]("boost") < 1.0,
      "largest source must be down-weighted")
    assert(byTokens.head.getAs[Double]("boost") > 1.0,
      "smallest source must be up-weighted")
    // and the sampled distribution is strictly flatter than the natural
    // one (smaller max share, larger min share)
    assert(sampled.max < natural.max && sampled.min > natural.min)
  }

  test("shuffle-shard partitions the whole corpus, balanced, seed-stable") {
    val rows = Text.txShuffleShard(spark, sf001).collect()
    val total = Tables(spark, sf001, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total,
      "shards must partition the corpus exactly")
    // hash sharding: every shard populated, none over 2x the fair share
    val fair = total.toDouble / rows.length
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(n > 0 && n <= 2 * fair, s"shard imbalance: $n vs fair $fair")
    }
    // the permutation is a pure function of (seed, doc_id): re-running
    // returns identical heads; a different seed moves them
    assert(Text.txShuffleShard(spark, sf001).collect().toSeq == rows.toSeq)
    val other = Text.txShuffleShard(spark, sf001, seed = "other").collect()
    assert(other.map(_.getAs[Long]("head1")).toSeq !=
      rows.map(_.getAs[Long]("head1")).toSeq,
      "different seed must produce a different permutation")
  }

  test("overlap fractions cover exactly the binary drop-list, in (0, 1]") {
    val frac = Text.txOverlapFraction(spark, sf001).collect()
    val binary = Text.txDecontaminate(spark, sf001).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_contaminated"))
      .toMap
    val perLang = frac.groupBy(_.getAs[String]("lang"))
      .view.mapValues(_.length.toLong).toMap
    binary.foreach { case (lang, n) =>
      assert(perLang.getOrElse(lang, 0L) == n,
        s"$lang: fraction rows ${perLang.getOrElse(lang, 0L)} vs binary $n")
    }
    frac.foreach { r =>
      val f = r.getAs[Double]("frac")
      assert(f > 0.0 && f <= 1.0, s"fraction out of range: $f")
      assert(r.getAs[Long]("n_matched") <= r.getAs[Long]("n_grams"))
    }
  }

  test("materialized corpus: shard layout, contract schema, twin sinks agree") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-mat-spec").toString
    val res = Text.pipelineMaterialize(spark, sf001, baseDir = Some(base))
      .collect()
    assert(res.nonEmpty)
    // the oracle also proves this, but pin it locally: both sink legs
    // (JSONL and bucketed parquet) round-trip to identical stats
    res.foreach { r =>
      Seq("n_docs", "sum_tokens", "sum_chars", "min_doc_id", "max_doc_id",
        "text_xor").foreach { c =>
        assert(r.getAs[Long](c) == r.getAs[Long](c + "_pq"),
          s"sink legs diverged on $c for lang ${r.getAs[String]("lang")}")
      }
    }
    // layout contract: exactly the requested 4 JSONL shards on disk
    val shards = new java.io.File(s"$base/jsonl").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(shards.length == 4, s"expected 4 shards, got ${shards.length}")
    // schema contract: the quarantining reader hands back exactly the
    // canonical documents schema (conformTo re-asserts names AND types)
    val (clean, corrupt) = graft.sources.CorpusSource.cleanAndCorrupt(
      graft.sources.CorpusSource.readJsonl(spark, s"$base/jsonl"))
    assert(clean.schema == graft.sources.CorpusSource.documentsSchema)
    assert(corrupt.count() == 0)
    // bucket contract: the parquet sink is an 8-bucket table on doc_id,
    // so downstream per-doc joins between same-bucketed tables skip the
    // exchange (the join-level proof is LayoutSpec's)
    val desc = spark.sql("DESCRIBE TABLE EXTENDED prepared_corpus_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("Num Buckets").contains("8"), desc.toString)
    assert(desc.get("Bucket Columns").exists(_.contains("doc_id")))
  }

  test("ccnet buckets: per-lang thirds are balanced, ordered, and complete") {
    val rows = Text.txCcnetBuckets(spark, sf001).collect()
    val perLang = Tables(spark, sf001, "documents")
      .filter(expr("size(split(text, ' ')) >= 2"))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, bs) =>
      assert(bs.map(_.getAs[Int]("bucket")).sorted.toSeq == Seq(1, 2, 3))
      val sizes = bs.sortBy(_.getAs[Int]("bucket")).map(_.getAs[Long]("n_docs"))
      assert(sizes.sum == perLang(lang), s"$lang: bucket sizes must cover docs")
      assert(sizes.max - sizes.min <= 1, s"$lang: ntile thirds differ by > 1")
      // head holds the highest scores: bucket k's min >= bucket k+1's max
      val byB = bs.map(r => r.getAs[Int]("bucket") ->
        (r.getAs[Double]("min_score"), r.getAs[Double]("max_score"))).toMap
      assert(byB(1)._1 >= byB(2)._2 && byB(2)._1 >= byB(3)._2,
        s"$lang: bucket score ranges out of order")
    }
  }

  test("incremental dedup: all three admission categories, planted corpus") {
    // The testdata's dup pairs rarely straddle the %5 split (one
    // dup_vs_base hit at sf0.1, none smaller), so the category logic is
    // pinned on a planted corpus: doc 0 duplicates base doc 1
    // (dup_vs_base), docs 5/10 duplicate each other with no base copy
    // (keep-first: 5 admitted, 10 dup_in_delta), doc 15 is new.
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ddinc").toString
    Seq(
      (0L, "dup A", "en", "src1"), (1L, "dup A", "en", "src1"),
      (2L, "unique D", "en", "src1"), (3L, "unique E", "en", "src1"),
      (5L, "dup B", "en", "src1"), (10L, "dup B", "en", "src1"),
      (15L, "unique C", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Text.ddIncremental(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_delta_docs") == 4)
    assert(row.getAs[Long]("n_dup_vs_base") == 1)
    assert(row.getAs[Long]("n_dup_in_delta") == 1)
    assert(row.getAs[Long]("n_admitted") == 2)
    assert(row.getAs[Long]("first_admitted") == 5L)
  }

  test("incremental fuzzy dedup: all three admission categories, planted corpus") {
    // Near-dup twins of the exact-test fixture, with >= 3 tokens so the
    // shingle machinery sees them: delta doc 0 duplicates base doc 1
    // (near_dup_vs_base), delta docs 5/10 duplicate each other only
    // (keep-first: 5 admitted, 10 near_dup_in_delta), delta 15 is new.
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ddincf").toString
    Seq(
      (0L, "a b c d e f g h", "en", "src1"),
      (1L, "a b c d e f g h", "en", "src1"),
      (2L, "k l m n o p q r", "en", "src1"),
      (5L, "s t u v w x y z", "en", "src1"),
      (10L, "s t u v w x y z", "en", "src1"),
      (15L, "aa bb cc dd ee ff gg hh", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Text.ddIncrementalFuzzy(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_delta_docs") == 4)
    assert(row.getAs[Long]("n_near_dup_vs_base") == 1)
    assert(row.getAs[Long]("n_near_dup_in_delta") == 1)
    assert(row.getAs[Long]("n_admitted") == 2)
    assert(row.getAs[Long]("first_admitted") == 5L)
  }

  test("split leakage: content addressing closes the leak, id keying does not") {
    // Planted corpus: find two doc_ids whose id-hash splits DIFFER, give
    // them identical text — the id-keyed scheme must leak that text
    // across splits, the content-keyed scheme must not (every copy of a
    // text shares its content hash, hence its split, by construction).
    val spark2 = spark
    import spark2.implicits._
    def idSplit(id: Long): String = {
      val b = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString)
          .substring(0, 2), 16)
      if (b < 204) "train" else if (b < 230) "val" else "test"
    }
    val (idA, idB) = (0L to 200L).flatMap(a => (a + 1 to 200L).map(b => (a, b)))
      .find { case (a, b) => idSplit(a) != idSplit(b) }.get
    val dir = java.nio.file.Files.createTempDirectory("graft-split").toString
    ((0L to 20L).filterNot(i => i == idA || i == idB)
      .map(i => (i, s"unique text $i", "en", "src1")) ++
      Seq((idA, "the leaked duplicate", "en", "src1"),
        (idB, "the leaked duplicate", "en", "src1")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.txSplitLeakage(spark, dir).collect()
    val byScheme = rows.groupBy(_.getAs[String]("scheme"))
    assert(byScheme("by_doc_id").head.getAs[Long]("n_dup_texts") == 1)
    assert(byScheme("by_doc_id").head.getAs[Long]("n_leaked_texts") == 1)
    assert(byScheme("by_content").head.getAs[Long]("n_dup_texts") == 1)
    assert(byScheme("by_content").head.getAs[Long]("n_leaked_texts") == 0)
    // both schemes partition the corpus: per-scheme doc counts sum to n
    byScheme.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("n_docs")).sum == 21)
    }
  }

  test("token budget: two-phase running sum equals the naive global window") {
    // The oracle already proves this vs DuckDB's single window; this pins
    // the same equivalence inside Spark (per-doc, not just aggregates),
    // so a refactor of the bucket-prefix decomposition can't drift.
    val d = Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr("""(CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '')) AS BIGINT)
                 * 1000) div greatest(length(text), 1)""").as("q"))
    val naive = d.withColumn("running", sum("n_tokens").over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("q").desc, col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("running") <= Text.tokenBudgetDefault)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_selected"),
        sum("n_tokens").as("tokens_selected"),
        min("q").as("min_q"), max("q").as("max_q"),
        min("doc_id").as("first_doc_id"))
      .orderBy("lang")
    val fast = Text.txTokenBudget(spark, sf001)
    assert(fast.collect().toSeq == naive.collect().toSeq)
    // the selection is a real subset: something selected, something cut
    val total = Tables(spark, sf001, "documents").count()
    val sel = fast.agg(sum("n_selected")).collect().head.getLong(0)
    assert(sel > 0 && sel < total, s"selected $sel of $total")
  }

  test("snapshot merge: all four actions fire, audit is row- and content-exact") {
    val rows = Text.pipelineMergeSnapshot(spark, sf001).collect()
    val byAction = rows.map(r => r.getAs[String]("action") -> r).toMap
    assert(byAction.keySet == Set("delete", "insert", "unchanged", "update"))
    val base = Tables(spark, sf001, "documents")
    val n = base.count()
    // every base row lands in exactly one of update/delete/unchanged;
    // inserts are on top of the base
    val nOf = (a: String) => byAction(a).getAs[Long]("n_rows")
    assert(nOf("update") + nOf("delete") + nOf("unchanged") == n)
    assert(nOf("insert") ==
      base.filter(col("doc_id") % 13 === 0).count())
    assert(nOf("update") ==
      base.filter(col("doc_id") % 3 === 0).count())
    // insert keys are the reserved negative range: their sum must be < 0
    assert(byAction("insert").getAs[Long]("id_sum") < 0L)
    // the tombstone group's payload is gone — its content XOR is NULL;
    // every surviving group hashes real text
    assert(byAction("delete").isNullAt(byAction("delete").fieldIndex("text_xor")))
    Seq("insert", "unchanged", "update").foreach { a =>
      assert(!byAction(a).isNullAt(byAction(a).fieldIndex("text_xor")), a)
    }
    // deterministic under re-execution
    assert(Text.pipelineMergeSnapshot(spark, sf001).collect().toSeq == rows.toSeq)
  }

  test("fuzzy delete: deleted partners stop blocking admission, planted corpus") {
    // The natural corpora have no delta docs whose ONLY near-dup partner
    // is tombstoned (measured: n_rescued = 0 at every sf), so the rescue
    // mechanism is pinned on a planted corpus. zh base: doc 1 (odd ->
    // dead), doc 2 (live) -> 1 live of 2 = 50% < 75% -> compacted. en
    // base: doc 3 (%17=3 -> dead), docs 4/6/7 live -> 75% not< 75% ->
    // tombstone path. zh delta: doc 5 dups DEAD doc 1 (rescued), doc 10
    // dups LIVE doc 2 (dropped). en delta: doc 15 dups DEAD doc 3
    // (rescued), doc 20 dups live doc 4 (dropped), docs 25/30 dup each
    // other (keep-first). Both compaction branches and the rescue fire
    // in one corpus.
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dddel").toString
    Seq(
      (1L, "a b c d e f g h", "zh", "src1"),
      (2L, "k l m n o p q r", "zh", "src1"),
      (5L, "a b c d e f g h", "zh", "src1"),
      (10L, "k l m n o p q r", "zh", "src1"),
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8", "en", "src1"),
      (4L, "r1 r2 r3 r4 r5 r6 r7 r8", "en", "src1"),
      (6L, "s1 s2 s3 s4 s5 s6 s7 s8", "en", "src1"),
      (7L, "t1 t2 t3 t4 t5 t6 t7 t8", "en", "src1"),
      (15L, "q1 q2 q3 q4 q5 q6 q7 q8", "en", "src1"),
      (20L, "r1 r2 r3 r4 r5 r6 r7 r8", "en", "src1"),
      (25L, "u1 u2 u3 u4 u5 u6 u7 u8", "en", "src1"),
      (30L, "u1 u2 u3 u4 u5 u6 u7 u8", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.ddIncrementalFuzzyDelete(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val zh = rows("zh")
    assert(zh.getAs[Long]("n_base") == 2 && zh.getAs[Long]("n_dead") == 1)
    assert(zh.getAs[Boolean]("compacted"), "zh at 50% live must compact")
    assert(zh.getAs[Long]("n_dropped_vs_base") == 1, "doc 10 vs live doc 2")
    assert(zh.getAs[Long]("n_admitted") == 1 && zh.getAs[Long]("n_rescued") == 1,
      "doc 5's only partner (doc 1) is deleted - it must be admitted")
    assert(zh.getAs[Long]("first_admitted") == 5L)
    val en = rows("en")
    assert(en.getAs[Long]("n_base") == 4 && en.getAs[Long]("n_dead") == 1)
    assert(!en.getAs[Boolean]("compacted"), "en at 75% live must NOT compact")
    assert(en.getAs[Long]("n_dropped_vs_base") == 1, "doc 20 vs live doc 4")
    assert(en.getAs[Long]("n_dropped_in_delta") == 1, "doc 30 keep-first behind 25")
    assert(en.getAs[Long]("n_admitted") == 2 && en.getAs[Long]("n_rescued") == 1,
      "doc 15's only partner (doc 3) is deleted - rescued; doc 25 plain-admitted")
    assert(en.getAs[Long]("first_admitted") == 15L)
  }

  test("fuzzy delete: overlay holds only live compacted-lang rows; standing tables untouched") {
    Text.ddIncrementalFuzzyDelete(spark, sf001).collect() // ensure builds
    val tombs = spark.table("graft_fuzzy_tomb")
    val overlay = spark.table("graft_fuzzy_bands_del")
    // the overlay is exactly the compacted languages' live rows
    assert(overlay.select("lang").distinct().collect().map(_.getString(0)).toSet
      == Set("zh"), "only zh crosses the 75% live threshold at sf0.01")
    assert(overlay.join(tombs.select("doc_id"), Seq("doc_id"), "left_semi")
      .count() == 0, "no tombstoned doc may appear in the overlay")
    // the SHARED standing tables still hold every tombstoned doc - the
    // delete must never mutate them (other queries' semantics depend on
    // the full corpus)
    val deadInStanding = spark.table("graft_fuzzy_bands_bq")
      .join(tombs.select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id").distinct().count()
    assert(deadInStanding == tombs.count(),
      "standing band table must still hold all tombstoned docs")
  }

  test("dd_substring: run length, span and coverage hand-computed on a planted corpus") {
    // width 8. doc 0 and doc 1 share the 9-token span "a..i": doc 0 has
    // dup positions {0,1} (one run of 2 -> span 2+7=9, coverage 8+1=9),
    // doc 1 has {1,2} (same). doc 2 repeats its own 8-token prefix at
    // the end: dup positions {0,8}, two runs of 1 (span 8), gap 8 means
    // both spans contribute fully (coverage 16). doc 3 is unique filler
    // with exactly one position.
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ddsub").toString
    Seq(
      (0L, "a b c d e f g h i j", "en", "src1"),
      (1L, "x a b c d e f g h i y", "en", "src1"),
      (2L, "p q r s t u v w p q r s t u v w", "en", "src1"),
      (3L, "f1 f2 f3 f4 f5 f6 f7 f8", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Text.ddSubstring(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_pos"), x.getAs[Long]("n_dup_pos"),
          x.getAs[Long]("max_dup_span_tokens"),
          x.getAs[Long]("dup_covered_tokens"))).toMap
    assert(r(0L) == ((3L, 2L, 9L, 9L)))
    assert(r(1L) == ((4L, 2L, 9L, 9L)))
    assert(r(2L) == ((9L, 2L, 8L, 16L)))
    assert(r(3L) == ((1L, 0L, 0L, 0L)))
  }

  test("dd_substring_cut: keep-first rewrite hand-computed on the planted corpus") {
    // Same corpus as the dd_substring pin. Keep-first by (doc_id, pos):
    // doc 0 owns the first occurrence of both shared spans, so it loses
    // NOTHING; doc 1's positions {1,2} are removable -> covered token
    // indexes 1..9 -> rebuilt "x y"; doc 2's repeated prefix at pos 8 is
    // removable -> covered 8..15 -> rebuilt "p q r s t u v w"; doc 3
    // untouched. tokens_cut = 9 + 8 = 17 of 45.
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ddcut").toString
    Seq(
      (0L, "a b c d e f g h i j", "en", "src1"),
      (1L, "x a b c d e f g h i y", "en", "src1"),
      (2L, "p q r s t u v w p q r s t u v w", "en", "src1"),
      (3L, "f1 f2 f3 f4 f5 f6 f7 f8", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.ddSubstringCut(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_docs") == 4)
    assert(r.getAs[Long]("n_docs_cut") == 2, "docs 1 and 2 lose spans; 0 and 3 do not")
    assert(r.getAs[Long]("tokens_in") == 45)
    assert(r.getAs[Long]("tokens_cut") == 17)
    val expected = Seq(
      "a b c d e f g h i j",
      "x y",
      "p q r s t u v w",
      "f1 f2 f3 f4 f5 f6 f7 f8")
      .toDF("red")
      .withColumn("hd", expr("md5(cast(red AS BINARY))"))
      .agg(expr(
        """bit_xor((CASE WHEN CAST(conv(substring(hd, 1, 8), 16, 10) AS BIGINT) >= 2147483648
          |  THEN CAST(conv(substring(hd, 1, 8), 16, 10) AS BIGINT) - 4294967296
          |  ELSE CAST(conv(substring(hd, 1, 8), 16, 10) AS BIGINT) END) * 4294967296
          |  + CAST(conv(substring(hd, 9, 8), 16, 10) AS BIGINT))""".stripMargin))
      .collect().head.getLong(0)
    assert(r.getAs[Long]("rebuilt_xor") == expected,
      "the rebuilt texts must be byte-identical to the hand cut")
  }

  test("dd_substring_cut conserves tokens against dd_substring's coverage") {
    // the cut and the measurement share the dup-span definition: every
    // document's token count minus what the cut removes must stay
    // consistent with the measured corpus totals (the cut removes AT
    // MOST the measured union coverage, because the keep-first occurrence
    // of each span is retained)
    val cut = Text.ddSubstringCut(spark, sf001)
      .agg(sum("tokens_in").as("in"), sum("tokens_cut").as("cut"))
      .collect().head
    val measured = Text.ddSubstring(spark, sf001)
      .agg(sum("dup_covered_tokens").as("cov")).collect().head
    assert(cut.getAs[Long]("cut") > 0, "planted dups must be cut")
    assert(cut.getAs[Long]("cut") <= measured.getAs[Long]("cov"),
      "cut tokens cannot exceed the measured dup coverage")
    assert(cut.getAs[Long]("cut") < cut.getAs[Long]("in"))
  }

  test("pipeline_scrub_cut composes the standalone scrub and cut consistently") {
    val pipe = Text.pipelineScrubCut(spark, sf001).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val scrub = Text.txPiiRedact(spark, sf001).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_docs_with_pii"))
      .toMap
    assert(pipe.nonEmpty && pipe.keySet == scrub.keySet)
    pipe.foreach { case (lang, r) =>
      assert(r.getAs[Long]("n_docs_scrubbed") == scrub(lang),
        s"$lang: composed scrub count must equal the standalone operator")
      // the scrub appends tokens to carved docs, so the cut stage sees
      // AT LEAST the raw corpus's tokens
      assert(r.getAs[Long]("tokens_in") > 0 &&
        r.getAs[Long]("tokens_cut") < r.getAs[Long]("tokens_in"))
    }
    // scrubbed-token accounting: tokens_in equals the scrubbed corpus's
    // exact whitespace-token total per language
    val scrubbedToks = Text.piiScrub(Tables(spark, sf001, "documents"))
      .select(col("lang"), expr("size(split(red, ' '))").as("n"))
      .groupBy("lang").agg(sum("n").as("n")).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n")).toMap
    pipe.foreach { case (lang, r) =>
      assert(r.getAs[Long]("tokens_in") == scrubbedToks(lang),
        s"$lang: cut-stage input tokens must equal the scrubbed corpus")
    }
  }

  test("dd_substring finds spans on the natural corpus; coverage bounds hold") {
    val rows = Text.ddSubstring(spark, sf001).collect()
    assert(rows.exists(_.getAs[Long]("n_dup_pos") > 0),
      "the corpus plants near-duplicate docs - spans must be found")
    rows.foreach { r =>
      val (nPos, nDup) = (r.getAs[Long]("n_pos"), r.getAs[Long]("n_dup_pos"))
      val (span, cov) = (r.getAs[Long]("max_dup_span_tokens"),
        r.getAs[Long]("dup_covered_tokens"))
      assert(nDup <= nPos)
      // a doc with D dup positions covers between max(span, D) and D*width
      // tokens; the longest span is at most the doc's token count
      if (nDup == 0) assert(span == 0 && cov == 0)
      else {
        assert(span >= 8 && cov >= span, r.toString)
        assert(cov <= nDup * 8, r.toString)
        assert(span <= nPos + 7, r.toString)
      }
    }
  }

  test("tx_pii_redact: planted PII is counted per kind and redacted byte-exactly") {
    // doc 0 hits all three moduli (email+phone+ip), doc 35 hits %5 and
    // %7 (email+phone), doc 3 hits none. The expected redacted strings
    // are written out literally and folded through the same 64-bit
    // convention - so this pins detection, replacement text and the
    // audit fold in one shot.
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pii").toString
    Seq(
      (0L, "w1 w2", "en", "src1"),
      (3L, "w3 w4", "en", "src1"),
      (35L, "w5 w6", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.txPiiRedact(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_docs") == 3)
    assert(r.getAs[Long]("n_docs_with_pii") == 2)
    assert(r.getAs[Long]("n_emails") == 2)
    assert(r.getAs[Long]("n_phones") == 2)
    assert(r.getAs[Long]("n_ips") == 1)
    val expected = Seq(
      "w1 w2 contact <EMAIL> call <PHONE> now from <IP>",
      "w3 w4",
      "w5 w6 contact <EMAIL> call <PHONE> now")
      .toDF("red")
      .withColumn("hd", expr("md5(cast(red AS BINARY))"))
      .agg(expr(
        """bit_xor((CASE WHEN CAST(conv(substring(hd, 1, 8), 16, 10) AS BIGINT) >= 2147483648
          |  THEN CAST(conv(substring(hd, 1, 8), 16, 10) AS BIGINT) - 4294967296
          |  ELSE CAST(conv(substring(hd, 1, 8), 16, 10) AS BIGINT) END) * 4294967296
          |  + CAST(conv(substring(hd, 9, 8), 16, 10) AS BIGINT))""".stripMargin))
      .collect().head.getLong(0)
    assert(r.getAs[Long]("redacted_xor") == expected)
  }

  test("tx_pii_redact on the natural corpus: every planted modulus fires") {
    val rows = Text.txPiiRedact(spark, sf001)
    val t = rows.agg(sum("n_docs").as("n"), sum("n_emails").as("e"),
      sum("n_phones").as("p"), sum("n_ips").as("i")).collect().head
    val docs = Tables(spark, sf001, "documents")
    assert(t.getAs[Long]("e") == docs.filter(col("doc_id") % 5 === 0).count())
    assert(t.getAs[Long]("p") == docs.filter(col("doc_id") % 7 === 0).count())
    assert(t.getAs[Long]("i") == docs.filter(col("doc_id") % 11 === 0).count())
  }

  test("tx_weighted_sample: driver-recomputed priorities and weight bias") {
    val sample = Text.txWeightedSample(spark, sf001).collect()
    assert(sample.length == Text.WeightedSampleN)
    // independent recompute: JDK MessageDigest md5, 15-hex-char fold,
    // floor division by the whitespace token count — the whole selection
    // re-derived outside Spark and DuckDB
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(id: Long): Long = {
      val hex = md.digest(s"${Text.WeightedSampleSeed}:$id"
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val corpus = Tables(spark, sf001, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = corpus.map { case (id, w) => (h60(id) / w, id, w) }
      .sorted.take(Text.WeightedSampleN)
    assert(sample.map(_.getAs[Long]("doc_id")).toSeq ==
      expected.map(_._2).toSeq, "selection or order drifted from the formula")
    assert(sample.map(_.getAs[Long]("priority")).toSeq ==
      expected.map(_._1).toSeq)
    // the point of weighting: heavier (longer) docs are over-selected
    val meanSel = expected.map(_._3).sum.toDouble / expected.length
    val meanAll = corpus.map(_._2).sum.toDouble / corpus.length
    assert(meanSel > meanAll * 1.1,
      s"selected mean weight $meanSel must exceed corpus mean $meanAll")
  }

  test("dd_containment: embedded copy caught by containment, missed by jaccard") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-contain").toString
    // offline-modeled with the exact md5 minhash-band rule (the
    // ClusterRepSpec discipline): A = core0..core9; B = A ++
    // pad565_0..pad565_29 — band 1 collides (verified, not hoped for),
    // inter = 8 = |A|'s shingles, |B| = 38 → jaccard 8/38 ≈ 0.21 < 0.5
    // but containment 8/8 = 1.0: the embedded-copy signature
    val a = (0 until 10).map(i => s"core$i").mkString(" ")
    val b = a + " " + (0 until 30).map(i => s"pad565_$i").mkString(" ")
    Seq(
      (1L, a, "en", "src0"),
      (2L, b, "en", "src0"),
      // an identical pair: jaccard-flagged, NOT containment-only
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8", "en", "src0"),
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Text.ddContainment(spark, dir).collect()
    assert(r.length == 1)
    val en = r.head
    assert(en.getAs[Long]("n_candidate_pairs") == 2L, s"$en")
    assert(en.getAs[Long]("n_jaccard_dups") == 1L, s"$en")
    assert(en.getAs[Long]("n_containment_only") == 1L,
      s"the embedded copy must be a containment-only catch: $en")
    assert(en.getAs[Double]("max_containment") == 1.0)
  }

  test("tx_chunk_overlap: stride boundaries, contained-tail drop, conservation") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-chunk").toString
    def doc(n: Int) = (0 until n).map(i => s"t$i").mkString(" ")
    Seq(
      (1L, doc(10), "en", "s"),   // 1 short chunk (len 10)
      (2L, doc(70), "en", "s"),   // starts 0 (64) + 48 (22)
      (3L, doc(49), "en", "s"),   // start 48 DROPPED: n-48 = 1 <= 16 (contained)
      (4L, doc(65), "en", "s"),   // start 48 kept: n-48 = 17 > 16
      (5L, doc(160), "de", "s"))  // starts 0, 48, 96 (64) + 144 (16 <= 16 dropped)
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.txChunkOverlap(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val en = out("en")
    // en: doc1 1 chunk/10 tok; doc2 2 chunks/86; doc3 1 chunk/49; doc4 2 chunks/81
    assert(en.getAs[Long]("n_docs") == 4L)
    assert(en.getAs[Long]("n_chunks") == 6L, s"$en")
    assert(en.getAs[Long]("total_chunk_tokens") == 10L + 86L + 49L + 81L)
    assert(en.getAs[Long]("overlap_tokens") ==
      en.getAs[Long]("total_chunk_tokens") - (10L + 70L + 49L + 65L))
    assert(en.getAs[Long]("max_chunks_per_doc") == 2L)
    // de: 160 tokens -> starts 0/48/96 all len 64 (start 144 contained)
    val de = out("de")
    assert(de.getAs[Long]("n_chunks") == 3L, s"$de")
    assert(de.getAs[Long]("total_chunk_tokens") == 192L)
    assert(de.getAs[Long]("overlap_tokens") == 32L)
  }

  test("tx_boilerplate: per-source header fires, cross-source copy does not") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-boiler").toString
    val header = (1 to 20).map(i => s"h$i").mkString(" ")
    def body(tag: String) = (1 to 20).map(i => s"$tag$i").mkString(" ")
    Seq(
      (1L, s"$header ${body("a")}", "en", "srcA"),
      (2L, s"$header ${body("b")}", "en", "srcA"),
      (3L, s"$header ${body("c")}", "en", "srcA"),
      // the SAME header in another source: df within srcB is 1 — the
      // per-source rule must not strip it (that's contamination's job)
      (4L, s"$header ${body("d")}", "en", "srcB"),
      (5L, s"${body("e")} ${body("f")}", "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.txBoilerplate(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L),
      s"exactly the srcA header docs strip: ${rows.toSeq}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_paras") == 2L &&
        r.getAs[Long]("n_boiler_paras") == 1L &&
        r.getAs[Long]("n_tokens_kept") == 20L &&
        r.getAs[Long]("n_tokens_stripped") == 20L, s"strip accounting: $r")
    }
  }

  test("ddLineage: keep-first keeps originals, both fan widths occur, XOR identifies members") {
    val dir = "/root/testdata/sf0.01"
    val rows = Text.ddLineage(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_doc_id") < Text.lineageRecrawlBase,
        s"a planted replica was kept over its original: $r")
      assert(r.getAs[String]("sources").split(",").length >=
        r.getAs[Long]("n_sources").toInt - 0,
        s"source list shorter than its count: $r")
    }
    val bySize = rows.groupBy(_.getAs[Long]("n_merged"))
    assert(bySize.contains(2L) && bySize.contains(3L),
      "both planted cluster sizes (recrawl-only and recrawl+mirror) must occur")
    // a recrawl-only cluster (doc % 3 = 1, doc % 6 != 1): members are
    // exactly {id, id + recrawlBase}, so the XOR is their fold and the
    // source fan is {orig, recrawl}
    val duo = rows.find(r => r.getAs[Long]("n_merged") == 2 &&
      r.getAs[Long]("keep_doc_id") % Text.lineageMirrorMod !=
        Text.lineageReplicaRem).get
    val id = duo.getAs[Long]("keep_doc_id")
    assert(duo.getAs[Long]("merged_id_xor") ==
      (id ^ (id + Text.lineageRecrawlBase)), s"XOR mismatch: $duo")
    assert(duo.getAs[Long]("n_sources") == 2 &&
      duo.getAs[String]("sources").contains("recrawl"))
    val trio = rows.find(_.getAs[Long]("n_merged") == 3).get
    assert(trio.getAs[Long]("n_sources") == 3 &&
      trio.getAs[String]("sources").contains("mirror"), s"trio fan: $trio")
  }

  test("txCdcChunks: content-defined boundaries re-synchronize after the planted edit; the fixed grid does not") {
    val rows = Text.txCdcChunks(spark, "/root/testdata/sf0.01").collect()
    val byMode = rows.groupBy(_.getAs[String]("mode"))
    assert(byMode.keySet == Set("cdc", "fixed"))
    assert(byMode("cdc").map(_.getAs[String]("lang")).sorted.toSeq ==
      byMode("fixed").map(_.getAs[String]("lang")).sorted.toSeq)
    def total(m: String, c: String) = byMode(m).map(_.getAs[Long](c)).sum
    // every lang: the anchor rule finds strictly more duplicate chunks
    // than the shifted grid (the whole point of content-defined cuts)
    val fixedByLang = byMode("fixed")
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("dup_occurrences"))
      .toMap
    byMode("cdc").foreach { r =>
      assert(r.getAs[Long]("dup_occurrences") >
        fixedByLang(r.getAs[String]("lang")),
        s"cdc must out-dedup the grid for ${r.getAs[String]("lang")}")
    }
    // corpus-wide, the gap is structural, not marginal (measured ~10x at
    // sf0.01; pin a conservative 3x)
    assert(total("cdc", "reclaim_tokens") > 3 * total("fixed", "reclaim_tokens"),
      s"cdc ${total("cdc", "reclaim_tokens")} vs fixed ${total("fixed", "reclaim_tokens")}")
    rows.foreach { r =>
      assert((r.getAs[Long]("reclaim_tokens") == 0) ==
        (r.getAs[Long]("dup_occurrences") == 0), s"reclaim accounting: $r")
      assert(r.getAs[Long]("n_chunks") - r.getAs[Long]("n_distinct_chunks")
        == r.getAs[Long]("dup_occurrences"), s"occurrence arithmetic: $r")
    }
  }

  test("ddEditDistance: every planted one-char typo pair is recovered; pairs are bounded and canonical") {
    val dir = "/root/testdata/sf0.01"
    val rows = Text.ddEditDistance(spark, dir).collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSeq
    assert(pairs.distinct.size == pairs.size, "duplicate candidate pairs served")
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"),
        "pairs must be canonical (a < b)")
      assert(r.getAs[Long]("dist") <= Text.edMaxDist)
    }
    // recall on the planted class: every doc_id % 7 = 5 original whose
    // typo'd position wasn't already 'Z' must pair with its replica at
    // distance 1 — character-q-gram banding survives an ed-1 edit here
    val planted = Tables(spark, dir, "documents")
      .filter(col("doc_id") % Text.edTypoMod === Text.edTypoRem)
      .selectExpr("doc_id", s"substring(text, ${Text.edTypoPos}, 1) AS c")
      .collect().filter(_.getString(1) != "Z").map(_.getLong(0))
    assert(planted.nonEmpty)
    val found = rows.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("dist"))).toSet
    planted.foreach { id =>
      assert(found((id, id + Text.edTypoBase, 1L)),
        s"planted typo pair for doc $id not recovered at distance 1")
    }
  }

  test("ddEditDistance: thresholded verification ≡ unbounded levenshtein (r17-opt)") {
    val dir = sf001
    // the banded form's contract: exact distance at ≤ k, -1 above k
    val s = spark.sql(
      "SELECT levenshtein('kitten','kitten',2), levenshtein('kitten','sitten',2), " +
        "levenshtein('kitten','sitting',2), levenshtein('kitten','sitting')")
      .collect()(0)
    assert(s.getInt(0) == 0 && s.getInt(1) == 1 && s.getInt(2) == -1 &&
      s.getInt(3) == 3)
    // every served distance equals the unbounded recompute on the texts
    val d0 = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val typo = d0.filter(col("doc_id") % Text.edTypoMod === Text.edTypoRem)
      .select((col("doc_id") + Text.edTypoBase).as("doc_id"),
        concat(substring(col("text"), 1, Text.edTypoPos - 1), lit("Z"),
          expr(s"substring(text, ${Text.edTypoPos + 1})")).as("text"))
    val all = d0.unionByName(typo)
    val mismatched = Text.ddEditDistance(spark, dir)
      .join(all.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(all.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .withColumn("full", levenshtein(col("ta"), col("tb")))
      .filter(col("full") =!= col("dist")).count()
    assert(mismatched == 0, "thresholded distance drifted from the unbounded form")
  }

  test("txKAnonymity: histograms tile the corpus; generalization measurably helps") {
    val dir = "/root/testdata/sf0.01"
    val rows = Text.txKAnonymity(spark, dir).collect()
    val byLevel = rows.groupBy(_.getAs[String]("level"))
    assert(byLevel.keySet == Set("fine", "coarse"))
    val n = Tables(spark, dir, "documents").count()
    byLevel.foreach { case (lvl, hs) =>
      assert(hs.map(_.getAs[Long]("n_rows")).sum == n,
        s"$lvl histogram does not tile the corpus")
      hs.foreach(r => assert(r.getAs[Boolean]("violates_k") ==
        (r.getAs[Long]("cls_size") < Text.kAnonK)))
    }
    def violatingRows(lvl: String) = byLevel(lvl)
      .filter(_.getAs[Boolean]("violates_k")).map(_.getAs[Long]("n_rows")).sum
    def anonymityNumber(lvl: String) =
      byLevel(lvl).map(_.getAs[Long]("cls_size")).min
    // the audit must have something to report at the fine level, and the
    // generalization step must strictly improve both metrics
    assert(violatingRows("fine") > 0, "fine level found no violations")
    assert(violatingRows("coarse") < violatingRows("fine"),
      s"generalization did not reduce violating rows: " +
        s"${violatingRows("coarse")} vs ${violatingRows("fine")}")
    assert(anonymityNumber("coarse") >= anonymityNumber("fine"),
      "generalization lowered the anonymity number")
  }

  test("txSemanticSplit: chunks tile the unit grid; the threshold both cuts and merges") {
    val dir = "/root/testdata/sf0.01"
    val rows = Text.txSemanticSplit(spark, dir).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    // every doc's unit grid is exactly covered, in order, no overlap
    val unitCounts = Tables(spark, dir, "documents")
      .selectExpr("doc_id",
        s"(size(split(text, ' ')) - 1) div ${Text.semUnitTokens} + 1 AS nu")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("nu")).toMap
    byDoc.foreach { case (id, segs) =>
      val sorted = segs.sortBy(_.getAs[Long]("seg_idx"))
      assert(sorted.head.getAs[Int]("start_unit") == 0)
      assert(sorted.last.getAs[Int]("end_unit") == unitCounts(id) - 1,
        s"doc $id: last segment does not reach the final unit")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getAs[Int]("start_unit") ==
          a.getAs[Int]("end_unit") + 1, s"doc $id: gap between segments")
        case _ =>
      }
      assert(sorted.map(_.getAs[Long]("n_units")).sum == unitCounts(id))
    }
    // the measured-distribution threshold must exercise BOTH branches
    assert(rows.exists(_.getAs[Long]("n_units") >= 2),
      "no unit pair ever merged — threshold too high")
    assert(byDoc.exists(_._2.length >= 2),
      "no document ever split — threshold too low")
  }
}
