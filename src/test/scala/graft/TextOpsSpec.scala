package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps
import graft.functions.{TextFunctions, TextHashing}

class TextOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("dedupClusters: components resolve to min-id reps across topologies") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs multiple propagation rounds),
    // triangle 10-11-12, pair 20-21, singletons 30 and 31
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 30L, 31L)
      .toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("a_id", "b_id")
    val got = TextOps.dedupClusters(vertices, pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 31L))
    // maxIters caps adversarial chains (distributed loop only — the
    // broadcast fast path always fully resolves): one round = neighbor
    // hop + pointer jump, so the chain's far end moves TWO hops
    // (4 -> rep 2, not yet 1) — pins both the cap and the path-halving
    spark.conf.set(TextOps.CcBroadcastEdgesConf, "0")
    val capped = try TextOps.dedupClusters(vertices, pairs, maxIters = 1)
      .filter(col("doc_id") === 4L).head().getLong(1)
    finally spark.conf.unset(TextOps.CcBroadcastEdgesConf)
    assert(capped == 2L, s"one round moves two hops, got $capped")
  }

  test("dedupClusters releases each round's checkpoint blocks (r7 VERDICT #2)") {
    import spark.implicits._
    // a 64-chain needs ~log2(63) pointer-jumping rounds; without the
    // unpersist chain each round would pin 2 more |V|-sized localCheckpoint
    // RDDs, so persistent-RDD count would grow by ~2 per round
    val n = 64L
    val vertices = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val before = spark.sparkContext.getPersistentRDDs.size
    spark.conf.set(TextOps.CcBroadcastEdgesConf, "0") // pin the LOOP's hygiene
    val out = try {
      val o = TextOps.dedupClusters(vertices, pairs)
      assert(o.filter(col("cluster_rep") === 1L).count() == n)
      o
    } finally spark.conf.unset(TextOps.CcBroadcastEdgesConf)
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the FINAL label snapshot (the returned DataFrame's backing
    // checkpoint) may remain pinned
    assert(after - before <= 1,
      s"checkpoint leak: persistent RDDs grew $before -> $after")
  }

  test("lshCandidatePairs releases the signature cache (r7 VERDICT #3)") {
    val sigs = TextOps.withMinhash(TextOps.withShingles(spark, sf))
      .select("doc_id", "minhash")
    val before = spark.sparkContext.getPersistentRDDs.size
    val pairs = TextOps.lshCandidatePairs(sigs)
    assert(pairs.count() > 0)
    // the signature cache is dropped by a one-shot listener AFTER the
    // consuming action completes — delivery is async on the listener
    // bus, so poll briefly before declaring a leak
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var after = spark.sparkContext.getPersistentRDDs.size
    while (after - before > 0 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      after = spark.sparkContext.getPersistentRDDs.size
    }
    assert(after - before <= 0,
      s"sigs cache leak: persistent RDDs grew $before -> $after")
  }

  test("nearDupSurvivors keeps one representative per cluster, all " +
      "columns intact") {
    import spark.implicits._
    // docs 1/2/3 are near-identical (pairwise jaccard > 0.8), 4 shares
    // only a couple words (below threshold), 5 is unrelated; 6 matches
    // 1-3 textually but sits in another source partition
    val corpus = Seq(
      (1L, "web", "alpha beta gamma delta epsilon zeta eta theta iota kappa", 10),
      (2L, "web", "alpha beta gamma delta epsilon zeta eta theta iota kappa", 10),
      (3L, "web", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda", 11),
      (4L, "web", "alpha beta completely different words here now okay", 8),
      (5L, "web", "unrelated content entirely separate vocabulary", 6),
      (6L, "books", "alpha beta gamma delta epsilon zeta eta theta iota kappa", 10))
      .toDF("doc_id", "source", "text", "extra")
    val got = TextOps.nearDupSurvivors(corpus)
    assert(got.columns.toSeq == corpus.columns.toSeq,
      "survivor rows must carry the original corpus columns")
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 4L, 5L, 6L))
    // a stricter threshold splits 3 (jaccard 10/11 ~ 0.909 vs 1) out
    val strict = TextOps.nearDupSurvivors(corpus, threshold = 0.95)
    assert(strict.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L, 6L))
  }

  test("minhash signature estimates jaccard within tolerance") {
    val sigs = TextOps.withMinhash(TextOps.withShingles(spark, sf))
      .select("doc_id", "shingles", "minhash")
    val a = sigs.select(col("doc_id").as("a_id"), col("shingles").as("sha"),
      col("minhash").as("sig_a"))
    val b = sigs.select(col("doc_id").as("b_id"), col("shingles").as("shb"),
      col("minhash").as("sig_b"))
    // sample pairs: consecutive ids
    val pairs = a.join(b, col("b_id") === col("a_id") + 1)
      .withColumn("est", expr(
        "aggregate(zip_with(sig_a, sig_b, (x,y) -> IF(x=y,1,0)), 0, (a,v) -> a+v)")
        .cast("double") / 64.0)
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("exact", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .select("est", "exact").collect()
    assert(pairs.nonEmpty)
    val mae = pairs.map(r => math.abs(r.getDouble(0) - r.getDouble(1))).sum / pairs.length
    // 64 permutations -> stderr ~ sqrt(j(1-j)/64) <= 0.0625; MAE well under 0.1
    assert(mae < 0.12, s"minhash MAE too high: $mae")
  }

  test("simhash: identical texts collide, distinct texts mostly differ") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely unrelated content here")
    ).toDF("doc_id", "text").withColumn("toks",
      expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
    val hs = TextOps.simhash(df).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(hs(1L) == hs(2L))
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(3L)) > 10)
  }

  test("fused simhash64 expression is bit-identical to the explode + " +
      "64-conditional-sums SQL formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (0L until 200L).map(i =>
        (i, Seq.fill(1 + rnd.nextInt(60))("w" + rnd.nextInt(300)).mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("toks", expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
    // the pre-round-4 formulation, verbatim
    val tokens = df.select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = tokens.groupBy("doc_id").agg(
      expr("count(*)").as("n_toks"),
      (0 until 64).map(i =>
        sum(expr(s"IF((shiftright(h, $i) & 1) = 1, 1, -1)")).as(s"b$i")): _*)
    val hashCol = (0 until 64).map(i =>
      expr(s"IF(b$i > 0, shiftleft(CAST(1 AS BIGINT), $i), CAST(0 AS BIGINT))"))
      .reduce(_ bitwiseOR _)
    val expected = bitSums.select(col("doc_id"), hashCol.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val actual = TextOps.simhash(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(actual == expected)
  }

  test("fused minhash64 expression is bit-identical to the transform + " +
      "per-permutation array_min SQL formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0L until 150L).map(i =>
      (i, Seq.fill(rnd.nextInt(40))("s" + rnd.nextInt(500)))) :+
      (997L, Seq.empty[String]) :+          // empty -> all-null signature
      (998L, Seq("only-one-shingle")) :+
      (999L, Seq("dup", "dup", "other"))
    val df = rows.toDF("doc_id", "shingles")
    val perms = 64
    // the pre-r18 formulation, verbatim
    val expected = df
      .withColumn("shingle_hashes", expr("transform(shingles, s -> xxhash64(s))"))
      .withColumn("minhash", array((0 until perms).map(k =>
        expr(s"array_min(transform(shingle_hashes, h -> xxhash64($k, h)))")): _*))
      .select("doc_id", "minhash")
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val actual = TextOps.withMinhash(df, perms)
      .select("doc_id", "minhash")
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(actual == expected)
    assert(actual(997L).forall(_ == null),
      "empty shingle array must yield an all-null signature")
  }

  test("fused sig_agree expression is bit-identical to the " +
      "aggregate(zip_with(...)) SQL formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def sig(n: Int): Seq[java.lang.Long] =
      Seq.fill(n)(java.lang.Long.valueOf(rnd.nextInt(4).toLong))
    val rows: Seq[(Long, Seq[java.lang.Long], Seq[java.lang.Long])] =
      (0L until 100L).map(i => (i, sig(64), sig(64))) :+
        // all-null signatures (empty shingle set) agree nowhere
        (900L, Seq.fill(64)(null: java.lang.Long), sig(64)) :+
        (901L, Seq.fill(64)(null: java.lang.Long),
          Seq.fill(64)(null: java.lang.Long)) :+
        // length mismatch: zip_with pads with NULLs -> extra tail never counts
        (902L, sig(10), sig(64)) :+
        (903L, Seq.empty[java.lang.Long], sig(64))
    val df = rows.toDF("id", "sig_a", "sig_b")
    // the pre-r19 formulation, verbatim
    val expected = df.select(col("id"),
        expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), " +
          "0, (acc, v) -> acc + v)").as("agree"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val actual = df.select(col("id"),
        graft.functions.TextFunctions.sig_agree(col("sig_a"), col("sig_b"))
          .as("agree"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(actual == expected)
    assert(actual(900L) == 0 && actual(901L) == 0)
    // NULL input array: both formulations yield NULL
    val nullRow = df.limit(1)
      .select(lit(null).cast("array<bigint>").as("sig_a"), col("sig_b"))
    assert(nullRow.select(
        graft.functions.TextFunctions.sig_agree(col("sig_a"), col("sig_b")))
      .collect().head.isNullAt(0))
    assert(nullRow.select(
        expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), " +
          "0, (acc, v) -> acc + v)"))
      .collect().head.isNullAt(0))
  }

  test("lsh finds the planted near-duplicate pair") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val nearDup = base.replace("delta", "delto")
    val rnd = new scala.util.Random(7)
    val noise = (0 until 50).map(i =>
      (100L + i, Seq.fill(40)("w" + rnd.nextInt(5000)).mkString(" ")))
    val df = ((1L, base) +: (2L, nearDup) +: noise).toDF("doc_id", "text")
      .withColumn("toks", expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
      .withColumn("shingles", expr(
        """array_distinct(CASE WHEN size(toks) >= 3
          |  THEN transform(sequence(0, size(toks) - 3),
          |       i -> concat(element_at(toks, i+1), ' ',
          |                   element_at(toks, i+2), ' ',
          |                   element_at(toks, i+3)))
          |  ELSE array(array_join(toks, ' ')) END)""".stripMargin))
    val pairs = TextOps.lshCandidatePairs(
      TextOps.withMinhash(df).select("doc_id", "minhash"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"planted pair not found in $pairs")
  }

  test("poly_hash64 / winnow_fingerprint: determinism and sensitivity") {
    assert(TextHashing.polyHash64("abc".getBytes) ==
      TextHashing.polyHash64("abc".getBytes))
    assert(TextHashing.polyHash64("abc".getBytes) !=
      TextHashing.polyHash64("abd".getBytes))
    // winnow: stable when text is extended by less-minimal content
    val doc = "the quick brown fox jumps over the lazy dog, again and again"
    val fp1 = TextHashing.winnow(doc.getBytes, 16)
    assert(fp1 == TextHashing.winnow(doc.getBytes, 16))
    // codegen path agrees with the interpreted implementation
    import spark.implicits._
    val df = Seq((1L, doc)).toDF("id", "text")
    val viaExpr = df.select(
      TextFunctions.poly_hash64(col("text")).as("h"),
      TextFunctions.winnow_fingerprint(col("text"), 16).as("w")).head()
    assert(viaExpr.getLong(0) == TextHashing.polyHash64(doc.getBytes))
    assert(viaExpr.getLong(1) == fp1)
  }

  test("sql registration works for custom expressions") {
    TextFunctions.register(spark)
    val r = spark.sql("SELECT poly_hash64('x') AS h, winnow_fingerprint('abcdefgh', 4) AS w").head()
    assert(r.getLong(0) == TextHashing.polyHash64("x".getBytes))
    assert(r.getLong(1) == TextHashing.winnow("abcdefgh".getBytes, 4))
  }

  test("jaccard df-cap: a token planted in 50% of docs is excluded from " +
      "pair generation (candidate collapse) without changing top-k") {
    import spark.implicits._
    // 240 docs = 120 planted near-dup pairs (2i, 2i+1) sharing 5 rare
    // tokens each; every EVEN doc also carries the ultra-common token, so
    // uncapped candidate generation materializes all C(120,2) even-even
    // pairs that share nothing else.
    val docs = (0 until 240).map { id =>
      val pair = id / 2
      val words = (0 until 5).map(j => s"p${pair}_$j") :+ s"u$id"
      val text = (if (id % 2 == 0) words :+ "common" else words).mkString(" ")
      (id.toLong, "s0", text)
    }.toDF("doc_id", "source", "text")
    val w = docs.select(col("doc_id"), col("source"),
      expr("array_distinct(filter(split(lower(text), '\\\\s+'), x -> x != ''))")
        .as("words"))

    val uncappedCand = TextOps.jaccardCandidates(w, dfCap = Int.MaxValue).count()
    val cappedCand = TextOps.jaccardCandidates(w, dfCap = 10).count()
    // "common" has df=120 > 10: the 7140 common-only pairs vanish and only
    // the 120 planted pairs survive — the quadratic term is gone.
    assert(cappedCand == 120L, s"capped candidates: $cappedCand")
    assert(uncappedCand == 120L + 120L * 119L / 2,
      s"uncapped candidates: $uncappedCand")

    // verification intersects FULL word sets, so the common token still
    // counts for surviving pairs and top-k is unchanged pair-for-pair.
    val top = TextOps.jaccardTopK(w, k = 100, dfCap = 10).collect()
    val topUncapped = TextOps.jaccardTopK(w, k = 100, dfCap = Int.MaxValue).collect()
    assert(top.toSeq == topUncapped.toSeq)
    assert(top.length == 100)
    // planted pairs: |inter|=5, |union|=8 -> 0.625 regardless of cap
    top.foreach(r => assert(r.getDouble(2) == 0.625, r.toString))
  }

  test("buildCorpus: every pipeline stage observable on planted docs") {
    import spark.implicits._
    // three unrelated base sentences + a 13-token eval sentence, so
    // each planted failure trips exactly ONE stage
    val a = "the quick brown fox jumps over a lazy dog near the river bank"
    val b = "one two three four five six seven eight nine ten eleven twelve"
    val c = "red orange yellow green blue indigo violet cyan magenta teal maroon navy"
    val e = "epsilon zeta eta theta iota kappa lambda mu nu xi omicron rho sigma"
    val rows = Seq(
      // survives everything (and carries PII to scrub)
      (1L, "web", "en", s"$a mail me a@b.com or https://x.y/z now"),
      (2L, "web", "de", a + " zwei"), // wrong language
      (3L, "web", "en", "too short"), // under minTokens
      (4L, "web", "en", "spam spam spam spam spam spam spam ok"), // dominated
      (5L, "web", "en", b + " alpha beta"), // near-dup pair: survivor
      (6L, "web", "en", b + " alpha gamma"), // near-dup pair: dropped
      (7L, "web", "en", e + " trailing tokens here"), // 13-gram eval overlap
      (8L, "web", "en", c + " wholly unrelated closing words")
    ).toDF("doc_id", "source", "lang", "text")
    val eval_ = Seq(("eval", e)).toDF("source", "text")
    val out = TextOps.buildCorpus(rows,
      langs = Set("en"), minTokens = 4, maxTopTokFrac = 0.5,
      nearDupThreshold = 0.7, evalSet = Some(eval_))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 5L, 8L),
      s"expected survivors {1,5,8}, got ${out.keySet}")
    // PII scrubbed in clean_text, original text untouched
    val c1 = out(1L).getAs[String]("clean_text")
    assert(c1.contains("<EMAIL>") && c1.contains("<URL>") &&
      !c1.contains("a@b.com"), c1)
    assert(out(1L).getAs[String]("text").contains("a@b.com"))
    // split assignment is present, valid, and content-deterministic
    assert(out.values.forall(r =>
      Set("train", "val", "test")(r.getAs[String]("split"))))
    val again = TextOps.buildCorpus(rows.repartition(7),
      langs = Set("en"), minTokens = 4, maxTopTokFrac = 0.5,
      nearDupThreshold = 0.7, evalSet = Some(eval_))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("split")).toMap
    assert(again == out.view.mapValues(_.getAs[String]("split")).toMap,
      "pipeline output must be partitioning-invariant")
  }

  test("dedupClusters: broadcast fast path and distributed loop agree") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, isolated 20; plus a second chain that
    // merges through a shared member
    val verts = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 21L))
      .toDF("a_id", "b_id")
    def run() = TextOps.dedupClusters(verts, pairs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fast = run()
    spark.conf.set(TextOps.CcBroadcastEdgesConf, "0")
    val dist = try run()
    finally spark.conf.unset(TextOps.CcBroadcastEdgesConf)
    assert(fast === dist)
    assert(fast === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 1L))
  }

  test("incrementalDedupRound dups: delta flags vs index + within-delta, min dup_of") {
    import spark.implicits._
    val txtA = "the quick brown fox jumps over the lazy dog again and again"
    val txtB = "colorless green ideas sleep furiously beneath crystal moons tonight"
    val txtC = "seven silver submarines circled quietly around distant volcanic islands"
    val txtD = "every good boy deserves fudge while playing saxophones downtown"
    val index = TextOps.minhashIndex(
      Seq((1L, txtA), (2L, txtB)).toDF("doc_id", "text"))
    val delta = Seq(
      (100L, txtA), // dup of indexed doc 1
      (200L, txtC), (201L, txtC), // within-delta pair: 201 dups 200
      (300L, txtD), // unique -> no row
      (400L, txtA)  // dups BOTH indexed 1 and delta 100 -> min old wins
    ).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.size
    val got = TextOps.incrementalDedupRound(delta, index).dups
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((100L, 1L, 1.0), (201L, 200L, 1.0), (400L, 1L, 1.0)),
      s"got $got")
    // every cache the round used is released before it returns
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 0,
      s"dedup round cache leak: persistent RDDs grew $before -> $after")
  }

  test("incrementalDedupRound: survivors fold into the index, the next " +
      "delta dedups against them") {
    import spark.implicits._
    val txtA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val txtB = "totally unrelated document text with different words here now"
    val txtC = "fresh new content first appearing on day one right here ok"
    val txtD = "entirely novel day two material nothing shared anywhere at all"
    val idx0 = TextOps.minhashIndex(
      Seq((1L, txtA), (2L, txtB)).toDF("doc_id", "text"))
    // day 1: one dup of the indexed corpus, one genuinely new doc
    val day1 = Seq((10L, txtA), (11L, txtC)).toDF("doc_id", "text")
    val r1 = TextOps.incrementalDedupRound(day1, idx0)
    assert(r1.dups.select("doc_id", "dup_of").as[(Long, Long)]
      .collect().toSet == Set(10L -> 1L))
    assert(r1.survivors.select("doc_id").as[Long].collect().toSet ==
      Set(11L))
    // ONLY the survivor joined the index — never the flagged dup
    assert(r1.updatedIndex.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 11L))
    // day 2: dup of the day-1 SURVIVOR (provable only via the refresh),
    // dup of the original corpus (canonical 1, not the dropped 10),
    // and one new doc
    val day2 = Seq((20L, txtC), (21L, txtA), (22L, txtD))
      .toDF("doc_id", "text")
    val r2 = TextOps.incrementalDedupRound(day2, r1.updatedIndex)
    assert(r2.dups.select("doc_id", "dup_of").as[(Long, Long)]
      .collect().toMap == Map(20L -> 11L, 21L -> 1L))
    assert(r2.survivors.select("doc_id").as[Long].collect().toSet ==
      Set(22L))
    assert(r2.updatedIndex.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 11L, 22L))
  }

  test("stratifiedSample: exact N per stratum, partitioning-invariant") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (s"s${i % 3}", i)).toDF("src", "id")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextOps.stratifiedSample(d, "src", "id", 7)
        .select("src", "rn", "id").orderBy("src", "rn")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    val a = run(df)
    assert(a.size === 21 && a.groupBy(_._1).forall(_._2.size == 7))
    // the salted first level must not change WHICH rows win
    assert(a === run(df.repartition(11)) && a === run(df.coalesce(1)))
    // n larger than a stratum returns the whole stratum
    val small = TextOps.stratifiedSample(
      Seq(("x", 1L), ("x", 2L)).toDF("src", "id"), "src", "id", 10)
    assert(small.count() === 2)
  }

  test("nbClassifier: hand-checked weights, planted signal, invariance") {
    import spark.implicits._
    // pos docs are all "good good x", neg are "bad bad x" — "good" and
    // "bad" are perfectly discriminative, "x" is neutral.
    val df = Seq(
      (1L, true, "good good x"), (2L, true, "good good x"),
      (3L, false, "bad bad x"), (4L, false, "bad bad x"))
      .toDF("doc_id", "y", "text")
    val out = TextOps.nbClassifier(df, df, col("y")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    // vocab = {good: (4,0), bad: (0,4), x: (2,2)}; tp = tn = 6, v = 3
    // w(good) = ln(5/9) - ln(1/9); w(bad) = -w(good); w(x) = 0; pr = 0
    val wGood = math.log(5.0 / 9) - math.log(1.0 / 9)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0) === ((1L, r4(2 * wGood), true)))
    assert(out(2) === ((3L, r4(-2 * wGood), false)))
    // same rounded logits under any partitioning
    val re = TextOps.nbClassifier(df.repartition(7), df.coalesce(1), col("y"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(re.toSeq === out.toSeq)
    // train/score can be different frames: unseen tokens fall back to
    // the Laplace-smoothed prior, ln((3+1)/(1+1)) = ln 2 for the 3:1
    // train imbalance
    val train = Seq((10L, true, "good"), (11L, true, "good"),
      (12L, true, "good"), (13L, false, "bad")).toDF("doc_id", "y", "text")
    val sc = TextOps.nbClassifier(train, Seq((20L, "zzz unseen"))
      .toDF("doc_id", "text"), col("y")).collect()
    assert(sc.length === 1 &&
      sc(0).getDouble(1) === r4(math.log(2.0)) && sc(0).getBoolean(2))
    // vocabSize=1 keeps only the most frequent token: "good" (3
    // instances) beats "bad" (1), so "bad" is out-of-vocab
    val capped = TextOps.nbClassifier(train,
      Seq((21L, "bad")).toDF("doc_id", "text"), col("y"), vocabSize = 1)
      .collect()
    // "bad" fell outside the capped vocab, so the doc scores the prior
    assert(capped(0).getDouble(1) === r4(math.log(2.0)))
    // ONE-CLASS weak labels (end-of-r8 ADVICE): an unsmoothed prior is
    // ln(0) = NULL and silently nulls every logit; smoothing keeps it
    // finite — all-positive 2-doc train gives pr = ln((2+1)/(0+1))
    val onePos = Seq((30L, true, "good stuff"), (31L, true, "good things"))
      .toDF("doc_id", "y", "text")
    val oneOut = TextOps.nbClassifier(onePos, Seq((40L, "zzz"))
      .toDF("doc_id", "text"), col("y")).collect()
    assert(!oneOut(0).isNullAt(1), "one-class prior must stay finite")
    assert(oneOut(0).getDouble(1) === r4(math.log(3.0)))
  }

  test("duplicatedSpans: shared span found, bounds exact, islands merge") {
    import spark.implicits._
    val common = (1 to 12).map(i => s"c$i").mkString(" ")
    val df = Seq(
      (1L, "a1 a2 a3 a4 a5 " + common + " a6 a7"),
      (2L, "b1 b2 " + common),
      (3L, "solo unique words only here nothing shared at all today ok"),
      (4L, "short doc")) // < k tokens: generates no grams
      .toDF("doc_id", "text")
    val out = TextOps.duplicatedSpans(df, 10).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 12 shared tokens → 3 duplicated 10-grams per doc, one merged span
    // covering exactly the shared region (token indexes, 0-based)
    assert(out.toSeq === Seq((1L, 5L, 16L, 3L), (2L, 2L, 13L, 3L)))
    // same-doc repetition counts: one doc repeating a 10-gram twice
    val rep = (1 to 10).map(i => s"r$i").mkString(" ")
    val self = Seq((9L, rep + " gap1 gap2 " + rep)).toDF("doc_id", "text")
    val so = TextOps.duplicatedSpans(self, 10).orderBy("span_start")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(so.toSeq === Seq((0L, 9L), (12L, 21L)))
    // partitioning invariance
    val re = TextOps.duplicatedSpans(df.repartition(13), 10)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(re.toSeq === out.toSeq)
  }

  test("dedupSubstrings: canonical copy survives, others excised") {
    import spark.implicits._
    val common = (1 to 12).map(i => s"c$i").mkString(" ")
    val df = Seq(
      (1L, "a1 a2 a3 a4 a5 " + common + " a6 a7"),
      (2L, "b1 b2 " + common + " b3"),
      (3L, "free of any duplication entirely here today with luck"))
      .toDF("doc_id", "text")
    val out = TextOps.dedupSubstrings(df, 10).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // doc 1 holds the canonical copy (lowest doc_id): untouched.
    // doc 2 loses exactly the 12 shared tokens; its frame stays.
    assert(out(0) === ((1L, "a1 a2 a3 a4 a5 " + common + " a6 a7", 0L)))
    assert(out(1) === ((2L, "b1 b2 b3", 12L)))
    assert(out(2)._3 === 0L)
    // self-overlapping repeat: 14x the same token, k=10 → grams at pos
    // 0..4 all duplicated, canonical at 0 covers [0,9]; tokens 10..13
    // are covered only non-canonically → exactly 4 removed
    val run = Seq((7L, Array.fill(14)("z").mkString(" "))).toDF("doc_id", "text")
    val ro = TextOps.dedupSubstrings(run, 10).collect()
    assert(ro(0).getString(1) === Array.fill(10)("z").mkString(" ") &&
      ro(0).getLong(2) === 4L)
    // partitioning invariance
    val re = TextOps.dedupSubstrings(df.repartition(13), 10)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(re.toSeq === out.toSeq)
  }

  test("buildCorpus exact-substring stage excises planted duplication") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"bp$i").mkString(" ")
    val rows = Seq(
      (1L, "web", "en", boiler + " first unique tail closing words here now"),
      (2L, "web", "en", boiler + " second distinct ending tokens appear right here"))
      .toDF("doc_id", "source", "lang", "text")
    val out = TextOps.buildCorpus(rows, minTokens = 4, substrDedupGrams = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // doc 1 keeps the canonical boilerplate copy; doc 2's copy is gone
    // before any downstream stage reads the text
    assert(out(1L).startsWith(boiler), out(1L))
    assert(!out(2L).contains("bp1") && out(2L).startsWith("second"), out(2L))
    // off by default: both docs keep the boilerplate
    val off = TextOps.buildCorpus(rows, minTokens = 4)
      .collect().map(r => r.getAs[String]("text")).toSeq
    assert(off.forall(_.contains("bp1")))
  }

  test("buildCorpus perplexity gate drops the out-of-domain tail") {
    import spark.implicits._
    val a = "the quick brown fox jumps over a lazy dog near the river bank"
    val model = Seq((0L, "ref", "en", a)).toDF("doc_id", "source", "lang", "text")
    val rows = Seq(
      (1L, "web", "en", a + " extra ending"),
      (2L, "web", "en", "zxqv blorp wug fnord glip snarf quux blip vex jorp"))
      .toDF("doc_id", "source", "lang", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // ungated: both survive; gated: only the in-domain doc does
    assert(ids(TextOps.buildCorpus(rows)) == Set(1L, 2L))
    val gated = TextOps.buildCorpus(rows,
      pplModel = Some(model), maxPpl = 20.0)
    assert(ids(gated) == Set(1L), s"got ${ids(gated)}")
  }

  test("chunkWindows: window/stride boundaries, overlap carry-over, " +
      "full coverage, and zero-token docs dropped") {
    import spark.implicits._
    val doc = (0 until 300).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b c"), (3L, "   ")).toDF("doc_id", "text")
    val got = TextOps.chunkWindows(df, window = 128, stride = 96)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    // doc 1 (300 toks): starts 0/96/192/288 -> sizes 128/128/108/12
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._2) == Seq(0L, 1L, 2L, 3L))
    assert(d1.map(_._3) == Seq(128L, 128L, 108L, 12L))
    // overlap: chunk k ends with the 32 tokens chunk k+1 starts with
    val c0 = d1(0)._4.split(" "); val c1 = d1(1)._4.split(" ")
    assert(c0.takeRight(32).toSeq == c1.take(32).toSeq,
      "stride 96 over window 128 must carry 32 tokens of context")
    // coverage: every token appears in some chunk
    val covered = d1.flatMap(_._4.split(" ")).toSet
    assert(covered == (0 until 300).map(i => s"w$i").toSet)
    // short doc: one short chunk; whitespace-only doc: no chunks
    assert(got.filter(_._1 == 2L) == Seq((2L, 0L, 3L, "a b c")))
    assert(!got.exists(_._1 == 3L), "zero-token docs must produce no chunks")
  }

  test("t27 chunking plans map-only: no exchange beyond the output sort") {
    val df = SparkEntry.queries("t27_chunk_windows")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // generator explode + slice must fuse into the scan's stage; the
    // only exchange is the presentation ORDER BY's range partitioning
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"chunking must not shuffle beyond the output sort:\n$plan")
    assert(plan.contains("Generate") || plan.contains("explode"),
      s"expected a generator explode in the plan:\n$plan")
  }

  test("t01 exact dedup shuffles digests, never the text column") {
    val df = SparkEntry.queries("t01_exact_dedup")(spark, sf)
    df.collect() // AQE finalizes the executed plan
    // every exchange's input schema must be digest-width: at 100 TB a
    // GROUP BY raw text would carry the corpus through the shuffle.
    // AQE hides exchanges inside materialized query stages — walk them.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(q: SparkPlan): Seq[ShuffleExchangeExec] = q.collect {
      case s: ShuffleExchangeExec => Seq(s)
      case qs: QueryStageExec => walk(qs.plan)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    }.flatten
    val exchanges = walk(df.queryExecution.executedPlan)
    assert(exchanges.nonEmpty, "expected at least the groupBy exchange")
    exchanges.foreach { e =>
      val wide = e.child.output.filter(a =>
        a.name == "text" || a.dataType ==
          org.apache.spark.sql.types.StringType)
      assert(wide.isEmpty,
        s"t01 shuffle carries string columns ${wide.map(_.name)}:\n$e")
    }
    // and the grouped result still matches a raw-text groupBy exactly
    val viaText = graft.Tables.load(spark, sf, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
        min(col("n_chars")).as("n_chars"))
      .select("doc_id", "n_copies", "n_chars").orderBy("doc_id")
    assert(df.collect().toSeq == viaText.collect().toSeq,
      "digest groupBy diverged from raw-text groupBy")
  }

  test("t20 pii scrub plans as pure codegen with zero exchanges") {
    val df = SparkEntry.queries("t20_pii_scrub")(spark, sf)
    df.collect() // AQE shows codegen spans only in the final plan
    // AQE's toString appends the pre-execution "Initial Plan" — audit
    // only the final one
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // per-row regexp work must fuse into WholeStageCodegen and shuffle
    // nothing but the final presentation sort
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, // the ORDER BY's range partitioning only
      s"pii scrub must not shuffle beyond the output sort:\n$plan")
    val projLine = plan.linesIterator
      .find(l => l.contains("regexp_replace") || l.contains("RegExpReplace"))
      .getOrElse(fail(s"no regexp in plan:\n$plan"))
    // "*(n)" before the operator name marks the WholeStageCodegen span
    assert(projLine.replaceAll("[\\s+-]+", "").startsWith("*("),
      s"scrub outside codegen:\n$plan")
  }
}

class VectorExprSpec extends AnyFunSuite {
  import TestSpark._
  import graft.functions.VectorFunctions

  test("cosine_sim / l2_sq are bit-identical to the SQL fold formulation") {
    val e = Tables.load(spark, sf, "embeddings").limit(50)
      .select(col("vec_id"), col("embedding").as("qe"))
    val pairs = e.crossJoin(Tables.load(spark, sf, "embeddings").limit(50)
      .select(col("vec_id").as("nid"), col("embedding").as("e")))
    def sqlDot(a: String, b: String) =
      s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         |          CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin
    val both = pairs.select(
      VectorFunctions.cosine_sim(col("qe"), col("e")).as("native"),
      (expr(sqlDot("qe", "e")) /
        (sqrt(expr(sqlDot("qe", "qe"))) * sqrt(expr(sqlDot("e", "e"))))).as("sql"),
      VectorFunctions.l2_sq(col("qe"), col("e")).as("nl2"),
      expr(
        """aggregate(zip_with(qe, e,
          |  (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
          |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("sl2"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"cosine mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"l2 mismatch: ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
  }

  test("vector expressions: nulls propagate, mixed float/double widths work") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val df = Seq(
      (Some(Seq(1.0f, 0.0f)), Some(Seq(1.0, 0.0))),
      (None, Some(Seq(1.0, 0.0))),
      (Some(Seq(0.0f, 2.0f)), None)
    ).toDF("a", "b")
    val r = df.selectExpr("cosine_sim(a, b) AS c", "l2_sq(a, b) AS l").collect()
    assert(r(0).getDouble(0) == 1.0 && r(0).getDouble(1) == 0.0)
    assert(r(1).isNullAt(0) && r(1).isNullAt(1))
    assert(r(2).isNullAt(0) && r(2).isNullAt(1))
    // type check rejects non-array args
    val err = intercept[Exception](
      spark.sql("SELECT cosine_sim(1, 2)").collect())
    assert(err.getMessage.toLowerCase.contains("array"))
  }

  test("vector expressions stay inside whole-stage codegen") {
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").as("qe"),
        col("embedding").as("e"))
      .select(VectorFunctions.cosine_sim(col("qe"), col("e")).as("c"))
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen
    // span; the projection evaluating cosine_sim must carry it
    val plan = e.queryExecution.executedPlan.toString
    val projLine = plan.linesIterator.find(_.contains("cosine_sim")).getOrElse(
      fail(s"no cosine_sim in plan:\n$plan"))
    assert(projLine.trim.startsWith("*("), s"cosine_sim outside codegen:\n$plan")
  }
}

class VectorOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("ann lsh recall vs brute force is meaningful") {
    val bf = SparkEntry.queries("v01_knn_bruteforce")(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("v02_ann_lsh")(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.nonEmpty, "ann returned nothing")
    // every ANN hit must be a real vector pair from its bucket; recall is
    // corpus-dependent — just require overlap to prove the bucketing isn't
    // degenerate, and that ANN returns far fewer comparisons' worth.
    val recall = (bf intersect ann).size.toDouble / bf.size
    assert(recall > 0.12, s"suspiciously low recall: $recall")
  }

  test("persisted LSH index: versioned sidecar, stale after append, rebuildable") {
    import org.apache.hadoop.fs.Path
    import graft.ops.VectorIndex
    val dir = new Path(tempDir("graft-vidx").resolve("e.graft").toUri)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val e = Tables.load(spark, sf, "embeddings")
    graft.connector.GraftWriter.write(fs, dir, e, overwrite = true)
    val v1 = VectorIndex.build(spark, dir, "vec_id", "embedding")
    assert(VectorIndex.indexedVersions(spark, dir, "embedding") == Seq(v1))
    val idx = VectorIndex.readCurrent(spark, dir, "embedding").get
    assert(idx.columns.toSeq == Seq("vec_id", "embedding").take(1) :+ "bucket")
    assert(idx.count() == e.count())
    // index buckets match scan-time bucketing exactly (same hyperplanes)
    val live = graft.operators.VectorOps
      .withLshBucket(e, "embedding").select("vec_id", "bucket")
    assert(idx.except(live).isEmpty && live.except(idx).isEmpty)
    // an append makes the index stale -> invisible, not wrong
    graft.connector.GraftWriter.write(fs, dir,
      e.limit(5).select(col("vec_id") + 100000, col("embedding"), col("label"))
        .toDF("vec_id", "embedding", "label"), overwrite = false)
    assert(VectorIndex.readCurrent(spark, dir, "embedding").isEmpty)
    val v2 = VectorIndex.build(spark, dir, "vec_id", "embedding")
    assert(v2 == v1 + 1)
    assert(VectorIndex.readCurrent(spark, dir, "embedding").get.count() ==
      e.count() + 5)
  }

  test("ann ivf recall vs brute force is meaningful; 5 rows per query") {
    val bf = SparkEntry.queries("v01_knn_bruteforce")(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = SparkEntry.queries("v05_ann_ivf")(spark, sf).collect()
    assert(rows.nonEmpty, "ivf ann returned nothing")
    val perQuery = rows.groupBy(_.getLong(0)).values.map(_.length).toSet
    assert(perQuery == Set(5), s"expected 5 hits per query, got $perQuery")
    val ann = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf intersect ann).size.toDouble / bf.size
    assert(recall > 0.25, s"suspiciously low ivf recall: $recall")
  }

  test("persisted IVF index: centroids + full assignment, stale after append") {
    import org.apache.hadoop.fs.Path
    import graft.ops.VectorIndex.Ivf
    val dir = new Path(tempDir("graft-ivf").resolve("e.graft").toUri)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val e = Tables.load(spark, sf, "embeddings")
    graft.connector.GraftWriter.write(fs, dir, e, overwrite = true)
    Ivf.build(spark, dir, "vec_id", "embedding", nLists = 8)
    val (cents, assign) = Ivf.readCurrent(spark, dir, "embedding").get
    assert(cents.count() == 8)
    assert(assign.count() == e.count(), "every row must be assigned to a list")
    // each assignment names an existing list, and no list holds everything
    val cids = assign.select("cid").distinct().collect().map(_.getInt(0)).toSet
    assert(cids.subsetOf((0 until 8).toSet))
    assert(cids.size > 1, "degenerate clustering: all rows in one list")
    // an append makes the index stale -> invisible, not wrong
    graft.connector.GraftWriter.write(fs, dir,
      e.limit(3).select(col("vec_id") + 200000, col("embedding"), col("label"))
        .toDF("vec_id", "embedding", "label"), overwrite = false)
    assert(Ivf.readCurrent(spark, dir, "embedding").isEmpty)
  }

  test("brute-force knn: self excluded, cos in [-1,1], k rows per query") {
    val rows = SparkEntry.queries("v01_knn_bruteforce")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(2), "self in neighbors")
      val c = r.getDouble(3)
      assert(c >= -1.0001 && c <= 1.0001)
    }
    val perQuery = rows.groupBy(_.getLong(0)).values.map(_.length).toSet
    assert(perQuery == Set(5))
  }
}
