package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfJoin
import graft.pipeline._

/** Unit fixtures for the pipeline operators (the oracle queries check them
  * end-to-end on testdata; these pin the semantics on tiny known inputs). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("identical documents share minhash signatures; disjoint ones don't") {
    val df = docs(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota"))
    val sig = Dedup.minhashSignature(df, "doc_id", "text", numHashes = 4)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getString).toSeq).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("LSH candidate pairs find exact duplicates") {
    val df = docs(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota"), (4L, "completely different words here"))
    val sig = Dedup.minhashSignature(df, "doc_id", "text", 8)
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((3L, 4L)))
  }

  test("LSH maxBucket: giant buckets star-expand, stay one component, O(m) pairs") {
    // 6 identical docs (one giant bucket) + 2 identical docs (small bucket)
    val df = docs((1L to 6L).map(i => i -> "same same text here") ++
      Seq(10L -> "other words entirely now", 11L -> "other words entirely now"): _*)
    val sig = Dedup.minhashSignature(df, "doc_id", "text", 8)
    val exact = Dedup.lshCandidatePairs(sig, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.lshCandidatePairs(sig, "doc_id", 8, 2, maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.count(p => p._1 <= 6 && p._2 <= 6) == 15) // 6C2 exact pairs
    // star expansion: the giant bucket contributes only hub pairs (1,x)
    assert(capped.filter(p => p._1 <= 6 && p._2 <= 6) ==
      (2L to 6L).map(x => (1L, x)).toSet)
    // the small bucket is untouched by the cap
    assert(exact.contains((10L, 11L)) && capped.contains((10L, 11L)))
    // same connected components either way
    val cExact = Dedup.duplicateClusters(
      spark.createDataFrame(exact.toSeq).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cCapped = Dedup.duplicateClusters(
      spark.createDataFrame(capped.toSeq).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cExact == cCapped)
  }

  test("minhashDedup composite releases the LSH band cache after its " +
      "clustering actions; result clusters true duplicates with min-id keeper") {
    val df = docs(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (5L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa"),
      (4L, "unrelated totally different content"))
    Dedup.releaseBandCaches() // isolate from any earlier test's bands
    val out = Dedup.minhashDedup(df, "doc_id", "text",
      numHashes = 8, bandSize = 2, maxBucket = 16)
    // the composite tracks its OWN band frames and never touches the
    // global registry (concurrent pipelines must not evict each other)
    assert(Dedup.pendingBandCaches == 0,
      s"band caches still pending: ${Dedup.pendingBandCaches}")
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(rows.contains((1L, 1L, true)) && rows.contains((2L, 1L, false)) &&
      rows.contains((5L, 1L, false)), rows.toString)
    assert(!rows.exists(r => r._1 == 3L && r._2 == 1L))
    assert(!rows.exists(r => r._1 == 4L && r._2 == 1L))
    // exact release assertion (immune to concurrently-running suites'
    // caches on the shared session): every band frame THIS composite
    // persisted has been unpersisted by the time it returned
    val bands = Dedup.lastBandFrames.get()
    assert(bands.nonEmpty, "composite tracked no band frames")
    bands.foreach(b => assert(
      b.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      s"band frame still persisted at ${b.storageLevel}"))
  }

  test("simhash: identical docs equal; jaccard: identical=1, disjoint absent") {
    val df = docs((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota"))
    val sh = Dedup.simhash16(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(df, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) < 0.2) // "beta"/"zeta"/"theta" share the 3-gram "eta"
  }

  test("native minhash/jaccard expressions == composable SQL forms on edge docs") {
    import org.apache.spark.sql.functions._
    // edge shapes: repeated tokens, consecutive/trailing spaces (empty
    // tokens), empty text, shorter-than-n text, multibyte + supplementary
    // plane, and near-duplicates
    val df = docs(
      (1L, "alpha beta alpha beta alpha"), (2L, "alpha  beta "),
      (3L, ""), (4L, "ab"), (5L, "héllo wörld 𝄞x"),
      (6L, "alpha beta gamma delta"), (7L, "alpha beta gamma epsilon"))
    val k = 4
    // composable replay of the minhash formula (the pre-native shape)
    val replaySig = df.select(col("doc_id"),
        explode(split(col("text"), " ")).as("__tok__"))
      .groupBy("doc_id")
      .agg(min(md5(concat(lit("0"), lit("|"), col("__tok__")))).as("mh0"),
        (1 until k).map(i => min(md5(concat(lit(i.toString), lit("|"),
          col("__tok__")))).as(s"mh$i")): _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
    val nativeSig = Dedup.minhashSignature(df, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
    assert(nativeSig == replaySig)

    val pairs = Seq((1L, 2L), (1L, 3L), (3L, 4L), (4L, 5L), (6L, 7L), (2L, 3L))
      .toDF("id_a", "id_b")
    val n = 3
    // composable replay of the n-gram jaccard (the pre-native shape)
    val shingles = df.select(col("doc_id").as("id"),
      explode(array_distinct(transform(
        sequence(lit(1), greatest(length(col("text")) - (n - 1), lit(1))),
        i => col("text").substr(i, lit(n))))).as("sh"))
    val sizes = shingles.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val replayJ = pairs
      .join(shingles.select(col("id").as("id_a"), col("sh")), "id_a")
      .join(shingles.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 4).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val nativeJ = Dedup.ngramJaccard(df, pairs, "doc_id", "text", n)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(nativeJ == replayJ)
    // the empty-text doc's gram set is {""}: disjoint from everything
    // non-empty, so (1,3)/(2,3)/(3,4) drop in both forms
    assert(!nativeJ.contains((1L, 3L)) && !nativeJ.contains((3L, 4L)))
  }

  test("cosine: self = 1, orthogonal = 0; brute-force top-k ranks correctly") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)), (3L, Array(-1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(vecs,
      vecs.filter($"vec_id" === 0L), "vec_id", "embedding", k = 3)
      .orderBy($"rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos")))
    assert(topk.head._1 == 2L)              // most similar
    assert(topk.last._1 == 3L && topk.last._2 == -1.0) // opposite direction last
    val mid = topk(1)
    assert(mid._1 == 1L && mid._2 == 0.0)   // orthogonal
  }

  test("IVF with nProbe=k equals brute force exactly") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val (indexed, cents) = Similarity.ivfIndex(vecs, "vec_id", "embedding", k = 4)
    val ivf = Similarity.ivfTopK(indexed, queries, cents, "vec_id", "embedding",
      topK = 5, nProbe = 4) // probe ALL cells -> must equal brute force
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(ivf == brute)
  }

  test("IVF sampled fit (cap below corpus size) still probes to brute force") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 2)
    // force the sampling path: the k-means fit sees ~half the corpus, but
    // with nProbe = k (all cells probed) the ANN result must still equal
    // brute force regardless of centroid quality
    val (indexed, cents) = Similarity.ivfIndex(vecs, "vec_id", "embedding",
      k = 4, maxTrainVectors = 30L)
    assert(cents.length == 4)
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(indexed, queries, cents, "vec_id", "embedding",
      topK = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(ivf == brute)
  }

  test("knnGraphUnion re-ranks multi-index graphs: recall only improves, " +
      "ranks stay dense, single-graph union is the graph itself") {
    val rnd = new scala.util.Random(41)
    val base = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val vecs = (base ++ Seq((100L, base(0)._2.clone)))
      .toDF("vec_id", "embedding")
    val (ixA, _) = Similarity.ivfIndex(vecs, "vec_id", "embedding", k = 3,
      seed = 42L)
    val (ixB, _) = Similarity.ivfIndex(vecs, "vec_id", "embedding", k = 3,
      seed = 7L)
    val gA = Similarity.knnGraph(ixA, "vec_id", "embedding", k = 3)
    val gB = Similarity.knnGraph(ixB, "vec_id", "embedding", k = 3)
    def edges(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val u = Similarity.knnGraphUnion(Seq(gA, gB), k = 3)
    val uRows = u.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // the planted duplicate pair shares a cell in EVERY index (identical
    // vectors assign identically) and must stay rank-1 both ways
    Seq(0L -> 100L, 100L -> 0L).foreach { case (q, d) =>
      val top = uRows.filter(r => r._1 == q && r._4 == 1).head
      assert(top._2 == d && top._3 == 1.0) }
    // per-vector neighbor QUALITY only improves RANK-WISE: the union's
    // candidates are a superset, so its rank-r cos >= each single graph's
    // rank-r cos (a union may legitimately ADD worse-cos neighbors BELOW
    // a small cell's short list — that lengthens the list, never degrades
    // an existing rank)
    val uAt = uRows.map(r => (r._1, r._4) -> r._3).toMap
    for (g <- Seq(gA, gB);
         r <- g.collect().map(r => (r.getLong(0), r.getInt(3), r.getDouble(2)))) {
      val (v, rank, cos) = r
      assert(uAt((v, rank)) >= cos, s"union degraded vec $v at rank $rank") }
    // degenerate single-graph union: identical edge set
    assert(edges(Similarity.knnGraphUnion(Seq(gA), k = 3)) == edges(gA))
    // ranks dense 1..n per vector
    uRows.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._4).sorted.toSeq == (1 to rs.length)) }
  }

  test("lshTopK families: planted duplicates rank 1 in every family " +
      "count, and extra families never shrink a query's result") {
    val rnd = new scala.util.Random(37)
    val base = (0L until 40L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val vecs = (base ++ Seq((100L, base(0)._2.clone), (101L, base(1)._2.clone)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 2)
    def run(fams: Int) = Similarity.lshTopK(vecs, queries, "vec_id",
      "embedding", dim = 16, k = 3, bits = 4, families = fams)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1),
        r.getDouble(2))).toMap
    val one = run(1)
    val two = run(2)
    // identical vectors share every family's bucket: rank-1 at cos 1 always
    Seq(0L -> 100L, 1L -> 101L).foreach { case (q, d) =>
      assert(one((q, 1)) == ((d, 1.0)) && two((q, 1)) == ((d, 1.0))) }
    // the union candidate set can only grow: per-query result count is
    // monotone in families (both capped at k)
    Seq(0L, 1L).foreach { q =>
      assert(two.keys.count(_._1 == q) >= one.keys.count(_._1 == q)) }
    // ranks stay dense and ordered by (cos desc, id asc)
    Seq(0L, 1L).foreach { q =>
      val rs = two.toSeq.filter(_._1._1 == q).sortBy(_._1._2)
      assert(rs.map(_._1._2) == (1 to rs.length))
      val ordered = rs.map { case ((_, _), (id, cos)) => (-cos, id) }
      assert(ordered == ordered.sorted) }
    // bits = -1 (corpus-proportional code): 42 vectors clamp to 4 bits,
    // so the auto arm equals the manual arm exactly
    def runAuto() = Similarity.lshTopK(vecs, queries, "vec_id",
      "embedding", dim = 16, k = 3, bits = -1, families = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1),
        r.getDouble(2))).toMap
    assert(runAuto() == two)
  }

  test("hyperplanes are pairwise distinct through j=31; multi-family LSH " +
      "pairs are a de-duplicated superset of single-family") {
    // the pre-round-13 formula had no i·j cross term and collapsed to
    // j mod 5 — five distinct planes; the cross-term form gives 101
    val probe = Seq(Tuple1(Array.fill(8)(1f))).toDF("v")
    val planes = (0 until 32).map { j =>
      probe.select(Similarity.hyperplane(j, 8)).head.getSeq[Float](0).toList
    }
    assert(planes.distinct.length == 32)
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    def pairs(fams: Int) = Similarity.lshNearDupPairs(vecs, "vec_id",
      "embedding", dim = 16, threshold = 0.2, bits = 4, families = fams)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val one = pairs(1)
    val two = pairs(2)
    assert(one.subsetOf(two)) // union semantics: family 0 fully included
    val keys = two.toSeq.map(p => (p._1, p._2))
    assert(keys.distinct.length == keys.length) // cross-family de-dup holds
  }

  test("lshNearDupPairs bits = -1 sizes the code to the corpus: the " +
      "formula targets ~250/bucket with clamps, and the auto arm equals " +
      "the manual arm at the bits it picks") {
    // formula: clamp [4, maxBits], ceil(log2(n / 250)) in between
    assert(Similarity.autoLshBits(0) == 4)
    assert(Similarity.autoLshBits(40) == 4)
    assert(Similarity.autoLshBits(4000) == 4)      // 16 buckets
    assert(Similarity.autoLshBits(8001) == 6)      // ceil(log2(32.004))
    assert(Similarity.autoLshBits(256000) == 10)
    assert(Similarity.autoLshBits(Long.MaxValue) == 24)
    assert(Similarity.autoLshBits(Long.MaxValue, maxBits = 12) == 12)
    // maxBits WINS over the lower clamp: the plane-supply budget under
    // many stacked families (101/26 = 3) must not be overridden to 4,
    // which would blow lshBucket's supply require at plan build
    assert(Similarity.autoLshBits(40, maxBits = 3) == 3)
    assert(Similarity.autoLshBits(Long.MaxValue, maxBits = 3) == 3)
    // small corpus clamps to 4 bits -> identical pair set to manual 4
    val rnd = new scala.util.Random(47)
    val vecs = (0L until 50L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    def got(bits: Int) = Similarity.lshNearDupPairs(vecs, "vec_id",
      "embedding", dim = 16, threshold = 0.2, bits = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got(-1) == got(4))
  }

  test("lshNearDupPairs maxBucket: an oversized bucket star-expands to " +
      "O(m) verified pairs and keeps exact-dup clusters connected") {
    // 8 exact duplicates (one giant bucket once hashed) + 2 duplicates
    // elsewhere in embedding space (their own small bucket)
    val dup = Array(1f, 2f, 3f, 4f)
    val other = Array(-4f, -3f, -2f, -1f)
    val vecs = ((1L to 8L).map(i => (i, dup.clone)) ++
      Seq((20L, other.clone), (21L, other.clone))).toDF("vec_id", "embedding")
    val capped = Similarity.lshNearDupPairs(vecs, "vec_id", "embedding",
      dim = 4, threshold = 0.99, bits = 4, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // giant bucket: 7 hub(1)-spoke pairs, not C(8,2)=28; small bucket intact
    assert(capped == ((2L to 8L).map(i => (1L, i)).toSet + ((20L, 21L))),
      s"got $capped")
    // uncapped (default) stays exact all-pairs
    val exact = Similarity.lshNearDupPairs(vecs, "vec_id", "embedding",
      dim = 4, threshold = 0.99, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.count { case (a, b) => a <= 8 && b <= 8 } == 28)
    assert(exact.contains((20L, 21L)))
  }

  test("property: both banding schemes find EXACTLY the brute-force " +
      "hamming pairs on random signatures with planted near-dups") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen: Gen[List[Long]] = for {
      n <- Gen.choose(5, 25)
      base <- Gen.listOfN(n, Gen.long)
      flips <- Gen.listOfN(3, for {
        idx <- Gen.choose(0, n - 1)
        nbits <- Gen.choose(0, 4)
        bitsToFlip <- Gen.listOfN(nbits, Gen.choose(0, 63))
      } yield base(idx) ^ bitsToFlip.map(1L << _).fold(0L)(_ | _))
    } yield base ++ flips
    def sample(i: Long): List[Long] =
      gen(Gen.Parameters.default, Seed(i)).get
    for (seedI <- 0L until 12L; maxDist <- Seq(1, 3, 7)) {
      val sigs = sample(seedI * 31 + maxDist).zipWithIndex
        .map { case (s, i) => (i.toLong, s) }
      val df = sigs.toDF("id", "sig")
      val brute = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        d = java.lang.Long.bitCount(sa ^ sb) if d <= maxDist
      } yield (ia, ib, d.toLong)).toSet
      def got(df2: org.apache.spark.sql.DataFrame) = df2.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // smallest power-of-two band count that divides 64 AND satisfies
      // the pigeonhole completeness bound bands > maxDist
      val simpleBands = Seq(2, 4, 8).find(b => b > maxDist).get
      assert(got(Dedup.hammingPairs64(df, "id", "sig",
        maxDist = maxDist, bands = simpleBands)) == brute,
        s"simple banding seed=$seedI maxDist=$maxDist")
      assert(got(Dedup.combinationHammingPairs(df, "id", "sig",
        bits = 64, maxDist = maxDist, blocks = 8)) == brute,
        s"combination banding seed=$seedI maxDist=$maxDist")
    }
  }

  test("combination banding (Manku r-subset keys) emits exactly the " +
      "simple-banded pairs, including its r=1 degenerate case") {
    val rnd = new scala.util.Random(23)
    val base = (0L until 40L).map(i => (i, rnd.nextLong()))
    // plant near-dups at known distances (2 and 3), incl. bits spanning
    // block boundaries, plus one exact duplicate (dist 0)
    val sigs = (base ++ Seq(
      (100L, base(0)._2 ^ 0x0000000000000011L),          // dist 2, low block
      (101L, base(1)._2 ^ 0x8000000000010001L),          // dist 3, spread
      (102L, base(2)._2)))                               // dist 0
      .toDF("id", "sig")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val simple = asSet(Dedup.hammingPairs64(sigs, "id", "sig",
      maxDist = 3, bands = 4))
    val combo = asSet(Dedup.combinationHammingPairs(sigs, "id", "sig",
      bits = 64, maxDist = 3, blocks = 8))
    assert(combo == simple)
    assert(Seq((0L, 100L, 2L), (1L, 101L, 3L), (2L, 102L, 0L))
      .forall(combo.contains), s"planted pairs missing from $combo")
    // r = blocks - maxDist = 1: combination banding degenerates to the
    // simple per-block scheme — still the same output
    val combo1 = asSet(Dedup.combinationHammingPairs(sigs, "id", "sig",
      bits = 64, maxDist = 7, blocks = 8))
    assert(combo1 == asSet(Dedup.hammingPairs64(sigs, "id", "sig",
      maxDist = 7, bands = 8)))
    // autoHammingPairs64 picks the scheme by corpus size: 43 rows is
    // far under the default ~10⁶ threshold (simple arm); forcing the
    // threshold to 1 takes the combination arm — identical output both
    // ways, so the corpus-size switch can never change an answer
    assert(asSet(Dedup.autoHammingPairs64(sigs, "id", "sig",
      maxDist = 3)) == simple)
    assert(asSet(Dedup.autoHammingPairs64(sigs, "id", "sig",
      maxDist = 3, comboThreshold = 1L)) == simple)
    // maxDist >= 7 routes to simple banding regardless of corpus size
    // (at 7 the blocks = 8 combination scheme IS simple banding; >= 8 is
    // outside its completeness bound)
    assert(asSet(Dedup.autoHammingPairs64(sigs, "id", "sig",
      maxDist = 15, comboThreshold = 1L)) ==
      asSet(Dedup.hammingPairs64(sigs, "id", "sig",
        maxDist = 15, bands = 16)))
    // The auto threshold is bucket-occupancy-scaled, not a constant: the
    // measured 16-bit-key crossover (~10^6 docs) rescales with the simple
    // scheme's key space 2^(64/bands). maxDist 4..6 would use 8-bit keys
    // (256 buckets) that saturate ~2^8 x sooner; maxDist <= 1 keys never
    // saturate.
    assert(Dedup.comboBandingThresholdFor(3) == 1000000L)
    assert(Dedup.comboBandingThresholdFor(2) == 1000000L)
    assert(Dedup.comboBandingThresholdFor(4) == 1000000L >> 8)
    assert(Dedup.comboBandingThresholdFor(6) == 1000000L >> 8)
    assert(Dedup.comboBandingThresholdFor(1) == 1000000L << 16) // 32-bit keys
    assert(Dedup.comboBandingThresholdFor(0) == Long.MaxValue) // exact-key arm
    // maxDist = 0 -> bands = 1, the exact-key arm: width 64 means the
    // band mask must be ALL-ONES ((1L << 64) - 1 is 0 under Scala's
    // mod-64 shift — a zero mask put every row in one bucket and turned
    // the candidate join into the full cross join). Output = the exact
    // duplicates, via a genuine equi-join.
    val exact0 = Dedup.autoHammingPairs64(sigs, "id", "sig", maxDist = 0)
    val plan0 = exact0.queryExecution.executedPlan.toString
    assert(!plan0.contains("CartesianProduct") &&
      !plan0.contains("BroadcastNestedLoopJoin"),
      s"maxDist=0 banding planned an all-pairs join:\n$plan0")
    assert(asSet(exact0) == Set((2L, 102L, 0L)))
  }

  test("ivfAssign's two layouts are bit-identical: per-centroid literals " +
      "vs the single 2-D literal zip_with, incl. k > 256") {
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 50L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    def assignWith(cents: Array[Array[Double]], literalMax: Int) =
      vecs.select($"vec_id",
        Similarity.ivfAssign($"embedding", cents, literalMax).as("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // small k: force the HOF layout (literalMax = 0) against the default
    // codegen literal layout — same centroids, same assignment everywhere
    val small = Array.fill(12)(
      Array.fill(8)(rnd.nextDouble() * 2 - 1).map(_.toFloat.toDouble))
    assert(assignWith(small, 0) == assignWith(small, 256))
    // k > 256 (the auto-switch point): the 2-D layout (default) must match
    // the literal layout forced past its default cap — 300×8 constants
    // still fit a constant pool, so the literal run is a valid ground truth
    val big = Array.fill(300)(
      Array.fill(8)(rnd.nextDouble() * 2 - 1).map(_.toFloat.toDouble))
    val hof = assignWith(big, 256) // 300 > 256 -> 2-D literal layout
    assert(hof == assignWith(big, 1000))
    assert(hof.values.toSet.size > 1) // sanity: not a degenerate assignment
  }

  test("kNN graph: every vector's neighbors come from its own cell, " +
      "planted duplicates rank each other first, and k bounds the fan-out") {
    val rnd = new scala.util.Random(13)
    val base = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    // plant exact duplicates of vectors 0 and 1
    val vecs = (base ++ Seq((100L, base(0)._2.clone), (101L, base(1)._2.clone)))
      .toDF("vec_id", "embedding")
    val (indexed, _) = Similarity.ivfIndex(vecs, "vec_id", "embedding", k = 3)
    val g = Similarity.knnGraph(indexed, "vec_id", "embedding", k = 3)
    val rows = g.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.groupBy(_._1).values.forall(_.length <= 3))
    val cells = indexed.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    rows.foreach { case (q, n, _, _) =>
      assert(cells(q) == cells(n), s"$q -> $n crosses cells") }
    // duplicates share a cell by construction (identical vectors assign
    // identically) and must be each other's rank-1 hit at cos 1.0
    Seq((0L, 100L), (100L, 0L), (1L, 101L), (101L, 1L)).foreach { case (q, d) =>
      val top = rows.filter(r => r._1 == q && r._4 == 1).head
      assert(top._2 == d && top._3 == 1.0, s"$q top=$top, want dup $d")
    }
  }

  test("integer PageRank: hub outranks spokes, mass stays bounded, " +
      "and the result is partitioning-independent") {
    import org.apache.spark.sql.functions.col
    // star: 1..9 each -> 0 and 0 -> 1 (node 0 is the hub)
    val edges = ((1L to 9L).map(i => (i, 0L)) :+ (0L, 1L)).toDF("src", "dst")
    val pr = graft.pipeline.Graphs.pageRank(edges, iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.size == 10)
    assert(pr(0L) > pr(1L) && pr(1L) > pr(2L)) // hub > its target > spokes
    assert((2L to 9L).forall(i => pr(i) == pr(2L))) // symmetric spokes tie
    val unit = 1000000000000L
    assert(pr.values.sum <= 10 * unit) // fixed-point leaks, never creates
    assert(pr.values.sum > (10 * unit * 8) / 10)
    val pr2 = graft.pipeline.Graphs.pageRank(edges.repartition(7), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr2 == pr) // exact integer arithmetic: layout-independent
    // a hub whose rank passes ~1.1e17 micro-units: `rank * pct` overflows
    // a long (ANSI throws) — the decimal-widened multiply must survive
    val star = ((1L to 100L).map(i => (i, 0L)) :+ (0L, 1L)).toDF("src", "dst")
    val big = graft.pipeline.Graphs.pageRank(star, iterations = 3,
      unit = 2000000000000000L)
    assert(big.count() == 101)
    // checkpointEvery = 0 is a config error, not a division-by-zero crash
    intercept[IllegalArgumentException](
      graft.pipeline.Graphs.pageRank(edges, checkpointEvery = 0))
  }

  test("random projection: deterministic per seed, linear, and shaped " +
      "(id, dim, y) with outDim rows per vector") {
    import org.apache.spark.sql.functions.{col, transform}
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(16)(d => (i * 17 + d * 3 % 7).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    def proj(seed: String) = Similarity
      .randomProjection(vecs, "vec_id", "embedding", outDim = 4, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val a = proj("jl")
    assert(a.size == 20 * 4)
    assert(a == proj("jl"))                        // deterministic
    assert(a != proj("other-seed"))                // seed matters
    // linearity: doubling the vector doubles every coordinate (±round-6)
    val doubled = Similarity.randomProjection(
      vecs.select(col("vec_id"),
        transform(col("embedding"), x => x * 2f).as("embedding")),
      "vec_id", "embedding", outDim = 4, "jl")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    a.foreach { case (k, v) =>
      assert(math.abs(doubled(k) - 2 * v) < 1e-5, s"$k: ${doubled(k)} vs ${2 * v}")
    }
  }

  test("LSH near-dup pairs: subset of all-pairs at threshold; dups found") {
    import org.apache.spark.sql.functions.col
    val vecs = (0 until 30).map { i =>
      val v = (0 until 8).map(d => ((i % 5) * 7 + d * 3 + 1).toFloat / 10f)
      (i.toLong, if (i % 10 == 0) Seq.fill(8)(0.5f) else v) // planted dups
    }.toDF("vec_id", "embedding")
    val banded = Similarity.lshNearDupPairs(vecs, "vec_id", "embedding",
        dim = 8, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = Similarity.cosinePairs(vecs, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(all)) // bucket restriction never invents pairs
    // identical vectors share every sign bit -> same bucket -> always found
    assert(banded.contains((0L, 10L)) && banded.contains((10L, 20L)))
  }

  test("int8 quantization: scale/rounding semantics, zero-vector guard") {
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f)),  // scale 1.0: q = 127, -64 (63.5 away-from-zero), 32 (31.75)
      (2L, Seq(0.0f, 0.0f, 0.0f))     // all-zero: q = 0, scale 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got((1L, 0L)) == ((127L, 1.0)))
    assert(got((1L, 1L)) == ((-64L, 1.0))) // -63.5 rounds away from zero
    assert(got((1L, 2L)) == ((32L, 1.0)))  // 31.75 rounds up
    assert(got((2L, 0L)) == ((0L, 0.0)))
  }

  test("int8 quantization round-trips within half a quantization step") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L)
      .map(i => (i, Seq.fill(16)((rnd.nextFloat() - 0.5f) * 4f)))
      .toDF("vec_id", "embedding")
    val orig = vecs.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("v"))
    // dequant = q/127*scale; |dequant - x| <= scale/254 (+ slack for the
    // 6-decimal scale rounding)
    val violations = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .join(orig, Seq("vec_id", "pos"))
      .filter(abs(col("q").cast("double") / 127 * col("scale")
        - col("v").cast("double")) > col("scale") / 254 + lit(1e-3))
      .count()
    assert(violations == 0)
  }

  test("quantized ANN: scale invariance of codes; near-exact ranking") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L)
      .map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 4)
    // cosine over codes == cosine over dequantized vectors (the per-vector
    // scale cancels) — dequant differs only in float representation, so the
    // two cosines agree to well under the 1e-6 ranking granularity
    val codes = vecs.select($"vec_id",
      Similarity.int8Codes($"embedding").as("codes"))
    val dequant = vecs.select($"vec_id",
      Similarity.int8Codes($"embedding").as("c"),
      (array_max(transform($"embedding", x => abs(x))).cast("double") / 127)
        .as("s"))
      .select($"vec_id", transform($"c", q => (q * $"s").cast("float")).as("dq"))
    val drift = codes.join(dequant, "vec_id")
      .select(abs(Similarity.cosine($"codes", $"codes")
        - Similarity.cosine($"dq", $"dq")).as("d"))
      .agg(max($"d")).head.getDouble(0)
    assert(drift < 1e-9)
    // quantized ranking ≈ exact ranking: with 16 dims and 127 levels the
    // top-1 neighbor survives quantization on this fixture
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quant = Similarity.quantizedTopK(vecs, queries, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(quant == exact)
  }

  test("centroids: per-group element-wise mean + vector count") {
    val df = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 4.0f)), (1, Seq(10.0f, 20.0f))
    ).toDF("label", "embedding")
    val got = Similarity.centroids(df, "label", "embedding")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> ((r.getDouble(2), r.getLong(3))))
      .toMap
    assert(got((0, 0L)) == ((2.0, 2L)) && got((0, 1L)) == ((3.0, 2L)))
    assert(got((1, 0L)) == ((10.0, 1L)) && got((1, 1L)) == ((20.0, 1L)))
  }

  test("winnowing: shared >= k+w-1 substring shares a print; short docs empty") {
    import org.apache.spark.sql.functions.col
    val df = docs(
      (1L, "the quick brown fox jumps over things"),
      (2L, "a quick brown fox jumps over other stuff"), // shares >= 8 chars
      (3L, "completely unrelated words entirely"),
      (4L, "tiny")) // normalized length 4 < k: no grams
    val got = df.select(col("doc_id"),
        TextAnalysis.winnow(col("text")).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert((got(1L) & got(2L)).nonEmpty) // winnowing guarantee
    assert((got(1L) & got(3L)).isEmpty)
    assert(got(4L).isEmpty)
    // deterministic: same text → identical fingerprint set
    assert(got(1L) == df.filter(col("doc_id") === 1L)
      .select(TextAnalysis.winnow(col("text"))).collect().head.getSeq[String](0).toSet)
  }

  /** Plain-Scala winnowing oracle mirroring TextAnalysis.winnow exactly:
    * normalize (lower, drop spaces), char k-grams -> 8-hex md5, window-of-w
    * lexicographic minima, distinct+sorted. BMP-only inputs so Java's
    * UTF-16 indexing and Spark's code-point indexing agree. */
  private def winnowRef(text: String, k: Int, w: Int): Seq[String] = {
    def md5hex8(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val norm = text.toLowerCase.replace(" ", "")
    val nGrams = norm.length - (k - 1)
    if (nGrams - (w - 1) < 1) Seq.empty
    else {
      val grams = (0 until nGrams).map(i => md5hex8(norm.substring(i, i + k)))
      (0 to grams.length - w).map(j => grams.slice(j, j + w).min)
        .distinct.sorted
    }
  }

  test("winnowing matches the reference impl on edge-shaped + multibyte docs") {
    import org.apache.spark.sql.functions.col
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // Short docs straddling the k+w-1=8 boundary, all-space docs, and
    // multibyte BMP chars (2- and 3-byte UTF-8) mixed with ASCII.
    val genDoc: Gen[String] = for {
      n <- Gen.choose(0, 24)
      cs <- Gen.listOfN(n, Gen.oneOf("abc 09é 中ü ".toSeq))
    } yield cs.mkString
    val sampled = (0L until 60L)
      .flatMap(i => genDoc.apply(Gen.Parameters.default, Seed(i)))
    val edges = Seq("", " ", "        ", "abcd", "abcdefg", "abcdefgh",
      "A B C D E F G H I", "ééééééééééé", "中中中中中中中中中", "ab 中é 9ü xyz")
    val all = (sampled ++ edges).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = all.toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.winnow(col("text"), k = 5, w = 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    all.foreach { case (id, text) =>
      assert(got(id) == winnowRef(text, 5, 4), s"doc $id: '$text'")
    }
  }

  test("simhash banded pairs == brute-force hamming filter (completeness)") {
    import org.apache.spark.sql.functions._
    // 40 short docs, several exact/near duplicates: banded LSH (bands=2,
    // maxDist=1) must find exactly the pairs an all-pairs popcount finds.
    val df = docs((0L until 40L).map { i =>
      val base = s"tok${i % 7} tok${(i * 3) % 11} tok${(i * 5) % 13} common words"
      (i, if (i % 9 == 0) "alpha beta gamma delta" else base)
    }: _*)
    val sh = Dedup.simhash16(df, "doc_id", "text")
    val a = sh.select(col("doc_id").as("id_a"), col("simhash16").as("sa"))
    val b = sh.select(col("doc_id").as("id_b"), col("simhash16").as("sb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 1, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    assert(brute.exists(_._3 == 0L)) // the planted duplicates are in there
  }

  test("simhash64 banded pairs == brute-force hamming filter (completeness)") {
    import org.apache.spark.sql.functions._
    val df = docs((0L until 40L).map { i =>
      val base = s"tok${i % 7} tok${(i * 3) % 11} tok${(i * 5) % 13} common words"
      (i, if (i % 9 == 0) "alpha beta gamma delta" else base)
    }: _*)
    val sh = Dedup.simhash64(df, "doc_id", "text")
    // signatures actually use the upper 32 lanes (second md5 salt)
    assert(sh.collect().exists(r => (r.getLong(1) >>> 32) != 0L))
    val a = sh.select(col("doc_id").as("id_a"), col("simhash64").as("sa"))
    val b = sh.select(col("doc_id").as("id_b"), col("simhash64").as("sb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("dist"))
      .filter(col("dist") <= 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = Dedup.simhashPairs64(df, "doc_id", "text", maxDist = 7, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    assert(brute.exists(_._3 == 0L)) // planted exact duplicates
  }

  test("decontamination: k-gram overlap flags docs, counts occurrences") {
    import org.apache.spark.sql.functions.col
    val train = docs(
      (1L, "alpha beta gamma delta epsilon"), // grams: "alpha beta gamma", ...
      (2L, "alpha beta gamma alpha beta gamma"), // hits the bench gram twice
      (3L, "zeta eta theta"), // clean
      (4L, "xy")) // shorter than k: no grams
    val bench = docs((100L, "alpha beta gamma prime"))
    val got = TextAnalysis.contaminatedDocs(train, "doc_id", "text",
        bench, "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 contains "alpha beta gamma" once; doc 2 twice (positions 1, 4);
    // docs 3 and 4 are absent from the removal list entirely
    assert(got == Map(1L -> 1L, 2L -> 2L))
    // word-gram edge: doc shorter than k tokens yields an empty gram array
    val grams = train.filter(col("doc_id") === 4L)
      .select(TextAnalysis.wordGrams(col("text"), 3))
      .collect().head.getSeq[String](0)
    assert(grams.isEmpty)
  }

  test("corpus shuffle: a permutation, partitioning-stable, seed-sensitive") {
    import spark.implicits._
    val ids = (1L to 300L).toDF("id")
    def run(df: org.apache.spark.sql.DataFrame, seed: String) =
      Sharding.shufflePositions(df, "id", seed)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("position")).toMap
    val p1 = run(ids, "s1")
    assert(p1.values.toSeq.sorted == (0L until 300L))      // exact permutation
    assert(run(ids.repartition(7), "s1") == p1)            // layout-independent
    assert(run(ids, "s2") != p1)                           // seed changes order
  }

  test("line dedup: boilerplate lines drop, order survives, empty docs vanish") {
    // chunkTokens=2 lines; "nav bar" appears in 3 docs (> maxDocFreq=2)
    val df = docs(
      (1L, "nav bar alpha beta gamma delta"),
      (2L, "nav bar zeta eta"),
      (3L, "nav bar"),          // all-boilerplate -> disappears
      (4L, "unique words only"))  // trailing short line "only" kept
    val out = Dedup.lineDedup(df, "doc_id", "text", chunkTokens = 2, maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L, 4L))
    assert(out(1L) == ("alpha beta gamma delta", 2L)) // order preserved
    assert(out(2L) == ("zeta eta", 1L))
    assert(out(4L) == ("unique words only", 2L))
  }

  test("keep-first line dedup: repeats survive only at the globally-first " +
      "(doc_id, position); within-doc repeats collapse too") {
    val df = docs(
      (1L, "alpha beta alpha beta gamma delta"), // line 0 == line 1 (2-tok)
      (2L, "alpha beta own words"),              // line 0 already seen in doc 1
      (3L, "gamma delta"),                       // seen as doc 1's line 2
      (4L, "fresh content here"))
    val out = Dedup.keepFirstLines(df, "doc_id", "text", chunkTokens = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L, 4L)) // doc 3 fully deduped away
    assert(out(1L) == ("alpha beta gamma delta", 2L)) // within-doc repeat gone
    assert(out(2L) == ("own words", 1L))
    assert(out(4L) == ("fresh content here", 2L))
  }

  test("repeated spans: a copied block merges its overlapping windows into " +
      "one span at the copy, never at the first occurrence") {
    val block = "abcdefghijklmnopqrstuvwxyz0123" // 30 distinct chars
    val df = docs(
      (1L, block),                                  // first occurrence
      (2L, "ZYXWVUTSRQ" + block + "PONMLKJIHG"),    // verbatim copy inside
      (3L, "0987654321#$%&'()*+,-./:;<=>?@["))      // all-unique control
    val out = Dedup.repeatedSpans(df, "doc_id", "text", k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) == ((0L, 0L, 30L, 0.0)))
    assert(out(3L)._1 == 0L && out(3L)._2 == 0L)
    // 21 overlapping dup windows merge to ONE 30-char span at [11, 41)
    assert(out(2L) == ((1L, 30L, 50L, 0.6)))
  }

  test("cut repeated spans: later copies of a duplicated substring are cut " +
      "and the survivors stitch back in order; first occurrences survive") {
    val df = docs(
      (10L, "abcdefgh"),    // first occurrence of everything
      (20L, "xxabcdefyy"),  // interior copy of abcdef (3 dup windows merge)
      (30L, "abcdefgh"),    // verbatim duplicate document
      (40L, "zzzzzzzzzz"),  // INTRA-doc repetition: all windows hash alike
      (50L, "qq"))          // shorter than k: passes through whole
    val out = Dedup.cutRepeatedSpans(df, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(10L) == (("abcdefgh", 0L)))
    assert(out(20L) == (("xxyy", 6L)))     // span [3, 9) cut
    assert(out(30L) == (("", 8L)))         // whole doc was a copy
    assert(out(40L) == (("z", 9L)))        // first char survives, run cut
    assert(out(50L) == (("qq", 0L)))
    // the metric twin agrees on the duplicated mass, by construction
    val metric = Dedup.repeatedSpans(df, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.forall { case (id, (_, cut)) => metric(id) == cut })
    // the documented NON-guarantee (scaladoc counterexample): the keep
    // rule is window-granular, so overlapping non-first windows can clip
    // a first occurrence and a repeated substring can survive nowhere —
    // "abcd" first occurs in doc 2 yet ends up cut from every document
    val clip = Dedup.cutRepeatedSpans(
        docs((1L, "bcdeX"), (2L, "abcde"), (3L, "abcdZ")),
        "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(clip == Map(1L -> (("bcdeX", 0L)), 2L -> (("a", 4L)),
      3L -> (("Z", 4L))))
    // only the documented -1 sentinel selects the occupancy-scaled
    // banding threshold; an unset-config 0 fails fast
    val sigs0 = Seq((1L, 7L)).toDF("id", "sig")
    intercept[IllegalArgumentException] {
      Dedup.autoHammingPairs64(sigs0, "id", "sig", maxDist = 3,
        comboThreshold = 0L)
    }
  }

  test("property: cut repeated spans equals a driver-side reference " +
      "implementation on random repeat-heavy corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val k = 4
    // two-letter alphabet forces organic repeats, intra- and cross-doc
    val gen: Gen[List[String]] = for {
      n <- Gen.choose(3, 8)
      texts <- Gen.listOfN(n, for {
        len <- Gen.choose(0, 30)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b'))
      } yield cs.mkString)
    } yield texts
    def reference(corpus: Seq[(Long, String)]): Map[Long, (String, Long)] = {
      // corpus-first (doc, pos) rule on the window STRINGS (md5 of equal
      // windows is equal; no collisions at this scale)
      val first = scala.collection.mutable.Map.empty[String, (Long, Int)]
      for ((id, t) <- corpus.sortBy(_._1); p <- 0 to t.length - k)
        first.getOrElseUpdate(t.substring(p, p + k), (id, p))
      corpus.map { case (id, t) =>
        val dup = (0 to t.length - k)
          .filter(p => first(t.substring(p, p + k)) != ((id, p)))
          .map(p => (p, p + k))
        // strict interval union, then stitch the gaps
        val merged = dup.foldLeft(List.empty[(Int, Int)]) {
          case ((ms, me) :: rest, (s, e)) if s <= me =>
            (ms, math.max(me, e)) :: rest
          case (acc, span) => span :: acc
        }.reverse
        val clean = new StringBuilder
        var cur = 0
        for ((ms, me) <- merged) { clean ++= t.substring(cur, ms); cur = me }
        clean ++= t.substring(cur)
        id -> (clean.toString, merged.map { case (s, e) => (e - s).toLong }.sum)
      }.toMap
    }
    for (seedI <- 0L until 8L) {
      val corpus = gen(Gen.Parameters.default, Seed(seedI)).get
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.cutRepeatedSpans(corpus.toDF("doc_id", "text"),
          "doc_id", "text", k = k)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
      assert(got == reference(corpus), s"seed=$seedI corpus=$corpus")
    }
  }

  test("URL canonicalization: case/port/fragment/tracking noise collapses; " +
      "registrable domain honors two-level zones") {
    import org.apache.spark.sql.functions.col
    val urls = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/A/b?utm_source=x&q=1&fbclid=z#frag"),
      (2L, "https://www.example.com/A/b?q=1"),                // same page
      (3L, "http://Site.CO.UK:80/?utm_campaign=c"),
      (4L, "https://a.b.example.org/path"),
      // '&' is legal in a PATH: stripping the leading '?utm_x=1' must not
      // rewrite the path's '&' into '?' (that would split this URL from
      // its tracking-free twin AND collide it with /a?b&c=2)
      (5L, "http://h/a&b?utm_x=1&c=2"),
      (6L, "http://h/a&b?c=2")).toDF("id", "url")
    val out = urls.select(col("id"),
        TextAnalysis.canonicalizeUrl(col("url")).as("c"),
        TextAnalysis.registrableDomain(col("url")).as("d"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(1L)._1 == "https://www.example.com/A/b?q=1")
    assert(out(1L)._1 == out(2L)._1) // dedup key collapses the variants
    assert(out(1L)._2 == "example.com")
    assert(out(3L) == (("http://site.co.uk/", "site.co.uk")))
    assert(out(4L)._2 == "example.org")
    // the path-'&' + leading-tracking-param combination: the canonical
    // form keeps the path intact and both twins share one key
    assert(out(5L)._1 == "http://h/a&b?c=2", out(5L)._1)
    assert(out(5L)._1 == out(6L)._1)
    // a literal '&' in a PATH (no query string anywhere) must survive —
    // '/a&b' and '/a?b' are different pages, never one dedup key; and
    // stripping a leading tracking param re-anchors the FIRST remaining
    // '&' (not the last)
    val edge = Seq(
      (5L, "https://ex.com/a&b"),
      (6L, "https://ex.com/a?b"),
      (7L, "https://ex.com/p?utm_source=x&q=1&r=2")).toDF("id", "url")
    val eo = edge.select(col("id"),
        TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(eo(5L) == "https://ex.com/a&b")
    assert(eo(6L) == "https://ex.com/a?b")
    assert(eo(5L) != eo(6L))
    assert(eo(7L) == "https://ex.com/p?q=1&r=2")
  }

  test("PII redaction: emails, IPs, phones collapse; clean text untouched") {
    import org.apache.spark.sql.functions.col
    val df = docs(
      (1L, "mail me at jane.doe+spam@sub.example.co.uk today"),
      (2L, "server at 10.0.42.7 went down"),
      (3L, "call +1 (555) 123-4567 or 555 867 5309 now"),
      (4L, "no pii here just words"))
    val got = df.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail me at <EMAIL> today")
    assert(got(2L) == "server at <IP> went down")
    assert(got(3L) == "call <PHONE> or <PHONE> now")
    assert(got(4L) == "no pii here just words")
  }

  test("language ID picks the stopword-majority language") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el gato y la casa de la madre que"),
      (3L, "der hund und die katze ist von mit"),
      (4L, "xylophone quartz")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "und"))
  }

  test("winnow pairs: shared-substring docs pair; noise threshold mutes " +
      "boilerplate prints") {
    // docs 1/2 share a long span (>= k+w-1 chars guarantees a shared
    // print); 3 is unrelated
    val df = docs(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "intro words the quick brown fox jumps over the lazy dog"),
      (3L, "completely unrelated content with different words entirely"))
    val pairs = Dedup.winnowPairs(df, "doc_id", "text",
        maxDocFreq = 10, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    // a print shared by 5 identical docs exceeds maxDocFreq=3 → dropped,
    // so NO pairs survive even though the docs are identical
    val boiler = docs((1L to 5L).map(i => i -> "same boilerplate text in every doc"): _*)
    assert(Dedup.winnowPairs(boiler, "doc_id", "text",
      maxDocFreq = 3, minShared = 1).count() == 0L)
    // raise the threshold and all 10 pairs appear with full overlap
    val all = Dedup.winnowPairs(boiler, "doc_id", "text",
      maxDocFreq = 5, minShared = 1)
    assert(all.count() == 10L)
    assert(all.select("overlap").collect().forall(_.getDouble(0) == 1.0))
  }

  test("bigram NLL: interpolated probabilities match the hand computation") {
    // corpus = "a b a b": unigram p(a)=p(b)=0.5; bigrams (a,b)×2, (b,a)×1;
    // token probs: [0.5 (first, unigram only), 0.875, 0.875, 0.875]
    // → -mean log2 = 0.3945
    val df = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramNll(df, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_tokens") == 4L)
    assert(r.getAs[Double]("nll_bits") == 0.3945)
    // a shuffled-token doc (broken adjacency) must score HIGHER than the
    // same tokens in their repeated-bigram order
    val two = Seq((1L, "a b a b a b"), (2L, "a a b b b a")).toDF("doc_id", "text")
    val m = TextAnalysis.bigramNll(two, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m(1L) < m(2L))
  }

  test("as-of join: strict vs at-or-before on an exact-tie timeline") {
    val left = Seq((1L, 100L, "p1"), (1L, 200L, "p2")).toDF("k", "t", "tag")
    val right = Seq((1L, 100L, 10.0), (1L, 150L, 15.0)).toDF("k", "rt", "v")
    def run(strict: Boolean) =
      AsOfJoin.joinPrior(left, right, Seq("k"), "t", "rt", Seq("v"), strict)
        .collect().map(r => r.getAs[String]("tag") ->
          Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble)).toMap
    val strictRes = run(strict = true)
    assert(strictRes("p1").isEmpty)          // rt=100 not strictly before t=100
    assert(strictRes("p2").contains(15.0))
    val atOrBefore = run(strict = false)
    assert(atOrBefore("p1").contains(10.0))  // tie included
    assert(atOrBefore("p2").contains(15.0))
    // bounded staleness: the latest prior nulls out beyond the tolerance
    def tolRun(tol: Long) =
      AsOfJoin.joinPrior(left, right, Seq("k"), "t", "rt", Seq("v"),
          strict = true, toleranceMs = Some(tol))
        .collect().map(r => r.getAs[String]("tag") ->
          Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble)).toMap
    assert(tolRun(40L)("p1").isEmpty)         // no prior at all
    assert(tolRun(40L)("p2").isEmpty)         // 200 - 150 = 50 > 40: stale
    assert(tolRun(50L)("p2").contains(15.0))  // 50 <= 50: attached
  }

  test("range join: bucketized pairs == brute-force theta join") {
    import graft.operators.RangeJoin
    // rows straddling bucket boundaries (delta=10): pairs must be found
    // across buckets, boundary distance == delta included, > delta excluded
    val rows = Seq((1L, 0L, 1L), (1L, 9L, 2L), (1L, 10L, 3L), (1L, 21L, 4L),
      (1L, 21L, 5L), (2L, 9L, 6L), (2L, 40L, 7L)).toDF("k", "t", "id")
    val got = RangeJoin.selfWithinDelta(rows, Seq("k"), "t", "id", delta = 10L)
      .collect().map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"))).toSet
    val brute = (for {
      a <- Seq((1L, 0L, 1L), (1L, 9L, 2L), (1L, 10L, 3L), (1L, 21L, 4L),
        (1L, 21L, 5L), (2L, 9L, 6L), (2L, 40L, 7L))
      b <- Seq((1L, 0L, 1L), (1L, 9L, 2L), (1L, 10L, 3L), (1L, 21L, 4L),
        (1L, 21L, 5L), (2L, 9L, 6L), (2L, 40L, 7L))
      if a._1 == b._1 && b._2 - a._2 >= 0 && b._2 - a._2 <= 10 &&
        (a._2 < b._2 || (a._2 == b._2 && a._3 < b._3))
    } yield (a._3, b._3)).toSet
    assert(got == brute)
    assert(got.contains((2L, 3L)) && got.contains((4L, 5L))) // tie pair once
    assert(!got.contains((3L, 4L))) // 21 - 10 = 11 > delta
  }

  test("bounded 2-hop closure preserves components exactly") {
    // chain 1..9 (diameter 8), a hub star above the degree cap, an isolated
    // pair — clusters must be IDENTICAL with and without closure
    val chain = (1L until 9L).map(i => (i, i + 1))
    val hub = (20L until 60L).map(i => (10L, i)) // degree 40 > cap 32
    val pairs = (chain ++ hub ++ Seq((100L, 101L))).toDF("id_a", "id_b")
    val direct = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val closed = Dedup.duplicateClusters(Dedup.boundedTwoHopClosure(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(closed == direct)
    // under the local-CC cap the closure short-circuits (nothing to
    // accelerate) — the input comes back unchanged
    val gated = Dedup.boundedTwoHopClosure(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated == pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // forcing the iterative regime: the closure actually shortened the
    // chain — node 9 gains an edge closer to 1 than its original
    // neighbor 8 — and clusters still match the direct run
    spark.conf.set("graft.pipeline.localCcMaxEdges", "0")
    try {
      val closedEdges = Dedup.boundedTwoHopClosure(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(closedEdges.exists { case (a, b) => b == 9L && a < 8L })
      val closedForced =
        Dedup.duplicateClusters(Dedup.boundedTwoHopClosure(pairs))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(closedForced == direct)
    } finally spark.conf.unset("graft.pipeline.localCcMaxEdges")
  }

  test("duplicate clustering: components, keepers, chains") {
    // components {1,2,3} (chain 1-2, 2-3), {10,11}, node 20-21 pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L))
    // long chain: min label must propagate the full diameter
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainGot = Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainGot.values.toSet == Set(1L) && chainGot.size == 10)
  }

  test("duplicate clustering with STRING ids (non-integral convergence path)") {
    // string ids can't take the decimal-sum convergence shortcut — this
    // exercises the amortized changed-count path, including a chain long
    // enough that one 4-round block is not enough to converge
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"),
      ("d1", "d2"), ("d2", "d3"), ("d3", "d4"), ("d4", "d5"), ("d5", "d6"),
      ("d6", "d7"), ("d7", "d8"), ("d8", "d9")).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("a") == "a" && got("b") == "a" && got("c") == "a")
    assert(got("x") == "x" && got("y") == "x")
    assert((1 to 9).forall(i => got(s"d$i") == "d1"), got)
    assert(got.size == 14)
  }

  test("duplicate clustering with fractional double ids") {
    // 0.25/0.5 etc are exact binary fractions; sum-based convergence is
    // unsound for doubles, so these also route to the changed-count path
    val pairs = Seq((0.5, 0.25), (0.25, 1.5), (7.5, 8.5)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got == Map(0.25 -> 0.25, 0.5 -> 0.25, 1.5 -> 0.25, 7.5 -> 7.5, 8.5 -> 7.5))
  }

  test("path-compressed clustering == naive on random graphs and long chains") {
    // randomized equivalence: compression must only ACCELERATE the fixpoint
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 30 + trial * 20
      val pairs = (1 to n).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2).toDF("id_a", "id_b")
      val naive = Dedup.duplicateClusters(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fast = Dedup.duplicateClusters(pairs, compressPaths = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == naive, s"trial $trial")
    }
    // a 40-node chain has diameter 39: the compressed loop must converge
    // well within an iteration budget the naive loop would blow through.
    // localCcMaxEdges = 0 forces the ITERATIVE path (the small-graph
    // union-find arm would otherwise answer both exactly in one pass)
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("graft.pipeline.localCcMaxEdges", "0")
    try {
      val got = Dedup.duplicateClusters(chain, maxIter = 12, compressPaths = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 40 && got.values.forall(_ == 1L))
      assertThrows[IllegalStateException](
        Dedup.duplicateClusters(chain, maxIter = 12).collect())
    } finally spark.conf.unset("graft.pipeline.localCcMaxEdges")
  }

  test("small-graph union-find clustering == iterative clustering") {
    // the single-task arm must produce the exact (id -> min reachable id)
    // assignment of the distributed rounds on random graphs and chains
    def bothWays(pairs: org.apache.spark.sql.DataFrame, clue: String): Unit = {
      val local = Dedup.duplicateClusters(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.set("graft.pipeline.localCcMaxEdges", "0")
      val iterative =
        try Dedup.duplicateClusters(pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally spark.conf.unset("graft.pipeline.localCcMaxEdges")
      assert(local == iterative, clue)
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val n = 40 + trial * 25
      bothWays((1 to n).map(_ =>
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(p => p._1 != p._2).toDF("id_a", "id_b"), s"trial $trial")
    }
    // chains of 15-29 nodes under shuffled ids (plus a few shortcuts inside
    // each chain) take several checkpoint intervals (4 rounds each) of
    // propagation; diameters stay under the 50-round budget
    val crnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val chains = crnd.shuffle((1L to 200L).toList).grouped(8 + trial * 7).toSeq
      bothWays(chains.flatMap(c => c.zip(c.tail) ++
          (1 to 2).map(_ => (c(crnd.nextInt(c.size)), c(crnd.nextInt(c.size)))))
        .filter(p => p._1 != p._2).toDF("id_a", "id_b"), s"chain trial $trial")
    }
    // a chain long past any iteration budget converges exactly in one pass
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(chain, maxIter = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 300 && got.values.forall(_ == 1L))
  }

  test("duplicate clustering of an empty pair set returns an empty frame") {
    val empty = spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(empty).count() == 0)
  }

  test("multimodal feature extraction preserves ids and batch shape") {
    val df = Seq((1L, "abc"), (2L, "defgh")).toDF("doc_id", "payload_str")
      .withColumn("payload", org.apache.spark.sql.functions.col("payload_str").cast("binary"))
    val media = Multimodal.toMedia(df, "doc_id", "payload", "text/plain")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "payload", "meta"))
    val feats = Multimodal.extractFeatures(media, targetPartitions = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feats == Map(1L -> 3L, 2L -> 5L)) // n_bytes from the real payload
  }

  test("frame sampling: every sampled offset points at real 00dc chunk " +
      "data and pad bytes are skipped; resize halves dims over real pixels") {
    for (id <- 0L to 7L) {
      val avi = Multimodal.syntheticAviFrames(id)
      val frames = Multimodal.sampleFrames(avi, every = 4)
      assert(frames.nonEmpty)
      assert(frames.map(_._1) == frames.map(_._1).sorted)
      frames.foreach { case (idx, off, n) =>
        assert(idx % 4 == 0)
        // the 8 bytes before the data are the chunk header "00dc" + size
        val hdr = new String(avi, off.toInt - 8, 4, "US-ASCII")
        assert(hdr == "00dc", s"id=$id idx=$idx off=$off got '$hdr'")
        val sz = (avi(off.toInt - 4) & 0xFF) | ((avi(off.toInt - 3) & 0xFF) << 8)
        assert(sz == n)
      }
      // full walk count matches the header's totalFrames
      assert(Multimodal.sampleFrames(avi, every = 1).size ==
        Multimodal.decodeVideoMeta(avi)._3)
      val (w2, h2, mean) = Multimodal.resizeBmp(Multimodal.syntheticBmp(id))
      val (w, h) = Multimodal.synthDims(id)
      assert(w2 == w / 2 && h2 == h / 2)
      assert(mean > 0.0 && mean < 1.0)
    }
    assert(Multimodal.sampleFrames(Array[Byte](1, 2, 3), 4).isEmpty)
    assert(Multimodal.resizeBmp(Array[Byte](1, 2, 3)) == ((0, 0, 0.0)))
  }

  test("dHash: decode matches the generation formula; brightness shift " +
      "stays near, different bases are far; banded pairs == all-pairs") {
    import org.apache.spark.sql.functions.col
    // independent recomputation straight from the pixel formulas
    def refHash(base: Long, delta: Int): Long = {
      val (w, h) = Multimodal.synthDims(base)
      def luma(fy: Int, fx: Int): Int = (0 until 3).map(ch =>
        ((base * 31 + (3 * (fy * w + fx) + ch) * 7 + delta) % 256).toInt).sum
      (0 until 8).flatMap(r => (0 until 8).map(c => (r, c))).foldLeft(0L) {
        case (acc, (r, c)) =>
          if (luma(r * h / 8, c * w / 9) < luma(r * h / 8, (c + 1) * w / 9))
            acc | (1L << (r * 8 + c))
          else acc
      }
    }
    for (base <- 0L to 31L; delta <- Seq(0, 4))
      assert(Multimodal.dHashBmp(Multimodal.syntheticBmp(base, delta)) ==
        refHash(base, delta), s"base=$base delta=$delta")
    // perceptual property: a +4 brightness shift moves the hash only a few
    // bits (wrapped bytes), while distinct base images land far apart
    val nearDists = (0L to 63L).map { b =>
      java.lang.Long.bitCount(refHash(b, 0) ^ refHash(b, 4))
    }
    assert(nearDists.max <= 10, s"shift moved too many bits: $nearDists")
    val farDists = (0L to 62L).map { b =>
      java.lang.Long.bitCount(refHash(b, 0) ^ refHash(b + 1, 0))
    }
    assert(farDists.count(_ > 10) > 50, s"distinct bases too close: $farDists")
    // banded join == brute force over the near-dup fixture
    val docs = (0L until 64L).toDF("doc_id")
    val sig = Multimodal.dHashImages(Multimodal.toMedia(
      Multimodal.withSyntheticNearDupImages(docs, "doc_id"),
      "doc_id", "payload", "application/octet-stream"), targetPartitions = 4)
    val got = Dedup.hammingPairs64(sig, "media_id", "dhash",
      maxDist = 7, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hashes = (0L until 64L).map(id => id -> refHash(id / 2, ((id % 2) * 4).toInt))
    val want = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (ia, ib, d.toLong)).toSet
    assert(got == want)
    // every even/odd fixture pair is recovered as a near-dup
    (0L until 32L).foreach { k =>
      assert(want.exists(p => p._1 == 2 * k && p._2 == 2 * k + 1), s"k=$k")
    }
  }

  test("CDC chunking: chunks reassemble losslessly, boundaries re-align " +
      "after an insertion, short/empty docs degrade correctly") {
    import org.apache.spark.sql.functions.col
    val base = (1 to 40).map(i => s"sentence number $i with some words.")
      .mkString(" ")
    val docs = Seq((1L, base), (2L, "PREFIX INSERTED 123 " + base),
      (3L, "tiny"), (4L, "")).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // lossless: per-doc chunk lengths sum to the text length, indexes dense
    val byDoc = ch.groupBy(_._1)
    assert(byDoc(1L).map(_._4).sum == base.length)
    assert(byDoc(1L).map(_._2).sorted.toSeq == (1L to byDoc(1L).length))
    assert(byDoc(1L).length > 3, s"expected several chunks, got ${byDoc(1L).length}")
    // content-defined: after a prefix insertion the tail chunks re-align —
    // the two docs share most chunk digests (fixed-size blocks would share none)
    val h1 = byDoc(1L).map(_._3).toSet
    val h2 = byDoc(2L).map(_._3).toSet
    assert((h1 intersect h2).size >= h1.size - 2,
      s"CDC should re-align: shared ${(h1 intersect h2).size} of ${h1.size}")
    // shorter than the window: one whole-document chunk; empty: no rows
    assert(byDoc(3L).toSeq == Seq((3L, 1L,
      org.apache.commons.codec.digest.DigestUtils.md5Hex("tiny"), 4L)))
    assert(!byDoc.contains(4L))
  }

  test("JPEG: marker walk finds SOF dims with varied segment lengths; " +
      "javax.imageio agrees; progressive flag; padding FFs; torn files") {
    for (id <- 0L to 31L) {
      val jp = Multimodal.syntheticJpeg(id)
      val (w, h) = Multimodal.synthDims(id)
      assert(Multimodal.decodeJpegMeta(jp) == ((w, h, 3, false)), s"id=$id")
      // an independent parser must read the same header
      val rs = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(jp))
      val readers = javax.imageio.ImageIO.getImageReaders(rs)
      assert(readers.hasNext, s"imageio does not recognize id=$id")
      val rd = readers.next()
      rd.setInput(rs)
      assert(rd.getWidth(0) == w && rd.getHeight(0) == h, s"id=$id imageio")
      rd.dispose(); rs.close()
    }
    // SOF2 reports progressive; padding FF fill bytes before markers parse
    val base = Multimodal.syntheticJpeg(5L)
    val sofAt = {
      var i = 2
      while (!(base(i) == 0xFF.toByte && base(i + 1) == 0xC0.toByte)) i += 1
      i
    }
    val prog = base.clone(); prog(sofAt + 1) = 0xC2.toByte
    assert(Multimodal.decodeJpegMeta(prog)._4)
    val padded = base.take(2) ++ Array(0xFF.toByte) ++ base.drop(2)
    assert(Multimodal.decodeJpegMeta(padded) ==
      Multimodal.decodeJpegMeta(base))
    // non-JPEG and torn payloads degrade to zeros
    assert(Multimodal.decodeJpegMeta(Array[Byte](1, 2, 3)) == ((0, 0, 0, false)))
    for (cut <- Seq(0, 1, 3, 9, 21, 29))
      Multimodal.decodeJpegMeta(base.take(cut)) // must return, not throw
    // torn payload ending in FF fill bytes: the padding loop advances past
    // the outer bound check, so the length read must re-validate
    assert(Multimodal.decodeJpegMeta(
      Array(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xE0).map(_.toByte)) ==
      ((0, 0, 0, false)))
    assert(Multimodal.decodeJpegMeta(
      Array(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xFF, 0xE0).map(_.toByte)) ==
      ((0, 0, 0, false)))
  }

  test("decoders survive truncated and corrupt payloads without throwing") {
    // every JVM decoder must degrade (zeros / empty), never crash: at
    // corpus scale torn payloads are routine
    val samples = Seq(
      Multimodal.syntheticBmp(3L), Multimodal.syntheticWav(3L),
      Multimodal.syntheticAviFrames(3L), Multimodal.syntheticPng(3L),
      Multimodal.syntheticJpeg(3L))
    for (full <- samples; cut <- Seq(0, 1, 7, 11, 13, 23, 53, 99)) {
      val p = full.take(math.min(cut, full.length))
      Multimodal.decodeFeatures(p)
      Multimodal.decodeAudio(p)
      Multimodal.decodeVideoMeta(p)
      Multimodal.sampleFrames(p, 2)
      Multimodal.resizeBmp(p)
      Multimodal.dHashBmp(p)
      Multimodal.decodeJpegMeta(p)
    }
    // flipped size fields must not walk out of bounds
    val avi = Multimodal.syntheticAviFrames(5L)
    avi(4 + 100) = 0x7F.toByte // clobber a frame chunk size byte
    Multimodal.sampleFrames(avi, 1) // must return, not throw
    val bmp = Multimodal.syntheticBmp(5L)
    bmp(18) = 0x7F.toByte // inflate claimed width
    Multimodal.resizeBmp(bmp)
    Multimodal.decodeFeatures(bmp)
    // NEGATIVE declared chunk sizes must not stall the RIFF walks (the
    // advance `off = body + size + (size & 1)` with size = -8 never moves)
    def negChunk(base: Array[Byte]): Array[Byte] = {
      val b = base.clone()
      b(16) = 0xF8.toByte; b(17) = 0xFF.toByte // size of first chunk = -8
      b(18) = 0xFF.toByte; b(19) = 0xFF.toByte
      b
    }
    Multimodal.decodeAudio(negChunk(Multimodal.syntheticWav(5L)))
    Multimodal.decodeVideoMeta(negChunk(Multimodal.syntheticAviFrames(5L)))
    Multimodal.sampleFrames(negChunk(Multimodal.syntheticAviFrames(5L)), 1)
    // inner LIST sizes claiming more bytes than the payload holds must
    // emit nothing, not read past the array
    val torn = Multimodal.syntheticAviFrames(5L)
    torn(16) = 0x7F.toByte // inflate the hdrl LIST's declared size
    Multimodal.decodeVideoMeta(torn.take(60))
  }

  test("top-down BMP (negative height) decodes via the column expressions " +
      "without ANSI overflow; crafted MinValue height reads null") {
    import org.apache.spark.sql.functions.col
    val base = Multimodal.syntheticBmp(7L)
    val wh = (Multimodal.synthDims(7L)._1, Multimodal.synthDims(7L)._2)
    val topDown = base.clone()
    // biHeight := -h (little-endian int32 at offset 22)
    val h = wh._2
    val neg = -h
    (0 until 4).foreach(i => topDown(22 + i) = ((neg >> (8 * i)) & 0xFF).toByte)
    val minVal = base.clone()
    (0 until 4).foreach(i =>
      minVal(22 + i) = ((Int.MinValue >> (8 * i)) & 0xFF).toByte)
    val df = Seq((1L, topDown), (2L, minVal)).toDF("id", "bin")
      .select(col("id"), Multimodal.imageWidth(col("bin")).as("w"),
        Multimodal.imageHeight(col("bin")).as("h"))
    val got = df.collect().map(r => r.getLong(0) ->
      (r.getInt(1), if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(got(1L) == ((wh._1, h)), s"top-down: ${got(1L)}") // abs applied
    assert(got(2L)._2 == -1) // MinValue height -> null, never a throw
  }

  test("image header decode: BMP and PNG dims parse from real bytes, " +
      "column-expression path == JVM decode, javax.imageio agrees") {
    import org.apache.spark.sql.functions.col
    val ids = (0L to 15L)
    val df = ids.toDF("doc_id")
    // one corpus per container; both decode to the same formula dims
    for (mixed <- Seq(false, true)) {
      val media = Multimodal.toMedia(
        Multimodal.withSyntheticImages(df, "doc_id", mixed = mixed),
        "doc_id", "payload", "application/octet-stream")
      val got = media.select(col("media_id"), col("meta.mime"),
        col("meta.width"), col("meta.height")).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
      ids.foreach { id =>
        val (w, h) = Multimodal.synthDims(id)
        val wantMime =
          if (mixed && id % 2 == 1) "image/png" else "image/bmp"
        assert(got(id) == ((wantMime, w, h)), s"id=$id mixed=$mixed")
      }
    }
    // third-party decoder agreement: javax.imageio (pure JDK) must read the
    // same dimensions AND the same pixel bytes we generate — proving the
    // synthetic files are VALID images, not merely self-consistent.
    for (id <- Seq(0L, 3L, 7L); png <- Seq(false, true)) {
      val bytes = if (png) Multimodal.syntheticPng(id) else Multimodal.syntheticBmp(id)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"imageio rejected id=$id png=$png")
      val (w, h) = Multimodal.synthDims(id)
      assert(img.getWidth == w && img.getHeight == h, s"dims id=$id png=$png")
      // spot-check pixel (0, 0): BMP rows are bottom-up, PNG top-down; both
      // map image row y to stream row (png: y, bmp: h-1-y). Stream k of the
      // top-left pixel: bmp channel order BGR, png RGB.
      val k0 = if (png) 0 else 3 * w * (h - 1)
      val (r0, g0, b0) =
        if (png) (Multimodal.synthByte(id, k0), Multimodal.synthByte(id, k0 + 1),
          Multimodal.synthByte(id, k0 + 2))
        else (Multimodal.synthByte(id, k0 + 2), Multimodal.synthByte(id, k0 + 1),
          Multimodal.synthByte(id, k0))
      val rgb = img.getRGB(0, 0)
      assert(((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF) == ((r0, g0, b0)),
        s"pixel(0,0) id=$id png=$png")
    }
  }

  test("crafted binary headers degrade to the documented zeros/null — " +
      "never a negative index, an int overflow, or a multi-billion-row spin") {
    import graft.pipeline.Multimodal
    import java.nio.{ByteBuffer, ByteOrder}
    def bmp(off: Int, w: Int, h: Int, bpp: Short): Array[Byte] = {
      val b = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte)
      b.position(10); b.putInt(off)
      b.position(18); b.putInt(w); b.putInt(h)
      b.position(28); b.putShort(bpp)
      b.array()
    }
    // 0x80000000 data offset: long-sum guards alone pass it; must be null
    assert(Multimodal.dHashBmp(bmp(Int.MinValue, 4, 4, 24)) == null)
    assert(Multimodal.resizeBmp(bmp(Int.MinValue, 4, 4, 24)) == ((0, 0, 0.0)))
    // int-overflowing rowSize (bpp 0xFFF8 over a wide image)
    assert(Multimodal.dHashBmp(bmp(54, 300000, 4, 0xFFF8.toShort)) == null)
    assert(Multimodal.resizeBmp(bmp(54, 300000, 4, 0xFFF8.toShort)) ==
      ((0, 0, 0.0)))
    // a claimed height of 2^31-1 with one real row: the walks must stop
    // at the payload end, not iterate billions of bounds-checked no-ops
    val tall = bmp(54, 2, Int.MaxValue, 24)
    val t0 = System.nanoTime()
    Multimodal.dHashBmp(tall)
    Multimodal.decodeFeatures(tall)
    Multimodal.resizeBmp(tall)
    assert((System.nanoTime() - t0) < 5e9, "crafted-height decode spun")
    // RIFF chunk declaring size 0x7FFFFFF0: the walk cursor must not wrap
    def riff(kind: String): Array[Byte] = {
      val b = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(56)
        .put(kind.getBytes("US-ASCII"))
      b.put("junk".getBytes("US-ASCII")).putInt(0x7FFFFFF0)
      b.array()
    }
    assert(Multimodal.decodeAudio(riff("WAVE")) == ((0, 0, 0L, 0.0)))
    assert(Multimodal.decodeVideoMeta(riff("AVI ")) == ((0, 0, 0L, 0.0)))
    assert(Multimodal.sampleFrames(riff("AVI "), 1) == Nil)
  }

  test("WAV audio decode: chunk walk + PCM samples match the formula, " +
      "javax.sound agrees on format and sample bytes") {
    val ids = Seq(0L, 1L, 5L, 50L, 99L)
    ids.foreach { id =>
      val bytes = Multimodal.syntheticWav(id)
      val channels = 1 + (id % 2).toInt
      val rate = Multimodal.wavRates((id % 4).toInt)
      val frames = 50 + (id % 50).toInt
      // engine decode (real chunk walk + 16-bit PCM loop)
      val (c, sr, f, rms) = Multimodal.decodeAudio(bytes)
      assert((c, sr, f) == ((channels, rate, frames.toLong)), s"id=$id")
      val n = frames * channels
      val want = math.sqrt((0 until n).map { k =>
        val s = ((id * 131 + k * 17) % 65536 - 32768).toDouble; s * s
      }.sum / n) / 32768.0
      assert(math.abs(rms - want) < 1e-12, s"rms id=$id")
      // third-party decoder agreement (pure JDK): format + raw frame bytes
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      assert(fmt.getChannels == channels && fmt.getSampleRate == rate.toFloat &&
        fmt.getSampleSizeInBits == 16, s"javax format id=$id")
      assert(in.getFrameLength == frames.toLong, s"javax frames id=$id")
      val pcm = in.readAllBytes()
      assert(pcm.length == 2 * n)
      // first sample round-trips through javax's frame reader
      val s0 = ((pcm(0) & 0xFF) | ((pcm(1) & 0xFF) << 8)).toShort.toInt
      assert(s0 == (id * 131 % 65536).toInt - 32768, s"sample0 id=$id")
    }
    // non-WAV payload degrades to zeros, no throw
    assert(Multimodal.decodeAudio("not audio".getBytes) == ((0, 0, 0L, 0.0)))
  }

  test("AVI video header decode: RIFF walk == canonical-offset column " +
      "expressions == generation formula") {
    import org.apache.spark.sql.functions.col
    val ids = (0L to 15L)
    ids.foreach { id =>
      val (w, h, frames, fps) = Multimodal.decodeVideoMeta(Multimodal.syntheticAvi(id))
      assert(w == 16 * (2 + id % 4) && h == 8 * (4 + id % 8), s"dims id=$id")
      assert(frames == 30 + id % 30, s"frames id=$id")
      assert(fps == Multimodal.aviFps((id % 4).toInt).toDouble, s"fps id=$id")
    }
    val got = Multimodal.withSyntheticVideo(ids.toDF("doc_id"), "doc_id")
      .select(col("doc_id"),
        Multimodal.aviWidth(col("payload")).as("w"),
        Multimodal.aviHeight(col("payload")).as("h"),
        Multimodal.aviTotalFrames(col("payload")).as("f"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    ids.foreach { id =>
      val (w, h, f, _) = Multimodal.decodeVideoMeta(Multimodal.syntheticAvi(id))
      assert(got(id) == ((w, h, f.toInt)), s"column exprs id=$id")
    }
    assert(Multimodal.decodeVideoMeta("RIFFxxxxWAVE".getBytes) == ((0, 0, 0L, 0.0)))
  }

  test("BMP pixel features: decoded means equal the generation formula " +
      "(offset/padding/channel alignment)") {
    val ids = (0L to 15L)
    val media = Multimodal.toMedia(
      Multimodal.withSyntheticImages(ids.toDF("doc_id"), "doc_id"),
      "doc_id", "payload", "application/octet-stream")
    val got = Multimodal.extractFeatures(media, targetPartitions = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Double](2))).toMap
    ids.foreach { id =>
      val (w, h) = Multimodal.synthDims(id)
      val n = 3 * w * h
      val all = (0 until n).map(Multimodal.synthByte(id, _))
      val c0 = (0 until n by 3).map(Multimodal.synthByte(id, _))
      val (nBytes, feat) = got(id)
      assert(nBytes == 54L + n)
      assert(feat(0) == w.toDouble && feat(1) == h.toDouble)
      assert(math.abs(feat(2) - all.sum.toDouble / all.size / 255.0) < 1e-12)
      assert(math.abs(feat(3) - c0.sum.toDouble / c0.size / 255.0) < 1e-12)
    }
  }

  test("sliding token chunks: full coverage, stride offsets, window-stride " +
      "overlap, truncated tail, single-window doc") {
    import spark.implicits._
    val text = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val docs = Seq((1L, text), (2L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.slidingChunks(docs, "doc_id", "text",
        window = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: starts 0,3,6,9 → windows of 4 with the last truncated to 1
    assert(got.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, 4L, "w1 w2 w3 w4"),
      (1L, 1L, 4L, "w4 w5 w6 w7"),
      (1L, 2L, 4L, "w7 w8 w9 w10"),
      (1L, 3L, 1L, "w10")))
    // consecutive chunks share window - stride = 1 token
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 1L, "solo")))
    // every token appears in at least one chunk (coverage)
    val covered = got.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
  }

  test("line repetition: occurrence and char-weighted duplicate-line " +
      "fractions, paragraph split, empty-doc zeros") {
    import spark.implicits._
    val docs = Seq(
      // 4 lines, "dup" twice → dup_line_frac (4-3)/4; chars: dup=3×2,
      // unique=4+2 → dup_char_frac 3/12
      (1L, "dup\nlong\ndup\nxy"),
      // all lines distinct
      (2L, "a\nb\nc"),
      // paragraphs: "p1" twice of 3 paras → dup_para_frac 1/3
      (3L, "p1\n\np2\n\np1"),
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.lineRepetition(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("lr_dup_line_frac"),
          r.getAs[Double]("lr_dup_line_char_frac"),
          r.getAs[Double]("lr_dup_para_frac")))).toMap
    assert(got(1L) == ((0.25, 0.25, 0.0)))
    assert(got(2L) == ((0.0, 0.0, 0.0)))
    assert(got(3L)._3 == 0.3333)
    // empty text splits to one empty line: no duplicates, zero chars
    assert(got(4L) == ((0.0, 0.0, 0.0)))
    // separators are literal, not regex: a '.' separator must not split
    // on every character
    val lit0 = Seq((1L, "ab.ab.cd")).toDF("doc_id", "text")
    val r = TextAnalysis.lineRepetition(lit0, "text", lineSep = ".",
      paraSep = "..").collect().head
    assert(r.getAs[Double]("lr_dup_line_frac") == 0.3333) // ab,ab,cd
  }

  test("char-gram repetition: top and duplicated 3-gram fractions over " +
      "occurrences; short docs are zero") {
    import spark.implicits._
    // "aaaa" → grams aaa,aaa → top 1.0 dup 1.0; "abcabc" → grams
    // abc,bca,cab,abc → top 2/4, dup 2/4; "ab" shorter than n → 0,0
    val docs = Seq((1L, "aaaa"), (2L, "abcabc"), (3L, "ab"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charGramRepetition(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("cg_top3_frac"), r.getAs[Double]("cg_dup3_frac"))))
      .toMap
    assert(got(1L) == ((1.0, 1.0)))
    assert(got(2L) == ((0.5, 0.5)))
    assert(got(3L) == ((0.0, 0.0)))
  }

  test("GIF/WebP header decode: dims round-trip, truncated and corrupt " +
      "payloads read as unrecognized (null), other formats unaffected") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticGif(6)),            // 16x10 per synthDims(6)
      (2L, Multimodal.syntheticWebp(7)),           // 20x11
      (3L, Multimodal.syntheticGif(6).take(9)),    // torn mid-descriptor
      (4L, Multimodal.syntheticWebp(7).take(20)),  // torn before dims
      (5L, "GIFX9a1234567890".getBytes("US-ASCII")), // bad magic
      (6L, Multimodal.syntheticBmp(3)))            // other format untouched
    val got = rows.toDF("id", "payload")
      .select(col("id"), Multimodal.imageFormat(col("payload")).as("fmt"),
        Multimodal.imageWidth(col("payload")).as("w"),
        Multimodal.imageHeight(col("payload")).as("h"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[String]("fmt")), Option(r.getAs[Any]("w")),
          Option(r.getAs[Any]("h")))).toMap
    assert(got(1L) == ((Some("gif"), Some(16), Some(10))))
    assert(got(2L) == ((Some("webp"), Some(20), Some(11))))
    assert(got(3L)._1.isEmpty && got(3L)._2.isEmpty)
    assert(got(4L)._1.isEmpty && got(4L)._2.isEmpty)
    assert(got(5L)._1.isEmpty)
    assert(got(6L)._1.contains("bmp") && got(6L)._2.contains(20))
    // 24-bit WebP fields: a large canvas (e.g. 10000x8000) round-trips
    val big = {
      val b = Multimodal.syntheticWebp(0)
      // overwrite dims with 10000-1 / 8000-1
      def w24(off: Int, v: Int): Unit = {
        b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
        b(off + 2) = ((v >> 16) & 0xFF).toByte
      }
      w24(24, 9999); w24(27, 7999); b
    }
    val bigRow = Seq((9L, big)).toDF("id", "payload")
      .select(Multimodal.imageWidth(col("payload")),
        Multimodal.imageHeight(col("payload"))).collect()(0)
    assert(bigRow.getInt(0) == 10000 && bigRow.getInt(1) == 8000)
  }

  test("RateAggregator merge is exact across a partition boundary of " +
      "in-order data (boundary delta reconstructed, reset-aware)") {
    import graft.functions.Rate
    val agg = new Rate.RateAggregator
    def red(ss: Seq[(Long, Double)]) =
      ss.foldLeft(agg.zero)((b, s) => agg.reduce(b, Rate.Sample(s._1, s._2)))
    // monotonic counter split mid-stream: true increase 30 over 3 s
    val whole = red(Seq((1000L, 0.0), (2000L, 10.0), (3000L, 20.0), (4000L, 30.0)))
    val a = red(Seq((1000L, 0.0), (2000L, 10.0)))
    val b = red(Seq((3000L, 20.0), (4000L, 30.0)))
    assert(agg.finish(agg.merge(a, b)) == agg.finish(whole))
    assert(agg.finish(agg.merge(b, a)) == agg.finish(whole)) // order-free
    assert(agg.finish(whole) == 30.0 / 3.0)
    // counter RESET exactly at the boundary: post-reset value counts fully
    val w2 = red(Seq((1000L, 10.0), (2000L, 20.0), (3000L, 5.0), (4000L, 9.0)))
    val a2 = red(Seq((1000L, 10.0), (2000L, 20.0)))
    val b2 = red(Seq((3000L, 5.0), (4000L, 9.0)))
    assert(agg.finish(agg.merge(a2, b2)) == agg.finish(w2))
    assert(agg.finish(w2) == (10.0 + 5.0 + 4.0) / 3.0)
    // three-way associativity (Spark may merge in any grouping)
    val c = red(Seq((5000L, 12.0)))
    assert(agg.finish(agg.merge(agg.merge(a2, b2), c)) ==
      agg.finish(agg.merge(a2, agg.merge(b2, c))))
    // NON-CONTIGUOUS grouping: merging the outer pair FIRST must not bake
    // in a boundary spanning the middle partial (the collapsed-span buffer
    // did: merge((P1,P3),P2) returned 12.5 where every contiguous order
    // returned 10.0)
    val p1 = red(Seq((1000L, 0.0), (2000L, 10.0)))
    val p2 = red(Seq((3000L, 20.0), (4000L, 30.0)))
    val p3 = red(Seq((5000L, 40.0)))
    val expect = agg.finish(red(Seq((1000L, 0.0), (2000L, 10.0),
      (3000L, 20.0), (4000L, 30.0), (5000L, 40.0))))
    assert(expect == 40.0 / 4.0)
    assert(agg.finish(agg.merge(agg.merge(p1, p3), p2)) == expect)
    assert(agg.finish(agg.merge(agg.merge(p3, p1), p2)) == expect)
    assert(agg.finish(agg.merge(p2, agg.merge(p1, p3))) == expect)
  }

  test("float_dot returns NULL on length-mismatched vectors (matches the " +
      "composable zip_with form), not a truncated partial product") {
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f, 5.0f))).toDF("a", "b")
    val got = df.select(VectorFunctions.floatDot(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == 11.0)
    assert(got(1).isNullAt(0), "mismatched lengths must yield null")
    // the composable form agrees
    val composable = df.select(aggregate(zip_with(col("a"), col("b"),
      (x, y) => x * y), lit(0.0), (acc, x) => acc + x)).collect()
    assert(composable(0).getDouble(0) == 11.0 && composable(1).isNullAt(0))
    // a NULL ELEMENT (partially-backfilled embedding) poisons the result
    // too — its zeroed storage slot must not multiply as 0.0
    val withNull = Seq((Seq[java.lang.Double](1.0, null, 3.0),
      Seq[java.lang.Double](1.0, 1.0, 1.0))).toDF("a", "b")
    val gn = withNull.select(
      VectorFunctions.floatDot(col("a"), col("b"))).collect()
    assert(gn(0).isNullAt(0), "null element must yield null, not a partial dot")
  }

  test("CDC rolling hash computes the identical cut positions as the " +
      "direct window polynomial") {
    import graft.functions.{CdcCutBounds, TextFunctions}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // alphabets chosen to hit cuts often at maskBits=3..5
    val texts = (0 until 40).map { i =>
      val n = rnd.nextInt(400)
      (i.toLong, (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    }
    def naive(text: String, window: Int, maskBits: Int): Seq[Long] = {
      val cps = text.codePoints().toArray
      val n = cps.length
      val mask = (1L << maskBits) - 1L
      val pw = CdcCutBounds.pows(window)
      val out = scala.collection.mutable.ArrayBuffer[Long](0L)
      if (n >= window) {
        var i = window
        while (i <= n) {
          var h = 0L
          var j = 0
          while (j < window) { h = (h + cps(i - window + j) * pw(j)) % CdcCutBounds.M; j += 1 }
          if ((h & mask) == 0L && i < n) out += i.toLong
          i += 1
        }
      }
      out += n.toLong
      out.toSeq
    }
    for ((window, maskBits) <- Seq((16, 5), (8, 3), (1, 4), (5, 4))) {
      val got = texts.toDF("id", "text")
        .select(col("id"), TextFunctions.cdcCutBounds(col("text"), window, maskBits).as("b"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      texts.foreach { case (id, text) =>
        assert(got(id) == naive(text, window, maskBits),
          s"cut drift for id=$id window=$window maskBits=$maskBits")
      }
    }
  }

  test("synthesizeScaled past the dim-64 rotation space: the second " +
      "revolution NEGATES vectors (round 15), so copy 64+c never fuses " +
      "with copy c's near-dup family; copies < 64 stay bit-identical") {
    import org.apache.spark.sql.functions.col
    val src = "/root/testdata/sf0.001"
    val out = java.nio.file.Files
      .createTempDirectory("graft-scaled65").toString
    graft.SparkEntry.synthesizeScaled(spark, src, out, copies = 65)
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val base = spark.read.parquet(s"$src/embeddings.parquet")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toList).toMap
    // copy 0 is the source verbatim
    val c0 = emb.filter(col("vec_id") < 10000000L).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toList)
      .toMap
    assert(c0 == base)
    // copy 64 = shift 0, negated: exactly -1 x the source, elementwise
    val c64 = emb.filter(col("vec_id") >= 64L * 10000000L &&
        col("vec_id") < 65L * 10000000L).collect()
      .map(r => (r.getAs[Long]("vec_id") - 64L * 10000000L) ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toList).toMap
    assert(c64.keySet == base.keySet)
    c64.foreach { case (id, v) =>
      assert(v == base(id).map(x => -x), s"vec $id is not the negation")
    }
    // text side, past the 26-rotation space: copy 26 (k=1) REVERSES the
    // rotated text, copy 52 (k=2) swaps case — cross-copy shingles stay
    // disjoint instead of fusing copies c and c+26 into one family
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val srcDocs = spark.read.parquet(s"$src/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def copyTexts(c: Long): Map[Long, String] =
      docs.filter(col("doc_id") >= c * 10000000L &&
          col("doc_id") < (c + 1) * 10000000L).collect()
        .map(r => (r.getAs[Long]("doc_id") - c * 10000000L) ->
          r.getAs[String]("text")).toMap
    val abc = "abcdefghijklmnopqrstuvwxyz"
    val up = abc.toUpperCase
    val dig = "0123456789"
    def tr(t: String, from: String, to: String): String =
      t.map(ch => { val i = from.indexOf(ch); if (i >= 0) to(i) else ch })
    // copy 26: rotation 0, digit-rot 6, reversed
    val c26 = copyTexts(26L)
    srcDocs.foreach { case (id, t) =>
      val expect = tr(t, dig, dig.drop(6) + dig.take(6)).reverse
      assert(c26(id) == expect, s"doc $id copy 26 is not reverse+digit-rot")
    }
    // copy 52: rotation 0, digit-rot 2, case-swapped, forward
    val c52 = copyTexts(52L)
    srcDocs.foreach { case (id, t) =>
      val expect = tr(t, abc + up + dig,
        up + abc + dig.drop(2) + dig.take(2))
      assert(c52(id) == expect, s"doc $id copy 52 is not swapcase+digit-rot")
    }
  }
}
