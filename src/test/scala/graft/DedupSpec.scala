package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.Hashing

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
  private val nearDup = base.replace("lazy", "sleepy") // one token changed
  private def corpus = Seq(
    (0L, base), (1L, nearDup), (2L, base), // 2 is an EXACT dup of 0
    (3L, "completely different words about spark catalyst optimizer plans and shuffles here"),
    (4L, "another unrelated document mentioning parquet files and column pruning at scale"))
    .toDF("doc_id", "text")

  test("h60/h28 match a driver-side md5 computation") {
    val got = corpus.select(Hashing.h60(col("text")), Hashing.h28(col("text")))
      .as[(Long, Long)].collect().head
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(base.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got._1 == java.lang.Long.parseLong(hex.take(15), 16))
    assert(got._2 == java.lang.Long.parseLong(hex.take(7), 16))
  }

  test("exactDedup keeps min id and counts copies") {
    val out = Dedup.exactDedup(corpus, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((0L, 2L), (1L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text", theta = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L))) // exact dup
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L))) // near dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L))
  }

  test("sorted-merge verification: jac bit-equals the array_intersect formulation") {
    // the declarative form the verify path replaced — recomputed here over
    // the SAME sketch so any divergence (ordering, duplicate handling,
    // double arithmetic) fails bit-exactly
    val sk = Dedup.sketch(corpus, "doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (3L, 4L)).toDF("a", "b")
    val got = Dedup.verifyJaccard(pairs, sk)
      .as[(Long, Long, Double)].collect().toMap2
    val ga = sk.select(col("id").as("a"), col("shingles").as("sa"))
    val gb = sk.select(col("id").as("b"), col("shingles").as("sb"))
    val want = pairs.join(ga, "a").join(gb, "b")
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac", col("n_inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("n_inter")).cast("double"))
      .select("a", "b", "jac").as[(Long, Long, Double)].collect().toMap2
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ==
        java.lang.Double.doubleToLongBits(want(k)), s"jac diverged for $k")
    }
  }

  implicit private class TripleOps(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] =
      rows.map { case (a, b, j) => (a, b) -> j }.toMap
  }

  test("cross-corpus near-dup emits only history x new pairs") {
    // history: 0 and its near-dup 1; batch: exact dup of 0 (10), near-dup
    // of 0 (11), unrelated (12), and 13 = exact dup of 11 (a NEW x NEW
    // pair that must NOT be emitted — that's the incremental contract)
    val history = Seq((0L, base), (1L, nearDup),
      (2L, "completely different words about spark catalyst optimizer plans and shuffles here"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, base), (11L, base.replace("quick", "rapid")),
      (12L, "another unrelated document mentioning parquet files and column pruning at scale"),
      (13L, base.replace("quick", "rapid")))
      .toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusNearDups(history, batch, "doc_id", "text")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 10L))) // exact dup found
    assert(pairs.contains((0L, 11L)) && pairs.contains((0L, 13L))) // near dups
    assert(pairs.forall { case (a, b) => a < 10L && b >= 10L }) // cross only
    assert(!pairs.exists(p => p._2 == 12L)) // unrelated never pairs
  }

  test("sketch index: persisted history sketch gives identical cross-corpus pairs") {
    val tmpSrc = java.nio.file.Files.createTempDirectory("dedup_idx_src").toString
    val history = Seq((0L, base), (1L, nearDup)).toDF("doc_id", "text")
    history.write.mode("overwrite").parquet(s"$tmpSrc/hist.parquet")
    val batch = Seq((10L, base), (11L, "unrelated content about shuffle partitions"))
      .toDF("doc_id", "text")
    def index() = Dedup.ensureSketchIndex(spark,
      indexKey = s"$tmpSrc/hist-test", sourcePath = s"$tmpSrc/hist.parquet",
      corpus = spark.read.parquet(s"$tmpSrc/hist.parquet"),
      idCol = "doc_id", textCol = "text")
    val viaIndex = Dedup.crossCorpusNearDupsIndexed(index(), batch, "doc_id", "text")
      .select("a", "b").as[(Long, Long)].collect().toSet
    val inline = Dedup.crossCorpusNearDups(history, batch, "doc_id", "text")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(viaIndex == inline && viaIndex == Set((0L, 10L), (1L, 10L)))
    // second call re-reads the artifact (fresh fingerprint) — and a
    // regenerated source invalidates it
    val sk1 = index().select("id").as[Long].collect().toSet
    assert(sk1 == Set(0L, 1L))
    Seq((5L, base)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmpSrc/hist.parquet")
    val sk2 = index().select("id").as[Long].collect().toSet
    assert(sk2 == Set(5L)) // rebuilt from the regenerated source
  }

  test("fast (xxhash64) near-dup pipeline finds the same duplicate pairs") {
    val md5Pairs = Dedup.minhashNearDups(corpus, "doc_id", "text", theta = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val fastPairs = Dedup.minhashNearDups(corpus, "doc_id", "text", theta = 0.5,
      tier = Dedup.XxTier)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(fastPairs == md5Pairs)
  }

  test("simhash: identical docs get identical fingerprints; near-dups are close") {
    val fps = Dedup.simhash(corpus, "doc_id", "text")
      .orderBy("id").as[(Long, Long)].collect().toMap
    assert(fps(0L) == fps(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // one token of ~15 distinct bigrams changed -> ~2/15 of shingles differ
    assert(ham(fps(0L), fps(1L)) <= 15)
    assert(ham(fps(0L), fps(3L)) > 15)
    assert(ham(fps(0L), fps(1L)) < ham(fps(0L), fps(3L)))
  }

  test("simhashPairs banded join finds low-hamming pairs exactly") {
    val fps = Dedup.simhash(corpus, "doc_id", "text")
    val pairs = Dedup.simhashPairs(fps, maxHam = 5, nBands = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L || p._2 == 4L && p._1 == 3L))
  }

  test("maxBucket cap suppresses pairs from oversized buckets") {
    val sh = Dedup.shingled(corpus, "doc_id", "text", 2)
    val bnd = Dedup.bands(Dedup.signatures(sh, 32), 8, 4)
    val uncapped = Dedup.candidatePairs(bnd).count()
    val capped = Dedup.candidatePairs(bnd, maxBucket = Some(1)).count()
    assert(uncapped > 0 && capped == 0)
  }

  test("bucket cap counts history and batch docs together on every history path") {
    // history holds `n` copies of one text and the batch one more copy:
    // with n = cap every bucket of that text holds cap + 1 docs, but only
    // when both sides are counted together, so every path must drop it;
    // one history copy fewer keeps the buckets and finds the pairs
    val text = "the quick brown fox jumps over the lazy dog and runs far away today " * 3
    val novel = "a completely different well formed document about the spark optimizer " +
      "and the shuffles it plans for large scale joins in the cluster today"
    val batch = Seq((5000L, text), (5001L, novel)).toDF("doc_id", "text")
    def history(n: Int, tier: String) = Dedup.sketch(
      (0L until n.toLong).map(i => (i, text)).toDF("doc_id", "text"), "doc_id", "text", tier = tier)
    val cap = 3
    def cross(n: Int) = Dedup.crossCorpusNearDupsIndexed(history(n, Dedup.Md5Tier), batch,
      "doc_id", "text", maxBucket = Some(cap)).select("a", "b").as[(Long, Long)].collect().toSet
    def vsHist(n: Int) = Dedup.batchDropPairs(Dedup.sketch(batch, "doc_id", "text"),
        Some(history(n, Dedup.Md5Tier)), maxBucket = Some(cap))
      .filter(col("vs_hist")).select("a", "b").as[(Long, Long)].collect().toSet
    assert(cross(cap).isEmpty && vsHist(cap).isEmpty)
    val found = (0L until cap - 1L).map(a => (a, 5000L)).toSet
    assert(cross(cap - 1) == found && vsHist(cap - 1) == found)
    // the curation funnel runs at the default cap
    val full = Dedup.DefaultMaxBucket.get
    def kept(n: Int) = graft.operators.Curate.runFast(batch, "doc_id", "text", minQuality = 0.5,
        historySketch = Some(history(n, Dedup.XxTier)))
      .curated.select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept(full) == Seq(5000L, 5001L))
    assert(kept(full - 1) == Seq(5001L))
  }

  test("one LSH pair engine: one bucket cap, one banding and one Jaccard merge in src/main") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root))
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString ->
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      .toMap
    def n(text: String, s: String) = text.split(java.util.regex.Pattern.quote(s), -1).length - 1
    val dedupFile = "graft/operators/Dedup.scala"
    def member(name: String) = {
      val src = sources(dedupFile)
      val i = src.indexOf(s"  def $name(")
      if (i < 0) "" else src.substring(i, src.indexOf("\n\n", i))
    }
    val (cap, banding, merge) = (".observe(", "array_join(transform(slice(", "sortedIntersectCount(")
    // occurrences outside the one place each may appear
    val offenders = sources.toSeq.sortBy(_._1).flatMap { case (f, text) =>
      val inDedup = f == dedupFile
      Seq(
        cap -> (n(text, cap) - (if (inDedup) 1 else 0)),
        banding -> (n(text, banding) - (if (inDedup) n(member("bands"), banding) else 0)),
        merge -> (if (inDedup) n(text, merge) - n(member("verifyJaccardSources"), merge) else 0))
        .collect { case (p, stray) if stray > 0 => s"$f: $p x$stray" }
    }
    assert(offenders.isEmpty,
      s"compute LSH pairs through Dedup.lshPairs and Dedup.bands: ${offenders.mkString(", ")}")
    assert(n(sources(dedupFile), cap) == 1 && n(member("bands"), banding) == 1 &&
      n(member("verifyJaccardSources"), merge) == 1)
  }

  test("fast custom expressions match the declarative formulations") {
    val sh = Dedup.shingled(corpus, "doc_id", "text", 2)
    val fast = Dedup.signatures(sh, 32).select("id", "sig")
      .as[(Long, Seq[Long])].collect().toMap
    val slow = sh.withColumn("sig", Hashing.minhashSig(col("shingles"), 32))
      .select("id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(fast == slow)

    val fastFp = Dedup.simhash(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val slowFp = DeclarativeTwins.simhash(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fastFp == slowFp)
  }

  test("fast simhash tier separates dups from unrelated docs like the md5 tier") {
    val fps = Dedup.simhashFast(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fps(0L) == fps(2L))
    assert(ham(fps(0L), fps(1L)) < ham(fps(0L), fps(3L)))
  }

  test("dupClusters: connected components catch transitive chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val clusters = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dupClusters distributed star-contraction matches union-find on deep chains") {
    // driverThreshold = 0 forces the large-star/small-star path; the
    // graph is built to punish diameter-bound algorithms: a 120-node
    // chain (diameter 119 >> maxIter 20 — min-label propagation would
    // throw here), plus a triangle, a star, and singpair components,
    // with shuffled ids so component minima land mid-chain
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((0L until 200L).toVector)
    val chain = (0 until 119).map(i => (ids(i), ids(i + 1)))
    val triangle = Seq((ids(150), ids(151)), (ids(151), ids(152)), (ids(150), ids(152)))
    val star = (161 to 165).map(i => (ids(160), ids(i)))
    val pair = Seq((ids(170), ids(171)))
    val pairs = (chain ++ triangle ++ star ++ pair).toDF("a", "b")
    val viaStars = Dedup.dupClusters(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    val viaUnionFind = Dedup.dupClusters(pairs) // same edges, driver path
      .as[(Long, Long)].collect().toMap
    assert(viaStars == viaUnionFind)
    assert(viaStars(ids(60)) == chain.flatMap(e => Seq(e._1, e._2)).min)
  }

  test("dupClusters: self-loop pairs are dropped identically by both tiers") {
    // (5,5) once registered node 5 in the driver union-find but was
    // filtered by the distributed path — same input, different label sets
    val pairs = Seq((1L, 2L), (5L, 5L)).toDF("a", "b")
    val driver = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    val stars = Dedup.dupClusters(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(driver == stars)
    assert(driver == Map(1L -> 1L, 2L -> 1L)) // 5 carries no information
  }

  test("signature banding recall: bands x rows covers whole signature") {
    val sh = Dedup.shingled(corpus, "doc_id", "text", 2)
    val sig = Dedup.signatures(sh, 32).select("sig").as[Seq[Long]].collect()
    assert(sig.forall(_.size == 32))
    // deterministic: same input, same signature
    val sig2 = Dedup.signatures(sh, 32).select("sig").as[Seq[Long]].collect()
    assert(sig.toSeq == sig2.toSeq)
  }

  test("cdcDedup: exact dup doc is fully removed, original untouched") {
    val uniq = "the quick brown fox jumps over the lazy dog and runs far away"
    val out = Dedup.cdcDedup(
      Seq((0L, uniq), (1L, uniq),
        (2L, "totally fresh tokens nobody else uses anywhere")).toDF("doc_id", "text"),
      "doc_id", "text")
      .orderBy("id")
      .select("id", "n_chunks", "n_kept").as[(Long, Long, Long)].collect()
    assert(out(0)._2 > 0 && out(0)._2 == out(0)._3) // doc 0 keeps everything
    assert(out(1)._3 == 0)                          // doc 1 loses every chunk
    assert(out(2)._2 == out(2)._3)
  }

  test("cdcDedup: within-document repetition is removed (base repeats x4)") {
    val out = Dedup.cdcDedup(Seq((0L, base)).toDF("doc_id", "text"),
      "doc_id", "text")
      .select("n_chunks", "n_kept").as[(Long, Long)].collect().head
    assert(out._2 < out._1) // 3 of the 4 sentence copies' chunks go
  }

  test("cdcDedup is shift-invariant: shared run removed at a different offset") {
    // The shared run sits at token offset 0 in doc 0 and offset 3 in doc 1.
    // Content-defined boundaries make its interior chunks identical in
    // both docs, so doc 1 must lose chunks even though nothing aligns on
    // fixed tile boundaries.
    val run = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon") // 20 tokens
    val d0 = run + " ending words here"
    val d1 = "prefix tokens first " + run + " other suffix"
    val out = Dedup.cdcDedup(
      Seq((0L, d0), (1L, d1)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("id")
      .select("id", "n_chunks", "n_kept").as[(Long, Long, Long)].collect()
    assert(out(0)._2 == out(0)._3)      // first occurrence keeps all
    assert(out(1)._3 < out(1)._2)       // second loses the shared chunks
  }

  test("cdcDedup: empty and missing-token docs survive with zero chunks") {
    val out = Dedup.cdcDedup(
      Seq((0L, ""), (1L, "one")).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("id")
      .select("id", "n_chunks", "n_kept", "clean_len")
      .as[(Long, Long, Long, Long)].collect()
    assert(out(0) == ((0L, 0L, 0L, 0L)))
    assert(out(1) == ((1L, 1L, 1L, 3L)))
  }
}
