package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.catalog.{Materialized, Snapshots}

class MaterializedSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_mat").toString

  private val v1 = Seq(
    (1L, "alpha beta", "0"), (2L, "beta gamma", "0"), (3L, "gamma delta", "1"))

  private def corpusOf(root: String): String = {
    val dir = s"$root/corpus"
    Snapshots.init(spark, dir, v1.toDF("doc_id", "text", "part"), Some("part"))
    dir
  }

  // 1→1 derivation: per-doc token stats, bucketed by doc_id parity
  private def stats(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      size(graft.functions.TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"),
      length(col("text")).cast("long").as("n_chars"),
      pmod(col("doc_id"), lit(2L)).cast("string").as("bkt"))

  // 1→N derivation: the MinHash sketch rows (id, sig), same machinery the
  // dedup index persists — keyed by id, bucketed by id parity
  private def sketchRows(df: DataFrame): DataFrame =
    graft.operators.Dedup.sketch(df, "doc_id", "text")
      .withColumn("bkt", pmod(col("id"), lit(2L)).cast("string"))

  private def mutate(corpus: String): Unit = {
    Snapshots.upsert(spark, corpus,
      Seq((2L, "beta epsilon zeta", "0")).toDF("doc_id", "text", "part"), Seq("doc_id"))
    Snapshots.delete(spark, corpus,
      Seq((3L, "1")).toDF("doc_id", "part"), Seq("doc_id"))
    Snapshots.upsert(spark, corpus,
      Seq((9L, "omega", "1")).toDF("doc_id", "text", "part"), Seq("doc_id"))
  }

  test("a per-doc stats table follows corpus mutations; incremental == from-scratch") {
    val root = freshRoot()
    val corpus = corpusOf(root)
    val derived = s"$root/stats"
    Materialized.init(spark, corpus, derived, "bkt")(stats)
    mutate(corpus)
    assert(Materialized.reconcile(spark, corpus, derived, "bkt", Seq("doc_id"))(stats)
      .contains((1, Snapshots.currentVersion(spark, corpus))))
    val got = Snapshots.read(spark, derived)
      .select("doc_id", "n_toks", "n_chars").as[(Long, Long, Long)].collect().toSet
    val want = stats(Snapshots.read(spark, corpus))
      .select("doc_id", "n_toks", "n_chars").as[(Long, Long, Long)].collect().toSet
    assert(got == want && got.map(_._1) == Set(1L, 2L, 9L))
    // already-current reconcile is a no-op
    assert(Materialized.reconcile(spark, corpus, derived, "bkt", Seq("doc_id"))(stats).isEmpty)
  }

  test("the dedup sketch index follows the corpus through the same primitive") {
    val root = freshRoot()
    val corpus = corpusOf(root)
    val derived = s"$root/sketch"
    Materialized.init(spark, corpus, derived, "bkt")(sketchRows)
    mutate(corpus)
    Materialized.reconcile(spark, corpus, derived, "bkt", Seq("id"))(sketchRows)
    val got = Snapshots.read(spark, derived)
      .select("id", "sig").as[(Long, Seq[Long])].collect().toMap
    val want = sketchRows(Snapshots.read(spark, corpus))
      .select("id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(got == want, "maintained sketch index diverged from a fresh sketch")
    assert(got(2L) != sketchRows(v1.toDF("doc_id", "text", "part"))
      .filter(col("id") === 2L).select("sig").as[Seq[Long]].collect().head,
      "updated doc kept its stale signature")
  }

  test("content-neutral corpus commits (compaction) cause zero derived churn") {
    val root = freshRoot()
    val corpus = corpusOf(root)
    val derived = s"$root/stats"
    Materialized.init(spark, corpus, derived, "bkt")(stats)
    val derivedV = Snapshots.currentVersion(spark, derived)
    // corpus compaction rewrites files but not content: the diff's
    // exceptAll cancels, the feed is empty, and the derived table must
    // not commit new versions (only the marker advances)
    Snapshots.compactPartitions(spark, corpus, Seq("0"), sortBy = Some("doc_id"))
    assert(Materialized.reconcile(spark, corpus, derived, "bkt", Seq("doc_id"))(stats)
      .isDefined)
    assert(Snapshots.currentVersion(spark, derived) == derivedV,
      "a content-neutral corpus commit churned the derived table")
    assert(Materialized.reflects(derived) == Snapshots.currentVersion(spark, corpus))
  }

  // partition-local aggregate: grouped by the corpus partition column
  // (plus a second key), with a non-additive bit_xor to prove maintenance
  // is recompute-scoped, not delta arithmetic
  private def aggOf(df: DataFrame): DataFrame =
    df.groupBy(col("part"), substring(col("text"), 1, 1).as("ini"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        expr("bit_xor(doc_id)").as("xor_id"))

  test("a maintained GROUP BY table follows corpus mutations; maintained == from-scratch") {
    val root = freshRoot()
    val corpus = corpusOf(root)
    val derived = s"$root/agg"
    Materialized.init(spark, corpus, derived, "part")(aggOf)
    mutate(corpus)
    assert(Materialized.reconcileAgg(spark, corpus, derived, "part")(aggOf)
      .contains((1, Snapshots.currentVersion(spark, corpus))))
    val got = Snapshots.read(spark, derived)
      .select("part", "ini", "n_docs", "sum_chars", "xor_id")
      .as[(String, String, Long, Long, Long)].collect().toSet
    val want = aggOf(Snapshots.read(spark, corpus))
      .select("part", "ini", "n_docs", "sum_chars", "xor_id")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(got == want, "maintained aggregate diverged from a fresh aggregate")
    // already-current reconcile is a no-op
    assert(Materialized.reconcileAgg(spark, corpus, derived, "part")(aggOf).isEmpty)
  }

  test("an emptied partition's aggregate rows disappear") {
    val root = freshRoot()
    val corpus = corpusOf(root)
    val derived = s"$root/agg"
    Materialized.init(spark, corpus, derived, "part")(aggOf)
    Snapshots.delete(spark, corpus,
      Seq((3L, "1")).toDF("doc_id", "part"), Seq("doc_id")) // partition 1 empties
    Materialized.reconcileAgg(spark, corpus, derived, "part")(aggOf)
    val parts = Snapshots.read(spark, derived)
      .select("part").distinct().as[String].collect().toSet
    assert(parts == Set("0"), s"emptied partition still has aggregate rows: $parts")
  }

  test("corpus compaction restates the partition identically (manifest-touched superset)") {
    val root = freshRoot()
    val corpus = corpusOf(root)
    val derived = s"$root/agg"
    Materialized.init(spark, corpus, derived, "part")(aggOf)
    val before = Snapshots.read(spark, derived)
      .select("part", "ini", "n_docs", "sum_chars", "xor_id")
      .as[(String, String, Long, Long, Long)].collect().toSet
    // content-neutral corpus commit: manifest-level touched detection
    // restates partition 0 (the data diff would have seen it as empty);
    // the restated values must be identical — convergence, at the cost of
    // one redundant derived commit
    Snapshots.compactPartitions(spark, corpus, Seq("0"), sortBy = Some("doc_id"))
    assert(Materialized.reconcileAgg(spark, corpus, derived, "part")(aggOf).isDefined)
    val after = Snapshots.read(spark, derived)
      .select("part", "ini", "n_docs", "sum_chars", "xor_id")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(after == before, "content-neutral restatement changed aggregate values")
    assert(Materialized.reflects(derived) == Snapshots.currentVersion(spark, corpus))
  }

  test("aggregate marker rollback (crash replay) converges") {
    val root = freshRoot()
    val corpus = corpusOf(root)
    val derived = s"$root/agg"
    Materialized.init(spark, corpus, derived, "part")(aggOf)
    mutate(corpus)
    Materialized.reconcileAgg(spark, corpus, derived, "part")(aggOf)
    val before = Snapshots.read(spark, derived)
      .select("part", "ini", "n_docs", "sum_chars", "xor_id")
      .as[(String, String, Long, Long, Long)].collect().toSet
    Files.write(java.nio.file.Paths.get(derived, "_reflects"), "1".getBytes("UTF-8"))
    Materialized.reconcileAgg(spark, corpus, derived, "part")(aggOf)
    val after = Snapshots.read(spark, derived)
      .select("part", "ini", "n_docs", "sum_chars", "xor_id")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(after == before, "re-applied aggregate maintenance diverged")
  }

  test("marker rollback (crash between maintenance and marker) converges") {
    val root = freshRoot()
    val corpus = corpusOf(root)
    val derived = s"$root/stats"
    Materialized.init(spark, corpus, derived, "bkt")(stats)
    mutate(corpus)
    Materialized.reconcile(spark, corpus, derived, "bkt", Seq("doc_id"))(stats)
    val before = Snapshots.read(spark, derived)
      .select("doc_id", "n_toks").as[(Long, Long)].collect().toSet
    Files.write(java.nio.file.Paths.get(derived, "_reflects"), "1".getBytes("UTF-8"))
    Materialized.reconcile(spark, corpus, derived, "bkt", Seq("doc_id"))(stats)
    val after = Snapshots.read(spark, derived)
      .select("doc_id", "n_toks").as[(Long, Long)].collect().toSet
    assert(after == before, "re-applied feed diverged")
    assert(Materialized.reflects(derived) == Snapshots.currentVersion(spark, corpus))
  }

  test("the change-feed split, the keyed commit and the _reflects marker live only in Materialized.scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root))
    def src(f: java.nio.file.Path) = new String(Files.readAllBytes(f), "UTF-8")
    val feedOrMarker = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !f.endsWith("catalog/Materialized.scala"))
      .filter { f => val text = src(f); Seq("_reflects", "col(\"_change\")").exists(text.contains) }
      .map(root.relativize).toSeq
    val keyedCommit = Seq("operators/InvertedIndex.scala", "operators/Ivf.scala")
      .filter(f => src(root.resolve(f)).contains("applyKeyed"))
    val offenders = (feedOrMarker.map(_.toString) ++ keyedCommit).distinct.sorted
    assert(offenders.isEmpty,
      s"apply change feeds and keep the marker through catalog.Materialized: ${offenders.mkString(", ")}")
  }
}
