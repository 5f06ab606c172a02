package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: regex vs whitespace vs distinct") {
    val df = Seq((1L, "the cat  sat, on the mat!")).toDF("id", "text")
    val t = TextAnalysis.tokens(col("text"))
    val row = df.select(
      size(t).cast("long"),
      TextAnalysis.wsTokenCount(col("text")),
      size(array_distinct(t)).cast("long"),
      TextAnalysis.bpeEstimate(t)).as[(Long, Long, Long, Long)].collect().head
    assert(row._1 == 6)      // the cat sat on the mat
    assert(row._2 == 6)      // whitespace groups
    assert(row._3 == 5)      // 'the' twice
    assert(row._4 == 6)      // all tokens <= 4 chars -> 1 unit each
  }

  test("fused wordNgrams equals the declarative formulation on every edge") {
    // edges: normal text, duplicate grams (distinct order), exactly n
    // tokens, sub-n tokens, empty, single token, unicode, repeated words
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "a", "b", "a", "b")), // duplicate grams
      (3L, Seq("x", "y")),                      // exactly n for n=2
      (4L, Seq("only")),                        // sub-n
      (5L, Seq.empty[String]),
      (6L, Seq("\u00fcber", "stra\u00dfe", "caf\u00e9")),
      (7L, Seq("w", "w", "w", "w"))).toDF("id", "toks")
    for (n <- Seq(1, 2, 3)) {
      val got = df.select(col("id"),
        TextAnalysis.wordNgrams(col("toks"), n).as("g")).orderBy("id")
        .as[(Long, Seq[String])].collect()
      val want = df.select(col("id"),
        DeclarativeTwins.wordNgrams(col("toks"), n).as("g")).orderBy("id")
        .as[(Long, Seq[String])].collect()
      assert(got.toSeq == want.toSeq, s"n=$n")
    }
    // null input: the declarative when-guard yields the EMPTY array
    val nullDf = Seq((1L, null.asInstanceOf[Seq[String]])).toDF("id", "toks")
    val g = nullDf.select(TextAnalysis.wordNgrams(col("toks"), 2))
      .as[Seq[String]].collect().head
    val w = nullDf.select(DeclarativeTwins.wordNgrams(col("toks"), 2))
      .as[Seq[String]].collect().head
    assert(g == Seq.empty && w == Seq.empty)
  }

  test("fused fingerprints equals the declarative formulation on every edge") {
    // edges: long ascii text, text with repeated content (duplicate grams,
    // distinct order), exactly k chars, sub-k (one whole-text gram), empty
    // string (one md5("") gram), multi-byte chars (char-addressed grams),
    // text crossing the k boundary by one
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog " * 20),
      (2L, "abcabcabcabcabcabcabcabcabcabc"),
      (3L, "exactly8"),
      (4L, "short"),
      (5L, ""),
      (6L, "über straße café 日本語 text here"),
      (7L, "ninechars")).toDF("id", "text")
    for ((k, p) <- Seq((8, 16), (4, 4), (8, 1))) {
      val got = df.select(col("id"),
        TextAnalysis.fingerprints(col("text"), k, p).as("f")).orderBy("id")
        .as[(Long, Seq[Long])].collect()
      val want = df.select(col("id"),
        DeclarativeTwins.fingerprints(col("text"), k, p).as("f")).orderBy("id")
        .as[(Long, Seq[Long])].collect()
      assert(got.toSeq == want.toSeq, s"k=$k p=$p")
    }
    // null input: both yield the EMPTY array — greatest(null-7, 1) SKIPS
    // the null (yields 1), and filter drops the null-hash element
    val nullDf = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
    val g = nullDf.select(TextAnalysis.fingerprints(col("text")))
      .as[Seq[Long]].collect().head
    val w = nullDf.select(DeclarativeTwins.fingerprints(col("text")))
      .as[Seq[Long]].collect().head
    assert(g == Seq.empty && w == Seq.empty)
  }

  test("BPE pre-tokenizer: contractions, space-prefixed runs, punctuation") {
    val df = Seq((1L, "I'll say: don't touch GPT2's 42 tokens!!")).toDF("id", "text")
    val segs = df.select(TextAnalysis.bpePreTokens(col("text")))
      .as[Seq[String]].collect().head
    // contraction suffixes split off; letter/digit runs keep their leading
    // space; punctuation runs group; trailing whitespace never lost
    assert(segs == Seq("I", "'ll", " say", ":", " don", "'t", " touch",
      " GPT", "2", "'s", " 42", " tokens", "!!"))
    assert(segs.mkString == "I'll say: don't touch GPT2's 42 tokens!!")
    val n = df.select(TextAnalysis.bpePreTokenCount(col("text")))
      .as[Long].collect().head
    assert(n == segs.length)
  }

  test("trigram language ID classifies full sentences in all four languages") {
    val df = Seq(
      (1L, "The committee published the findings of the investigation this morning."),
      (2L, "Die Untersuchung wurde von der Regierung durchgeführt und veröffentlicht."),
      (3L, "La investigación fue publicada por el gobierno de la nación esta semana."),
      (4L, "Les résultats de l'enquête ont été publiés par le gouvernement.")
    ).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.predictedLangTrigram(col("text")))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr"))
  }

  test("trigram language ID works on short text where stopword hits are zero") {
    // no function words at all -> the stopword heuristic defaults to en
    val df = Seq((1L, "Durchführung wichtiger Entscheidungen")).toDF("id", "text")
    val toks = TextAnalysis.tokens(col("text"))
    val (tri, stop) = df.select(
      TextAnalysis.predictedLangTrigram(col("text")),
      TextAnalysis.predictedLang(
        TextAnalysis.hits(toks, TextAnalysis.StopEn),
        TextAnalysis.hits(toks, TextAnalysis.StopDe),
        TextAnalysis.hits(toks, TextAnalysis.StopEs),
        TextAnalysis.hits(toks, TextAnalysis.StopFr))).as[(String, String)].collect().head
    assert(stop == "en") // zero hits everywhere, tie-break picks en
    assert(tri == "de")  // trigram profiles see sch/ung/ich/eit
  }

  test("charTrigrams pads boundaries and dedups") {
    val tris = Seq(Tuple1("aba")).toDF("text")
      .select(TextAnalysis.charTrigrams(col("text"))).as[Seq[String]].collect().head
    assert(tris == Seq(" ab", "aba", "ba ")) // from " aba "
  }

  test("quality score is bounded and monotone in richness") {
    val df = Seq(
      (1L, "the of and to in is a " * 10 + "meaningful words appear here too"),
      (2L, "@@@@ #### 1234 %%%% !!!!")).toDF("id", "text")
    val t = TextAnalysis.tokens(col("text"))
    val scores = df.select(col("id"), TextAnalysis.qualityScore(col("text"), t))
      .as[(Long, Double)].collect().toMap
    assert(scores.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(1L) > scores(2L))
  }

  test("language ID picks the list with most hits, tie-break order en>de>es>fr") {
    val df = Seq(
      (1L, "der hund und die katze ist ein tier"),
      (2L, "el perro es un animal de la casa"),
      (3L, "xyz qrs tuv")).toDF("id", "text")
    val t = TextAnalysis.tokens(col("text"))
    val (en, de, es, fr) = (TextAnalysis.hits(t, TextAnalysis.StopEn),
      TextAnalysis.hits(t, TextAnalysis.StopDe),
      TextAnalysis.hits(t, TextAnalysis.StopEs),
      TextAnalysis.hits(t, TextAnalysis.StopFr))
    val preds = df.select(col("id"), TextAnalysis.predictedLang(en, de, es, fr))
      .as[(Long, String)].collect().toMap
    assert(preds(1L) == "de")
    assert(preds(2L) == "es")
    assert(preds(3L) == "en") // zero hits everywhere -> tie-break
  }

  test("fingerprints: shared substrings produce shared fingerprints") {
    val shared = "abcdefghijklmnopqrstuvwxyz0123456789" * 3
    val df = Seq(
      (1L, "PREFIX-" + shared),
      (2L, shared + "-SUFFIX"),
      (3L, "no overlap with anything else at all zzz")).toDF("id", "text")
    val fp = TextAnalysis.fingerprints(col("text"))
    val rows = df.select(col("id"), fp).as[(Long, Seq[Long])].collect().toMap
    assert(rows(1L).toSet.intersect(rows(2L).toSet).nonEmpty)
    assert(rows(1L).toSet.intersect(rows(3L).toSet).isEmpty)
  }

  test("word n-gram shingles are ordered and distinct") {
    val df = Seq((1L, "a b c a b c")).toDF("id", "text")
    val toks = TextAnalysis.tokens(col("text"))
    val grams = df.select(TextAnalysis.wordNgrams(toks, 2)).as[Seq[String]].collect().head
    assert(grams.toSet == Set("a b", "b c", "c a"))
  }

  test("wordNgrams is total: sub-n documents yield the empty set, not a crash") {
    // sequence(1, size-(n-1)) DESCENDS for short docs; element_at(toks, 0)
    // then threw INVALID_INDEX_OF_ZERO and killed the whole query
    val df = Seq((1L, ""), (2L, "one"), (3L, "just two"), (4L, "a b c d"))
      .toDF("id", "text")
    val toks = TextAnalysis.tokens(col("text"))
    val grams = df.select(col("id"), TextAnalysis.wordNgrams(toks, 3))
      .as[(Long, Seq[String])].collect().toMap
    assert(grams(1L).isEmpty && grams(2L).isEmpty && grams(3L).isEmpty)
    assert(grams(4L).toSet == Set("a b c", "b c d"))
  }

  test("wsTokenCount: empty and whitespace-only text count zero tokens") {
    val df = Seq((1L, ""), (2L, "   "), (3L, "two words")).toDF("id", "text")
    val got = df.select(col("id"), TextAnalysis.wsTokenCount(col("text")))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 2L))
  }

  test("stripMarkup decodes entities exactly once (no &amp;-first double decode)") {
    // double-encoded markup must decode ONE level, never re-materialize
    // literal angle brackets in 'markup-free' text
    val df = Seq((1L, "use &amp;lt;script&amp;gt; tags"),
      (2L, "a &amp; b &lt;ok&gt;")).toDF("id", "html")
    val got = df.select(col("id"), TextAnalysis.stripMarkup(col("html")))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "use &lt;script&gt; tags")
    assert(got(2L) == "a & b <ok>")
  }

  test("fused qualityCounts metrics equal the declarative formulations on every edge") {
    // edges: normal English with stopwords (multiset: 'the' twice), empty,
    // whitespace-only, null, punctuation-only, digits/underscores (\w but
    // not alpha), non-ASCII letters (break \w runs AND count as chars, not
    // alpha), a 4-byte supplementary codepoint, uppercase stopword (case-
    // sensitive: no hit), mixed-language stopwords, very long token
    val texts = Seq(
      "the cat sat on the mat, a dog is here too",
      "", "   ", null,
      "!!! ... ???",
      "a_b 123 __x 4ever _",
      "über straße café der und",
      "𝔘nicode 𝔘 pair",
      "The A Of And TO In IS",
      "el la de los the und est une",
      "x" * 500 + " the " + "y" * 300,
      "中文文本 the end")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val t = TextAnalysis.tokens(col("text"))
    val qc = col("qc")
    val fused = df.select(col("id"), TextAnalysis.qualityCounts(col("text")).as("qc"))
      .select(col("id"),
        qc.getField("n_chars"), TextAnalysis.alphaRatioOf(qc),
        TextAnalysis.meanTokenLenOf(qc), TextAnalysis.stopRatioOf(qc),
        TextAnalysis.qualityScoreOf(qc),
        TextAnalysis.stopHitsOf(qc)._1, TextAnalysis.stopHitsOf(qc)._2,
        TextAnalysis.stopHitsOf(qc)._3, TextAnalysis.stopHitsOf(qc)._4)
      .orderBy("id").collect()
    val want = df.select(col("id"),
        length(col("text")).cast("long"), TextAnalysis.alphaRatio(col("text")),
        TextAnalysis.meanTokenLen(t), TextAnalysis.stopRatio(t),
        TextAnalysis.qualityScore(col("text"), t),
        TextAnalysis.hits(t, TextAnalysis.StopEn),
        TextAnalysis.hits(t, TextAnalysis.StopDe),
        TextAnalysis.hits(t, TextAnalysis.StopEs),
        TextAnalysis.hits(t, TextAnalysis.StopFr))
      .orderBy("id").collect()
    fused.zip(want).foreach { case (f, w) =>
      (0 until f.length).foreach { i =>
        val (a, b) = (if (f.isNullAt(i)) null else f.get(i),
          if (w.isNullAt(i)) null else w.get(i))
        // doubles must be BIT-identical, not approximately equal — these
        // columns feed hash-gated oracle queries
        assert(a == b, s"row id=${f.get(0)} col $i: fused=$a declarative=$b")
      }
    }
  }
}
