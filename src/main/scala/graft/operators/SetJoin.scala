package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pin

/** Exact set-similarity join by prefix filtering (the AllPairs/PPJoin
  * family — Bayardo et al. 2007, Xiao et al. 2008): find every pair of
  * sets with Jaccard ≥ t, WITHOUT the all-pairs token join. MinHash LSH
  * ([[Dedup]]) answers the same question probabilistically; this is the
  * exact-recall member of the family — record linkage and plagiarism
  * sweeps want no false negatives.
  *
  * Prefix-filter lemma: order every set by ONE global token order. If
  * |A∩B| ≥ α then the first |A|−α+1 tokens of A and first |B|−α+1 of B
  * share a token; with α = ceil(t·|s|) (J ≥ t ⟹ overlap ≥ t·|A∪B| ≥
  * t·|s| for BOTH sets), candidate generation can join on prefix tokens
  * only. The prefix bound is computed in INTEGER arithmetic
  * (t = tNum/tDen, ceil(a/b) = (a+b−1) div b) — an IEEE ceil(0.8·n)
  * rounds the wrong way for some n and silently drops candidates.
  *
  * Scale design (100 TB):
  *  - The global order is (df, xxhash64(tok), tok) — ANY total order
  *    satisfies the lemma, so the heavy stages (df count, df join,
  *    prefix self-join) key on the 8-byte hash instead of shuffling
  *    multi-byte shingle strings; the string appears only as a sort
  *    tiebreak and in verification. A hash collision can only MERGE two
  *    tokens' df classes (slightly different prefix choice — still a
  *    valid global order) or create a false-positive candidate, which
  *    verification removes; false negatives are impossible because
  *    equal tokens always share a hash.
  *  - The ascending-df order puts the corpus-RAREST tokens in the
  *    prefix, so hot-token buckets (the n² failure of a naive token
  *    join) are structurally avoided.
  *  - Verification joins full token lists on the REAL strings; the
  *    candidate-pair join itself filters the A side (a semi-join there
  *    would be redundant work — see verifiedPairs), and the B side is
  *    semi-pruned to candidate ids so the heavy (b, tok) side never
  *    carries the whole corpus. The candidate set is broadcast only
  *    while it stays under `broadcastMaxPairs` (bound- or count-gated;
  *    it is data-dependent, so an adversarial corpus must degrade to
  *    shuffle joins, not fail the driver's broadcast limit).
  *  - The element list feeds five consumers; it is pinned once
  *    ([[graft.Pin]]), not re-tokenized per consumer.
  *  - Why TWO materializations (el + cand) and not one: el is consumed
  *    both BEFORE candidate generation (df counts, sizes, prefix) and
  *    AFTER it (verification), so fusing it into cand would re-tokenize
  *    the corpus for verification; cand is consumed four times (count
  *    gate + a-ids + b-ids + the pair join) and sits downstream of the
  *    prefix self-join, so leaving it lazy re-runs that join per
  *    consumer. Measured (sf0.1): each materialization is ~1s while the
  *    irreducible verification exchange is ~2.5s — the pins are
  *    not the bottleneck, the one string-keyed shuffle is, and the
  *    B-token semi-prune below is the lever that shrinks it when the
  *    candidate vocabularies are narrow.
  *  - Each pin is released once nothing the join returns reads it:
  *    prefix as soon as cand is pinned, el when the array tier verifies,
  *    the token arrays when the exploded tier does. Every count the join
  *    gates on is the row count its pin already paid for.
  */
object SetJoin {

  /** Candidate-pair verification shared by both joins: exact string-level
    * intersection counts over the candidate ids, then set sizes re-joined.
    *
    * The candidate set is DATA-DEPENDENT: an adversarial corpus (heavy
    * template overlap) can produce a pair set too large to broadcast,
    * which would fail at the driver's broadcast limit. So the broadcast
    * is COUNT-GATED — the count is the one that pinned `cand`, and above
    * `broadcastMaxPairs` every broadcast degrades to a plain shuffle join
    * (same output, bounded memory; the [[Dedup.dupClusters]]
    * driverThreshold precedent). */
  private def verifiedPairs(el: Pin, sz: DataFrame, cand: DataFrame,
                            useBroadcast: Boolean,
                            preToks: Option[Pin],
                            pruneBTokens: Boolean = false): DataFrame = {
    val gate: DataFrame => DataFrame = if (useBroadcast) broadcast else identity
    // ARRAY-VERIFICATION TIER: when the candidate set broadcasts AND the
    // element table is itself broadcast-sized (`preToks` materialized by
    // [[prefixTables]] CONCURRENTLY with the prefix build through FanOut —
    // both read only the el pin, so the array-build job back-fills the
    // prefix stage's tail instead of adding serial latency),
    // verify by joining the candidate pairs to the per-id token ARRAYS
    // and counting the intersection per pair —
    // size(array_intersect) over distinct-element arrays equals the
    // exploded path's per-token match count. This removes the heaviest
    // verification stages outright: the candidate×token fan-out, its
    // (b, tok) string-keyed exchange, the (a, b) re-aggregation exchange,
    // the two size-table joins, AND the whole aToks B-token prune (there
    // is no token exchange left to shrink). One exchange remains: the
    // groupBy(id) that builds the arrays. A candidate pair created only
    // by a tokh collision yields inter=0 here where the exploded path's
    // inner join dropped the row — both die at the callers' inter ≥
    // ceil(t·|s|) ≥ 1 threshold, so outputs are identical (spec-gated in
    // SetJoinSpec both tiers). Above either broadcast budget the exploded
    // path below remains THE scale path — at 100 TB the corpus never
    // rides a broadcast, exactly as before.
    if (useBroadcast && preToks.isDefined) {
      val toks = preToks.get.df
      el.release() // this tier reads only cand and the arrays
      // STREAM the pairs, BROADCAST the arrays — and spread the pairs
      // over every core first: the per-pair array_intersect is the dense
      // compute here, and AQE coalesces by BYTES (a 16-byte-per-row pair
      // table reads as one healthy partition), which would serialize the
      // whole verification onto a handful of tasks (measured: q173 3.7 →
      // 5.2 s with the bytes-coalesced layout). Same bytes-are-the-wrong-
      // proxy reasoning as Tables.widened.
      val probe = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
      // per-pair intersection via one sorted-merge walk ([[graft
      // .expressions.SortedIntersectCountExpr]]): the `ts` arrays are
      // built SORTED in prefixTables, so the count equals
      // size(array_intersect(ta, tb)) without array_intersect's per-call
      // hash set + materialized intersection array — the per-pair verify
      // is the dense compute of this tier and it runs once per candidate
      return probe
        .join(broadcast(toks.select(col("id").as("a"), col("ts").as("ta"),
          col("tsz").as("sz_a"))), "a")
        .join(broadcast(toks.select(col("id").as("b"), col("ts").as("tb"),
          col("tsz").as("sz_b"))), "b")
        .select(col("a"), col("b"),
          graft.expressions.Sketches.sortedIntersectCount(
            col("ta"), col("tb")).as("inter"),
          col("sz_a"), col("sz_b"))
    }
    // A side: NO semi-join prefilter. The inner join on `a` against the
    // candidate pairs below filters to exactly the same rows a semi-join
    // on distinct a-ids would keep, so the semi bought nothing in either
    // mode (broadcast: one extra hash probe per row plus a distinct
    // aggregate + broadcast build; shuffle: a full extra exchange of el
    // on the same key the inner join shuffles it on anyway) — two
    // exchanges and one broadcast build removed from the verification
    // plan, output provably identical.
    preToks.foreach(_.release())
    val elA = el.df.select(col("id").as("a"), col("tok"))
    val elBAll = el.df.join(gate(cand.select(col("b").as("id")).distinct()),
        Seq("id"), "left_semi")
      .select(col("id").as("b"), col("tok"))
    // Containment-shape prune: the heaviest stage of verification is the
    // (b, tok) string-keyed shuffle of the B side, and containment's B
    // docs are the BIG containers while A docs are small. A B-token that
    // matches no candidate-A token cannot contribute to any intersection,
    // so a broadcast semi-join on A's distinct tokens shrinks that
    // shuffle exactly (inner-join rows are never dropped). Count-gated
    // like the candidate broadcast — and skipped entirely when the A
    // vocabulary is too big to broadcast, because a SHUFFLE semi-join on
    // tok would cost the very exchange the prune exists to shrink.
    // (Jaccard callers leave this off: there the A ids cover most of the
    // corpus, so A's vocabulary approaches the full token set and the
    // prune removes nothing.)
    val elB = if (pruneBTokens) {
      // candidate-A vocabulary only (the semi-join lives HERE, off the
      // hot fan-out path, computed once into the pin): tokens of
      // docs that appear as a candidate's A side
      val aToks = Pin(el.df.join(gate(cand.select(col("a").as("id")).distinct()),
          Seq("id"), "left_semi")
        .select("tok").distinct())
      if (aToks.rows <= BroadcastMaxToks)
        elBAll.join(broadcast(aToks.df), Seq("tok"), "left_semi")
      else { aToks.release(); elBAll }
    } else elBAll
    val inter = elA.join(gate(cand), "a")
      .join(elB, Seq("b", "tok"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("id").as("a"), col("sz").as("sz_a")), "a")
      .join(sz.select(col("id").as("b"), col("sz").as("sz_b")), "b")
  }

  private val BroadcastMaxToks = 1000000L

  /** Shared front half of both joins: the materialized element table
    * (with token hashes), per-set sizes, the ascending-df prefix
    * (the first |A| − ceil(t·|A|) + 1 tokens of each set under the
    * global (df, tokh, tok) order), and — when the element table is
    * broadcast-sized — the per-id token-array table the array-
    * verification tier consumes. One definition so a fix to the
    * prefix math cannot silently miss one of the two joins.
    *
    * The array-tier precompute (the groupBy(id) array build) and the
    * prefix pin run concurrently through [[graft.FanOut]]: both depend
    * only on the already-pinned el, so the serial chain el → prefix →
    * pre-flight → cand → verify loses one link. At 100 TB el's row count
    * exceeds the broadcast budget and the array side contributes nothing
    * — the exploded path stays the scale path. */
  private def prefixTables(elRaw: DataFrame, tNum: Int, tDen: Int)
      : (Pin, DataFrame, Pin, Option[Pin]) = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen)
    val el = Pin(elRaw.select(col("id"), col("tok"), xxhash64(col("tok")).as("tokh")))
    val sz = el.df.groupBy("id").agg(count(lit(1)).as("sz"))
    val dfc = el.df.groupBy("tokh").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("id").orderBy("df", "tokh", "tok")
    // prefix is pinned: it feeds the candidate join TWICE (self-join
    // sides) plus the candidate-volume pre-flight, and it is small by
    // construction (≤ the element table, usually a fraction); leaving it
    // lazy re-runs the df-join + window per consumer or leans on AQE
    // subtree reuse
    val (toks, prefix) = graft.FanOut.both(el.df.sparkSession)(
      if (el.rows > BroadcastMaxToks) None
      // one materialization feeds both broadcast builds (aliased
      // Projects canonicalize differently, so the exchange would not
      // be reused without it). Arrays are SORTED here, once per id,
      // so verification can count intersections by sorted-merge
      // instead of a per-pair hash set (SortedIntersectCountExpr)
      else Some(Pin(el.df.groupBy("id").agg(
        sort_array(collect_list(col("tok"))).as("ts"),
        count(lit(1)).as("tsz")))),
      Pin(el.df.join(dfc, "tokh").join(sz, "id")
        .withColumn("pos", row_number().over(wDoc))
        .filter(col("pos") <=
          col("sz") - expr(s"($tNum * sz + ${tDen - 1}) div $tDen") + 1)
        .select(col("id"), col("tokh"))))
    (el, sz, prefix, toks)
  }

  /** Candidate-volume pre-flight (the W2 discipline applied to join
    * work): before running the candidate join, bound its output from
    * per-token df counts — Σ over prefix tokens of (pairs it can emit).
    * An UPPER bound (pairs sharing several prefix tokens are counted
    * once per token), computed by one tiny aggregate over the already-
    * materialized prefix table, so it costs nothing next to the join it
    * guards. Exact-recall joins have NO work cap by contract — on a
    * vocabulary-bounded corpus (templated/synthetic text) candidate
    * volume grows ~quadratically with corpus size (measured: 10× docs →
    * ~150× candidates on the bounded-vocab fixture family, SCALE.md
    * round 8) — so the guard REFUSES loudly instead of launching a job
    * that cannot finish, and names the bounded alternatives, after
    * releasing the pins `held` so far. */
  private def requireCandidateBudget(joinName: String, estPairs: Long,
                                     maxCandidatePairs: Long, held: Seq[Pin]): Unit =
    if (estPairs > maxCandidatePairs) {
      held.foreach(_.release())
      throw new IllegalStateException(
        f"$joinName: prefix filtering bounds candidate volume at ~$estPairs%,d pairs, " +
          f"over the $maxCandidatePairs%,d budget. This corpus's token space is too " +
          "collision-heavy for an EXACT set-similarity join (bounded/templated " +
          "vocabulary). Use the banded MinHash tier (Dedup.nearDupPairs — per-band " +
          "bucket caps bound work) or serve the build side from the capped posting " +
          "index (InvertedIndex) and verify exactly on its candidates; or raise " +
          "maxCandidatePairs deliberately.")
    }

  /** All pairs (a < b) of `elRaw` (columns `id`, `tok` — distinct set
    * elements per id) with Jaccard ≥ tNum/tDen. Output: a, b, inter,
    * sz_a, sz_b. */
  def jaccardJoin(elRaw: DataFrame, tNum: Int, tDen: Int,
                  broadcastMaxPairs: Long = 4000000L,
                  maxCandidatePairs: Long = 500000000L): DataFrame = {
    val (el, sz, prefix, toks) = prefixTables(elRaw, tNum, tDen)
    val est = prefix.df.groupBy("tokh").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - 1) / 2).cast("long").as("est"))
      .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(0L)
    requireCandidateBudget("jaccardJoin", est, maxCandidatePairs, Seq(el, prefix) ++ toks)
    val cand = Pin(prefix.df.select(col("id").as("a"), col("tokh"))
      .join(prefix.df.select(col("id").as("b"), col("tokh")), "tokh")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct())
    prefix.release()
    // broadcast gate: est upper-bounds |cand| (the distinct can only
    // shrink the per-token pair expansion est sums), so est within the
    // budget proves broadcastability; over it, the pin's exact count
    // gets a second chance
    val useBroadcast = est <= broadcastMaxPairs || cand.rows <= broadcastMaxPairs
    // verification: exact string-level intersection counts, over the
    // candidate ids only (count-gated broadcast — no corpus reshuffle)
    verifiedPairs(el, sz, cand.df, useBroadcast, toks)
      .filter(col("inter") * tDen >=
        lit(tNum) * (col("sz_a") + col("sz_b") - col("inter")))
      .select("a", "b", "inter", "sz_a", "sz_b")
  }

  /** ASYMMETRIC containment join: all ordered pairs (a ≠ b) with
    * |A∩B| / |A| ≥ tNum/tDen — "a is (mostly) contained in b", the
    * quote/inclusion detector Jaccard misses when |B| ≫ |A|.
    *
    * Containment prefix lemma: overlap ≥ α = ceil(t·|A|) means A's first
    * |A|−α+1 tokens (any global order) must hit B's FULL set — only the
    * PROBE side gets a prefix; the build side keeps whole postings.
    * Consequence for scale: candidate fan-out is bounded by df(prefix
    * token) with no B-side pruning — ascending-df order keeps prefix
    * tokens corpus-rarest (same mitigation as [[jaccardJoin]]), and a
    * 100 TB deployment serves the B side from the capped q119 posting
    * index with an exact fallback verify for capped terms. Integer ceil
    * arithmetic and string-level verification as in [[jaccardJoin]]. */
  def containmentJoin(elRaw: DataFrame, tNum: Int, tDen: Int,
                      broadcastMaxPairs: Long = 4000000L,
                      maxCandidatePairs: Long = 500000000L): DataFrame = {
    val (el, sz, prefix, toks) = prefixTables(elRaw, tNum, tDen)
    // candidate bound: prefix-side df × full-side df per token (the
    // probe-prefix ⋈ full-postings shape has no B-side pruning)
    val est = prefix.df.groupBy("tokh").agg(count(lit(1)).as("cp"))
      .join(el.df.groupBy("tokh").agg(count(lit(1)).as("cf")), "tokh")
      .agg(sum(col("cp") * col("cf")).cast("long").as("est"))
      .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(0L)
    requireCandidateBudget("containmentJoin", est, maxCandidatePairs, Seq(el, prefix) ++ toks)
    val cand = Pin(prefix.df.select(col("id").as("a"), col("tokh"))
      .join(el.df.select(col("id").as("b"), col("tokh")), "tokh")
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct())
    prefix.release()
    // est >= |cand| (same argument as jaccardJoin)
    val useBroadcast = est <= broadcastMaxPairs || cand.rows <= broadcastMaxPairs
    verifiedPairs(el, sz, cand.df, useBroadcast, toks, pruneBTokens = true)
      .filter(col("inter") * tDen >= lit(tNum) * col("sz_a"))
      .select("a", "b", "inter", "sz_a", "sz_b")
  }
}
