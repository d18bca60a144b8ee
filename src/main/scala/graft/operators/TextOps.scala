package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Checkpoint

/**
 * Large-scale training-data pipeline operators over the `documents`
 * table (doc_id, text, lang, source, n_chars) — the engine's webtext
 * surface (BASELINE.json input_hint): deduplication (exact, MinHash
 * LSH, SimHash, n-gram Jaccard), text quality / language-id / token
 * stats / fingerprinting. All tokenisation is single-space split so
 * the DuckDB oracle can reproduce it exactly.
 *
 * Scale design: every operator is a groupBy/join on derived keys —
 * exact dedup shuffles on the text hash, MinHash shuffles on
 * (band, bandHash) buckets so candidate generation is linear in
 * corpus size + bucket collisions (never all-pairs), SimHash blocks
 * on 16-bit bands for Hamming<=3 search.
 */
object TextOps {

  def tokens(text: Column): Column = split(text, " ")

  /** Distinct (doc_id, token) pairs — the relational token-set form. */
  def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .distinct()

  /**
   * Exact duplicate clustering: group by full text, keep the minimum
   * doc id as representative (hash-groupBy dedup; at scale group by
   * sha2(text) with identical semantics).
   */
  def exactDedup(corpus: DataFrame): DataFrame =
    corpus.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /**
   * n-gram (token-set) Jaccard similarity >= threshold with PPJoin
   * prefix filtering (Xiao et al., WWW'08): candidate pairs come from
   * a self-join over each document's PREFIX tokens only, ordered
   * rarest-first by global document frequency; verification is an
   * exact array intersection per surviving pair.
   *
   * Why it scales: jacc(A,B) >= t implies |A∩B| >= ceil(t·|A|), so a
   * matching pair must share a token among the first
   * |A| - ceil(t·|A|) + 1 tokens of A in ANY global total order
   * (pigeonhole on the excluded suffix), and symmetrically for B; the
   * (df, tok) order puts stopwords in the suffix, so the join fan-out
   * per token is bounded by the df of RARE tokens instead of being
   * quadratic in the df of hot ones.
   */
  def jaccardPairs(corpus: DataFrame, threshold: Double,
                   forcePrefix: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Adaptive exact plan: when the threshold bounds the symmetric
    // difference to <= 1 token over the corpus's largest set
    // (|A delta B| <= (1/t - 1)·maxSize), the deletion-neighborhood
    // index inside [[minhashLshPairs]] enumerates a COMPLETE candidate
    // set (every qualifying pair shares the XOR key of its
    // intersection) and verification there is already the exact array
    // intersection — so the "LSH" operator degenerates to the exact
    // all-pairs answer, with candidate counts bounded by subset
    // multiplicity instead of token document frequency. That is the
    // right plan precisely where the PPJoin prefix filter below
    // degrades: a degenerate vocabulary (boilerplate corpora) makes
    // every prefix token hot, while high thresholds shrink the
    // deletion neighborhood. Lower thresholds keep the prefix-filter
    // path, whose fan-out is bounded by RARE-token df.
    // forcePrefix pins the PPJoin arm (tests assert both arms agree)
    val maxSize = corpus
      .agg(max(size(array_distinct(tokens(col("text")))))).head().getInt(0)
    if (!forcePrefix &&
        math.floor((1.0 / threshold - 1.0) * maxSize) <= 1)
      return minhashLshPairs(corpus, 64, 32, threshold)
    val dt = docTokens(corpus)
    val dfreq = dt.groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked = dt.join(dfreq, Seq("tok"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))))
    val sizes = dt.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val pref = ranked.join(sizes, Seq("doc_id"))
      .where(col("rk") <=
        col("sz") - ceil(lit(threshold) * col("sz")) + 1)
    val cand = pref.select(col("doc_id").as("a"), col("tok"))
      .join(pref.select(col("doc_id").as("b"), col("tok")), Seq("tok"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    val sets = corpus.select(col("doc_id"),
      sort_array(array_distinct(tokens(col("text")))).as("ts"))
    cand
      .join(sets.select(col("doc_id").as("a"), col("ts").as("tsa")),
        Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("ts").as("tsb")),
        Seq("b"))
      .withColumn("__shared",
        size(array_intersect(col("tsa"), col("tsb"))).cast("long"))
      .select(col("a"), col("b"),
        (col("__shared").cast("double") /
          (size(col("tsa")).cast("long") + size(col("tsb")).cast("long")
            - col("__shared"))).as("jacc"))
      .where(col("jacc") >= threshold)
  }

  /** Deterministic 64-bit string hash (FNV-1a), usable from codegen
    * and identical across partitions/JVMs. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** MinHash signature of a token set: for each of `perms` hash
    * functions h_i(t) = fnv(t) * a_i + b_i, the min over tokens. */
  def minhashSignature(toks: Iterable[String], perms: Int): Array[Long] = {
    val sig = Array.fill(perms)(Long.MaxValue)
    toks.foreach { t =>
      val base = fnv1a64(t)
      var i = 0
      while (i < perms) {
        // odd multipliers + golden-ratio offsets, seeded per perm
        val a = 0x9E3779B97F4A7C15L * (2 * i + 1)
        val h = base * a + (i * 0x100000001b3L)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** [[minhashSignature]] over pre-hashed tokens (the base is the
    * token's xxhash64 instead of fnv1a64 of its string — the banding
    * collision probabilities are identical). */
  def minhashSignatureL(toks: Iterable[Long], perms: Int): Array[Long] = {
    val sig = Array.fill(perms)(Long.MaxValue)
    toks.foreach { base =>
      var i = 0
      while (i < perms) {
        val a = 0x9E3779B97F4A7C15L * (2 * i + 1)
        val h = base * a + (i * 0x100000001b3L)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /**
   * MinHash-LSH near-duplicate pairs, hot-bucket safe. Three stages:
   *
   *  1. **Exact token-set dedup first** (the scale guard): docs are
   *     grouped by their sorted distinct-token set; all Jaccard math
   *     after this runs over UNIQUE sets only. Boilerplate/template
   *     corpora — where millions of pages share one token set and a
   *     naive band join goes quadratic in a single reducer — collapse
   *     to one representative per set before LSH ever sees them.
   *  2. **MinHash banding over representatives**: `perms` minhashes in
   *     `bands` bands; sets sharing a (band, bandHash) bucket become
   *     candidates. Buckets larger than `maxBucket` representatives
   *     are dropped with a logged count (standard LSH hot-bucket cap;
   *     inert unless the unique-set space itself degenerates).
   *     Candidates are verified per pair with array intersection —
   *     jacc = |A∩B| / (|A|+|B|-|A∩B|) — no token-explode join.
   *  3. **Expansion**: intra-group pairs (identical sets, jacc = 1.0)
   *     plus verified cross-group pairs fanned out to their members —
   *     output-bound work.
   *
   * Returns (a, b, jacc), the same contract as [[jaccardPairs]] —
   * recall misses are possible only when a >=threshold pair shares no
   * band across `bands` bands (prob (1-t^rows)^bands; ~1e-30 at the
   * defaults used by the engine) or falls in a capped bucket (logged).
   */
  def minhashLshPairs(corpus: DataFrame, perms: Int, bands: Int,
                      threshold: Double,
                      maxBucket: Int = 100000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = perms / bands
    // stage 1: unique token sets with their member doc ids. The
    // shuffle KEY is a 256-bit set hash, not the token array itself —
    // at web scale a groupBy on a multi-KB array key pays hash/compare
    // over the full payload in every exchange; sha2 of the sorted set
    // is 32 bytes with no false merges in practice (2^-128 collision
    // odds). The \\u0001 separator can't occur inside a token (tokenisation splits
    // on spaces, sha input is the joined sorted set).
    val groups = corpus
      .select(col("doc_id"),
        sort_array(array_distinct(transform(tokens(col("text")),
          t => xxhash64(t)))).as("ts"))
      .groupBy(xxhash64(col("ts")).as("__h1"),
        xxhash64(reverse(col("ts"))).as("__h2"),
        size(col("ts")).as("__sz"))
      .agg(first(col("ts")).as("ts"),
        min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .select("ts", "rep", "members")
      .transform(Checkpoint(_))

    // intra-group pairs: identical sets, jacc exactly 1.0 (>=  any t)
    val intra = groups.where(size(col("members")) > 1)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), lit(1.0).as("jacc"))

    // stage 2: candidate generation over representatives. Two paths:
    //
    //  (a) EXACT deletion-neighborhood indexing when the threshold is
    //      high relative to set size: j >= t forces |A delta B| <= d
    //      with d = floor((1/t - 1) * maxSetSize) (|union| <=
    //      |inter|/t <= maxSize/t). For d = 1, A and B must share the
    //      key of A∩B, reachable by at most one deletion from either —
    //      emit an order-independent XOR set-hash of the full set and
    //      of every single-deletion subset, equi-join on the key.
    //      Bucket sizes are bounded by exact-subset multiplicity, so
    //      no hot-bucket blowup exists by construction; verification
    //      stays exact, so XOR collisions only cost time.
    //
    //  (b) MinHash banding (the classic probabilistic path) when d is
    //      large — low thresholds or huge sets — with the bucket-size
    //      cap as the hot-bucket guard.
    val maxSize = groups.agg(max(size(col("ts")))).collect()(0).getInt(0)
    val d = math.floor((1.0 / threshold - 1.0) * maxSize).toLong
    val cand =
      if (d <= 1) {
        // tokens are already hashed: the full-set XOR key is an
        // in-row fold, and each deletion key is fkey ^ element — no
        // explode+groupBy+join-back stages
        val withKey = groups.select(col("rep"),
          size(col("ts")).as("sz"), col("ts"),
          aggregate(col("ts"), lit(0L),
            (a, x) => a.bitwiseXOR(x)).as("fkey"))
        val full = withKey.select(col("rep"), col("sz"),
          col("fkey").as("key"))
        val dels = withKey
          .select(col("rep"), (col("sz") - 1).as("sz"),
            col("fkey"), explode(col("ts")).as("h"))
          .select(col("rep"), col("sz"),
            col("fkey").bitwiseXOR(col("h")).as("key"))
        val keys = full.unionByName(dels)
        // shuffle_hash hint: the planner cannot size a checkpointed
        // relation and happily BROADCASTS all ~31n deletion keys —
        // a driver-serial 20M-entry hashed-relation build measured at
        // 12 s (95% of the whole query). The shuffle-hash join
        // partitions both sides by key and scales with cores.
        keys.select(col("key"), col("sz"), col("rep").as("ra"))
          .hint("shuffle_hash")
          .join(keys.select(col("key"), col("sz"),
            col("rep").as("rb")), Seq("key", "sz"))
          .where(col("ra") < col("rb"))
          .select("ra", "rb").distinct()
      } else {
        val sigs = groups.select(col("rep"), col("ts"))
          .as[(Long, Seq[Long])]
          .map { case (rep, ts) => (rep, minhashSignatureL(ts, perms)) }
          .toDF("rep", "sig")
        val buckets = sigs.select(col("rep"),
            posexplode(col("sig")).as(Seq("pos", "h")))
          .withColumn("band", expr(s"pos DIV $rows"))
          .groupBy("rep", "band")
          .agg(hash(sort_array(collect_list(struct(col("pos"), col("h")))))
            .as("bkey"))
        val sizesByBucket = buckets.groupBy("band", "bkey")
          .agg(count(lit(1)).as("__bsz"))
        val nDropped = sizesByBucket.where(col("__bsz") > maxBucket)
          .count()
        if (nDropped > 0) {
          System.err.println(s"[minhash-lsh] dropped $nDropped hot " +
            s"buckets above cap $maxBucket — recall may be reduced")
        }
        val keptBuckets = buckets.join(
          sizesByBucket.where(col("__bsz") <= maxBucket)
            .select("band", "bkey"), Seq("band", "bkey"))
        val l = keptBuckets.select(col("band"), col("bkey"),
          col("rep").as("ra"))
        val r = keptBuckets.select(col("band"), col("bkey"),
          col("rep").as("rb"))
        l.join(r, Seq("band", "bkey")).where(col("ra") < col("rb"))
          .select("ra", "rb").distinct()
      }
    // verify each candidate pair against the two sets directly
    val ga = groups.select(col("rep").as("ra"), col("ts").as("tsa"),
      col("members").as("ma"))
    val gb = groups.select(col("rep").as("rb"), col("ts").as("tsb"),
      col("members").as("mb"))
    val cross = cand.join(ga, Seq("ra")).join(gb, Seq("rb"))
      .withColumn("__shared", size(array_intersect(col("tsa"), col("tsb"))))
      .withColumn("jacc", col("__shared").cast("double") /
        (size(col("tsa")) + size(col("tsb")) - col("__shared")))
      .where(col("jacc") >= threshold)
      // stage 3: fan verified set-pairs out to their member docs
      .select(explode(col("ma")).as("da"), col("mb"), col("jacc"))
      .select(col("da"), explode(col("mb")).as("db"), col("jacc"))
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"), col("jacc"))

    intra.unionByName(cross)
  }

  /** 64-bit SimHash over the token multiset. */
  def simhash64(toks: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = fnv1a64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /**
   * SimHash near-dup pairs with Hamming distance <= maxHamming (< 4):
   * block on the four 16-bit bands (pigeonhole: any pair within
   * Hamming 3 shares at least one exact band), verify with popcount.
   */
  def simhashPairs(corpus: DataFrame, maxHamming: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sigs = corpus.select(col("doc_id"), tokens(col("text")).as("toks"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) => (id, simhash64(toks)) }
      .toDF("doc_id", "sh")
    val banded = sigs.select(col("doc_id"), col("sh"),
        explode(expr("array(0, 1, 2, 3)")).as("band"))
      .withColumn("bkey", expr("shiftright(sh, band * 16) & 65535"))
    val l = banded.select(col("band"), col("bkey"), col("doc_id").as("a"),
      col("sh").as("sha"))
    val r = banded.select(col("band"), col("bkey"), col("doc_id").as("b"),
      col("sh").as("shb"))
    l.join(r, Seq("band", "bkey")).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        expr("bit_count(sha ^ shb)").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /**
   * Quality scoring (length / punctuation / stopword / token-shape
   * ratios) — the per-document filter stage of a training-data
   * pipeline. All components reproducible in ANSI SQL.
   */
  def qualitySignals(docs: DataFrame,
                     stopwords: Seq[String]): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val stopArr = array(stopwords.map(lit): _*)
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      nTok.cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      size(filter(toks, t => array_contains(stopArr, t))).cast("long")
        .as("n_stop"),
      round(length(col("text")).cast("double") / nTok, 6)
        .as("avg_tok_len"))
  }

  /**
   * Language id by stopword-list voting: score = distinct stopwords
   * of each language present in the token set; argmax with
   * lexicographic tie-break. langLists: (lang, words).
   */
  def langId(docs: DataFrame, langLists: Seq[(String, Seq[String])]): DataFrame = {
    val toks = array_distinct(tokens(col("text")))
    val scores = langLists.map { case (lg, ws) =>
      val arr = array(ws.map(lit): _*)
      struct(size(array_intersect(toks, arr)).as("score"),
        lit(lg).as("lang"))
    }
    // argmax by (score, then lang DESC so earlier alphabetical wins
    // on ties after greatest picks the max struct)
    docs.select(col("doc_id"),
      sort_array(array(scores: _*), asc = false).getItem(0)
        .getField("lang").as("pred_lang"))
  }

  /**
   * Positional document fingerprint (rolling-hash style, exactly
   * reproducible in SQL): sum over tokens of (pos+1) * (ascii of
   * first char * 131 + token length), mod 2^31-1; plus token count.
   */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .groupBy("doc_id")
      .agg(
        (sum((col("pos") + 1) *
          (ascii(col("tok")) * 131 + length(col("tok"))))
          % 2147483647L).as("fp"),
        count(lit(1)).as("n_tokens"))

  /**
   * Token counting (the cost-estimation stage of a training-data
   * pipeline): whitespace tokens plus a BPE-ish subword count — each
   * non-space run split greedily into chunks of <= 4 chars
   * (`[^ ]{1,4}`), i.e. sum over words of ceil(len/4) — approximating
   * the ~4-chars-per-token rule of byte-pair vocabularies. Pure
   * column expressions (codegen'd regexp), scale-safe.
   */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      size(tokens(col("text"))).cast("long").as("n_ws"),
      regexp_count(col("text"), lit("[^ ]{1,4}")).cast("long")
        .as("n_sub"))
}
