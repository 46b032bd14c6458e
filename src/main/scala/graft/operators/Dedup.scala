package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Design for 100 TB: every method is a pure DataFrame transform built on
  * native expressions (`xxhash64`, higher-order array functions) — no
  * UDFs, no driver-side loops. Candidate generation always goes through
  * bucket keys (LSH bands / simhash chunks / shared shingles) so the
  * pairwise work is a bucket-local equi-join, never an n² cross join.
  * Skewed buckets (boilerplate shingles, empty-text hash) are capped with
  * a per-bucket row limit before pairing.
  */
object Dedup {

  /** observe() names must be unique within a query; a monotone counter
    * keeps repeated operator calls in one plan from colliding.
    *
    * Caveat on every riding metric here: observe() counters materialize
    * with the plan stage they sit in, so if AQE's empty-relation
    * propagation prunes everything downstream (a query whose FINAL
    * result is empty), the not-yet-run CollectMetrics stage is skipped
    * and no metric row is emitted. In the operating regime that matters
    * (some rows flow; hot keys are capped/dropped) the metrics always
    * fire — they are skew DIAGNOSTICS riding a live query, not an audit
    * log; run a dedicated stats aggregation when an audit is required.
    */
  private val obsCounter = new java.util.concurrent.atomic.AtomicLong()
  private[operators] def nextObsName(prefix: String): String =
    s"${prefix}_${obsCounter.incrementAndGet()}"

  /** Exact dedup: keep one representative row per key (first by
    * tie-break), reporting duplicate cardinality. One shuffle on the key.
    */
  def exact(df: DataFrame, key: Seq[String], tieBreak: String): DataFrame =
    df.groupBy(key.map(col): _*)
      .agg(min(col(tieBreak)).as("keeper"), count(lit(1)).as("dup_count"))

  /** Word k-shingles of a text column, distinct, lowercase.
    * Uses 1-based `slice`; texts shorter than k yield the whole text as a
    * single shingle so short docs can still collide.
    *
    * Shifted-zip formulation (same idiom as the winnowing window-min):
    * zip k shifted slices of the token array and join each zipped tuple —
    * the token split evaluates k+2 times total, O(n·k) per row. Two
    * rejected alternatives, both O(n²) per row: transform+slice-per-
    * position re-evaluates the token subtree per window, and a ring-
    * buffer fold copies its growing output accumulator on every
    * array_append.
    */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = split(lower(text), " ")
    // m = window count, derived from a size() re-evaluation of the split
    // (cheap) rather than a shared subtree (which HOFs would re-evaluate
    // per element).
    val m = greatest(size(toks) - (k - 1), lit(1))
    val shifted = (0 until k).map(j => slice(toks, lit(j + 1), m).as(s"t$j"))
    val grams = transform(arrays_zip(shifted: _*), s =>
      concat_ws(" ", (0 until k).map(j => s.getField(s"t$j")): _*))
    array_distinct(
      when(size(toks) >= k, grams)
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** MinHash signature: `numHashes` independent min-hashes per document,
    * one column `sig` of ArrayType(Long). The "independent hash functions"
    * are `xxhash64(shingle, seed_i)` — deterministic, shuffle-free to
    * evaluate; the groupBy(doc) is the only exchange.
    *
    * Input: (idCol, textCol). Output: (idCol, n_shingles, sig).
    */
  /** Portable permutation constants for the md5-based minhash variant:
    * h_i(x) = (a_i·x + b_i) mod (2³¹−1) over a 31-bit base hash. 31-bit
    * operands keep every product < 2⁶² — no signed-64 overflow in Spark
    * (ANSI throws) or DuckDB (BIGINT errors); the identical literals are
    * embedded in the DuckDB oracle SQL (DedupQueries.q18Sql).
    */
  private[graft] val MinHashP = 2147483647L
  private[graft] val (permA, permB) = {
    val r = new java.util.Random(0x5EED)
    (Array.fill(64)(1L + r.nextInt(2147483646)), Array.fill(64)(r.nextInt(2147483647).toLong))
  }

  def minHashSignatures(df: DataFrame, idCol: String, textCol: String, numHashes: Int = 32,
      k: Int = 3, portable: Boolean = false): DataFrame = {
    require(!portable || numHashes <= permA.length, s"portable minhash caps at ${permA.length} hashes")
    val exploded = df
      .select(col(idCol), explode(shingles(col(textCol), k)).as("shingle"))
    val hashAggs =
      if (portable) {
        // ONE md5 per shingle; the numHashes permutations are arithmetic
        // over the shared 31-bit base — same per-row cost shape as the
        // xxhash64 path (which also hashes once per (shingle, seed))
        val base = conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long")
          .bitwiseAND(lit(0x7FFFFFFFL))
        (0 until numHashes).map(i =>
          min((base * lit(permA(i)) + lit(permB(i))) % lit(MinHashP)).as(s"h$i"))
      } else (0 until numHashes).map(i => min(xxhash64(col("shingle"), lit(i))).as(s"h$i"))
    exploded
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), hashAggs: _*)
      .select(col(idCol), col("n_shingles"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash-LSH candidate duplicate pairs with estimated Jaccard.
    *
    * bands × rowsPerBand must equal the signature length. Each band's
    * 4-hash slice is hashed to a bucket key; documents sharing any
    * (band, bucket) are candidates. Pair generation is a self-equi-join
    * on the bucket key (shuffle on bucket, never n²); `maxBucket` caps
    * degenerate buckets. Estimated Jaccard = fraction of matching
    * signature positions; pairs below `minJaccard` are dropped.
    *
    * Output: (id_a, id_b, est_jaccard), id_a < id_b, distinct.
    */
  /** (id, sig, band, bucket) rows from a signature frame — the band
    * bucketing shared by [[minHashLsh]] and the incremental
    * [[LshIndex]]: the bucket key of each contiguous rows-slice of the
    * signature (portable mode uses the raw values as a csv key instead
    * of xxhash64 — an equality key needs no hash, and it's
    * engine-neutral). Derivable from STORED signatures alone — no text.
    */
  private[operators] def bandBuckets(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int, portable: Boolean): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val bucket =
        if (portable) concat_ws(",", (0 until rows).map(r => col("sig")(b * rows + r).cast("string")): _*)
        else xxhash64(lit(b) +: (0 until rows).map(r => col("sig")(b * rows + r)): _*).cast("string")
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    sigs
      .select(col(idCol), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, minJaccard: Double = 0.5,
      k: Int = 3, maxBucket: Int = 1000, portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = minHashSignatures(df, idCol, textCol, numHashes, k, portable)

    val buckets = bandBuckets(sigs, idCol, numHashes, bands, portable)

    // Posting list per (band, bucket): the signature pipeline runs ONCE
    // (a bucket self-join would recompute it per join side), the id-sorted
    // slice caps pathological buckets (all-identical boilerplate), and
    // ordered pairs generate list-locally via explode-then-pair: two
    // chained generators STREAM the i<j combinations row by row, so the
    // per-row transient is one ≤maxBucket slice — never the O(cap²)
    // flattened pair array the previous formulation materialized per
    // posting row.
    // __n is the TRUE bucket population; ms is the capped slice. The cap
    // bounds fan-out (recall loss when it binds), so surface it the same
    // way simHashDedup does — an observed metric, never a silent drop.
    val posts = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"),
        slice(sort_array(collect_list(struct(col(idCol).as("id"), col("sig").as("s")))),
          1, maxBucket).as("ms"))
      .filter(size(col("ms")) >= 2)
      .observe(Dedup.nextObsName("minhash_lsh"),
        sum(when(col("__n") > maxBucket, 1L).otherwise(0L)).as("truncated_buckets"),
        max(col("__n")).as("max_bucket_size"))
      .drop("__n")
    posts
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "x")))
      .select(col("x"), explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("y"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        (expr("size(filter(zip_with(x.s, y.s, (a, b) -> a = b), m -> m))").cast("double") /
          lit(numHashes)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** 64-bit SimHash of a text column's token multiset. Tokens are hashed
    * with xxhash64; each of the 64 bit positions accumulates +1/−1 per
    * token and the sign becomes the output bit. Expressed as one
    * fold over the token array per bit — wide but fully codegen'd,
    * shuffle-free (per-row computation).
    */
  def simHash(text: Column): Column = {
    // One hash per token (the transform is the aggregate's input, so it
    // evaluates exactly once per row), then a single fold accumulating
    // all 64 bit-vote counters in an array accumulator. A per-bit
    // formulation (64 separate folds) re-tokenizes and re-hashes the
    // text 64 times per row — measured 8.5s vs <1s on 500 docs.
    val tokenHashes = transform(split(lower(text), " "), t => xxhash64(t))
    val bitIdx = sequence(lit(0), lit(63))
    val votes = aggregate(
      tokenHashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitIdx, (a, j) =>
        a + when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L))))
    aggregate(
      zip_with(votes, bitIdx, (v, j) =>
        when(v > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (a, b) => a.bitwiseOR(b))
  }

  /** SimHash per document via explode + codegen'd hash aggregation: one
    * row per (doc, token-hash), 64 conditional-sum vote counters in a
    * single HashAggregate, bits assembled post-agg. This is the
    * whole-stage-codegen path — the per-row [[simHash]] column (64-way
    * zip_with fold) evaluates interpreted lambdas and measured ~10×
    * slower on wide corpora; same output, use this for bulk dedup.
    */
  def simHashDf(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    // portable: token hash = first 15 md5 hex chars parsed as a 60-bit
    // value in ONE conv (16 chars could exceed signed Long and null out
    // under ANSI; the former two-32-bit-halves formulation paid two
    // substring+conv per token — measured ~15% of the whole q19).
    // Bits 60-63 are structurally 0, so those simhash bits vote -1 for
    // every token and land 0 for every doc — a 60-effective-bit simhash,
    // identical in any engine with md5 (q19's DuckDB twin mirrors the
    // 15-char prefix). xxhash64 stays the fast 64-bit default.
    val tokHash: org.apache.spark.sql.Column =
      if (portable) conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
      else xxhash64(col("tok"))
    val toks = df.select(col(idCol),
      explode(split(lower(col(textCol)), " ")).as("tok"))
      .select(col(idCol), tokHash.as("h"))
    val voteAggs = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"v$j")
    }
    toks.groupBy(col(idCol))
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col(idCol),
        (0 until 64).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** SimHash near-dup candidate pairs within Hamming distance
    * `maxHamming` (< 16). Pigeonhole: split the 64-bit hash into 4
    * 16-bit chunks; any pair within distance ≤3 must agree on ≥1 chunk,
    * so candidates are a bucket equi-join on (chunk_idx, chunk_value) —
    * same scale shape as LSH banding.
    *
    * Output: (id_a, id_b, hamming), id_a < id_b, distinct.
    */
  def simHashDedup(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      maxBucket: Int = 1000, portable: Boolean = false): DataFrame = {
    val hashed = simHashDf(df, idCol, textCol, portable)
    val chunks = hashed.select(col(idCol), col("sh"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("ci"), shiftright(col("sh"), i * 16).bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("c"))
      .select(col(idCol), col("sh"), col("c.ci").as("ci"), col("c.cv").as("cv"))
    // posting list per chunk bucket — the simhash pipeline runs once, not
    // once per self-join side (see ngramJaccard). The id-sorted slice caps
    // degenerate buckets (boilerplate docs sharing a 16-bit chunk) to
    // bound candidate FAN-OUT; the pairs themselves stream via
    // explode-then-pair, so no row ever materializes a quadratic array.
    // The cap reduces recall when it binds; surface that via an observed
    // metric (CollectMetrics — readable from a QueryExecutionListener or
    // sql.Observation) instead of truncating silently.
    val posts = chunks.groupBy(col("ci"), col("cv"))
      .agg(count(lit(1)).as("__n"),
        slice(sort_array(collect_list(struct(col(idCol).as("id"), col("sh").as("h")))),
          1, maxBucket).as("ms"))
      .filter(size(col("ms")) >= 2)
      .observe(Dedup.nextObsName("simhash_dedup"),
        sum(when(col("__n") > maxBucket, 1L).otherwise(0L)).as("truncated_buckets"),
        max(col("__n")).as("max_bucket_size"))
      .drop("__n")
    // explode-then-pair streams i<j combinations (see minHashLsh)
    posts
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "x")))
      .select(col("x"), explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("y"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.h").bitwiseXOR(col("y.h"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Train→test contamination check: for each test document, the maximum
    * n-gram containment against any training document — the standard
    * benchmark-decontamination sweep (a test doc whose shingles are
    * largely inside some training doc is leaked). Containment
    * |T∩R|/|T| (not Jaccard) so a short test doc fully embedded in a
    * long train doc still scores 1.0.
    *
    * Same scale shape as [[ngramJaccard]]: inverted-index equi-join on
    * the shingle, stop-shingle cap, per-pair co-count — never n².
    * Output: one row per test doc with any overlap ≥ minContainment:
    * (test id, best train id, containment), ties broken by smaller
    * train id.
    */
  def contamination(train: DataFrame, test: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minContainment: Double = 0.5, maxDocFreq: Int = 1000): DataFrame =
    contaminationPairs(train, test, idCol, textCol, k, minContainment, maxDocFreq)
      // argmax by (containment desc, train_id asc) without touching the
      // id's type: min of (−containment, id) is lexicographic, so the id
      // column passes through as-is — works for string ids too (a negate-
      // and-cast tie-break would throw under ANSI for non-numeric ids).
      .groupBy(col("test_id"))
      .agg(min(struct((-col("containment")).as("negc"), col("train_id").as("train_id"))).as("best"))
      .select(col("test_id"), col("best.train_id").as("train_id"),
        (-col("best.negc")).as("containment"))

  /** ALL (test, train) containment pairs ≥ minContainment — the
    * un-reduced form behind [[contamination]]. The decontamination DROP
    * direction needs this: a training doc is contaminated if ANY test
    * doc is ≥-threshold contained in it, so reducing to the best train
    * per test first would let secondary leaks through
    * (`distinct train_id` over this frame is the drop list).
    */
  def contaminationPairs(train: DataFrame, test: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minContainment: Double = 0.5, maxDocFreq: Int = 1000): DataFrame = {
    // Same posting-list shape as [[ngramJaccard]]: one groupBy(shingle)
    // collecting both sides' doc lists (collect_list drops the nulls the
    // side-marker CASE produces), docFreq from the train list's size,
    // test×train pairs generated list-locally — no per-row Window sort
    // and no cross-relation shingle join.
    val tr = train.select(explode(shingles(col(textCol), k)).as("shingle"),
      col(idCol).as("id"), lit(1).as("side"))
    val te = test.select(explode(shingles(col(textCol), k)).as("shingle"),
      col(idCol).as("id"), lit(0).as("side"))
    val teSizes = test.select(col(idCol).as("test_id"),
      size(shingles(col(textCol), k)).as("n_test"))
    // hot-shingle drops are observable (see ngramJaccard): a boilerplate
    // shingle over the train-side df cap silently loses its containment
    // evidence, so count the drops and the worst offender's frequency.
    val postings = te.unionByName(tr).groupBy(col("shingle"))
      .agg(collect_list(when(col("side") === 0, col("id"))).as("test_ids"),
        collect_list(when(col("side") === 1, col("id"))).as("train_ids"))
      .observe(Dedup.nextObsName("contamination"),
        sum(when(size(col("test_ids")) >= 1 && size(col("train_ids")) > maxDocFreq, 1L)
          .otherwise(0L)).as("dropped_stop_shingles"),
        max(size(col("train_ids"))).as("max_train_doc_freq"))
      .filter(size(col("test_ids")) >= 1 &&
        size(col("train_ids")).between(1, maxDocFreq))
    // explode-then-pair: the test×train cross product streams row by
    // row — the previous single flattened array was O(|test_ids| ×
    // maxDocFreq) structs in ONE row, the uncapped-fan-out pattern the
    // round-2 advisor flagged on simHashDedup (test_ids has no df cap;
    // only the train side is bounded).
    postings
      .select(explode(col("test_ids")).as("test_id"), col("train_ids"))
      .select(col("test_id"), explode(col("train_ids")).as("train_id"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("inter"))
      .join(teSizes, Seq("test_id"))
      .select(col("test_id"), col("train_id"),
        (col("inter").cast("double") / col("n_test")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Exact n-gram Jaccard similarity for pairs sharing at least one
    * shingle (inverted-index co-count — the standard exact verification
    * stage behind MinHash candidates).
    *
    * |A∩B| comes from the shingle-level self-join; |A∪B| = |A|+|B|−|A∩B|.
    * `maxDocFreq` drops stop-shingles (present in more than that many
    * docs) before pairing — the classic skew guard: a boilerplate shingle
    * shared by 1M docs would otherwise produce 10¹² pairs.
    *
    * Output: (id_a, id_b, jaccard) with jaccard ≥ minJaccard.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minJaccard: Double = 0.5, maxDocFreq: Int = 100): DataFrame = {
    // Inverted index as ONE groupBy(shingle) with a sorted posting list:
    //  - docFreq = size of the list (the old per-row Window sort is gone);
    //  - candidate pairs generate list-locally, ordered (a < b follows
    //    from the sort), so there is no shingle self-join — a self-join
    //    would also re-compute the whole scan+explode subtree per side
    //    (Spark does not reuse common subplans across join inputs).
    //  - per-doc shingle counts come straight from the per-row shingle
    //    array — no shuffle at all on that branch.
    val sh = df.select(col(idCol), explode(shingles(col(textCol), k)).as("shingle"))
    val sizes = df.select(col(idCol), size(shingles(col(textCol), k)).as("n"))
    // stop-shingle drops (df > maxDocFreq) trade recall for boundedness;
    // count them observably instead of filtering silently — at 100 TB the
    // operator's owner needs to see when the cap binds and by how much.
    val postings = sh.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .observe(Dedup.nextObsName("ngram_jaccard"),
        sum(when(size(col("ids")) > maxDocFreq, 1L).otherwise(0L)).as("dropped_stop_shingles"),
        max(size(col("ids"))).as("max_doc_freq"))
      .filter(size(col("ids")).between(2, maxDocFreq))
    // explode-then-pair streams i<j combinations (see minHashLsh)
    val co = postings
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("a"), explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("b"))
      .groupBy(col("a").as("id_a"), col("b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    co
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** SPAN-LEVEL corpus dedup (C4 / RefinedWeb line dedup, Lee et al.
    * 2022 exact-substring dedup at span granularity): chop every
    * document into non-overlapping `spanTokens`-token spans, keep each
    * distinct span's FIRST occurrence corpus-wide (ordered by
    * (id, span-index)), and reassemble documents from their surviving
    * spans. Whole-doc dedup ([[exactDedup]]) misses boilerplate shared
    * ACROSS distinct documents; this removes it.
    *
    * Scale shape — two shuffles, no joins on the hot path:
    *  - spans are derived PER ROW with higher-order functions
    *    (`transform`/`slice` over the token array) — no token explode,
    *    one span row per span, never per token;
    *  - first-occurrence selection is `groupBy(span).agg(min(struct(id,
    *    idx)))` — a partial-aggregatable hash agg whose OUTPUT is the
    *    kept set directly (no rank window, no join-back of winners);
    *  - reassembly is one `groupBy(id)` ordered-array fold.
    * The span-hash distribution is uniform except true boilerplate;
    * a hot span (the same license header a billion times) still
    * map-side-combines to one row per partition before the shuffle.
    *
    * Output: (id, clean_text, n_spans, n_kept) for EVERY input doc —
    * a fully-duplicated doc survives with clean_text = '' and
    * n_kept = 0, so downstream length filters see it.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 10): DataFrame = {
    val toks = split(col(textCol), " ")
    val w = lit(spanTokens)
    val nSpans = when(size(toks) > 0,
      floor((size(toks) - lit(1)) / w.cast("double")).cast("long") + 1L).otherwise(0L)
    val spanArr = when(nSpans > 0,
      transform(sequence(lit(0L), nSpans - 1),
        i => array_join(slice(toks, (i * w + 1).cast("int"), w), " ")))
      .otherwise(array().cast("array<string>"))
    val spans = df
      .select(col(idCol), posexplode(spanArr).as(Seq("cidx", "span")))
    val kept = spans.groupBy(col("span"))
      .agg(min(struct(col(idCol).as("id"), col("cidx").as("cidx"))).as("k"))
      .select(col("k.id").as(idCol), col("k.cidx").as("cidx"), col("span"))
    val reassembled = kept.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("cidx"), col("span")))),
          x => x("span")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol), nSpans.as("n_spans"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_spans"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
