package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Text

/** Large-scale document deduplication suite.
  *
  * The reference's `deduplicate` (skrub/_deduplicate.py:15-285) clusters the
  * *distinct values* of one string column — viable because categorical
  * cardinality is small. For a 100 TB document corpus we need the standard
  * web-scale family instead; all five variants below are shuffle-shaped so
  * that no stage ever cross-joins the full corpus:
  *
  *  - exact:          one hash aggregate on a content fingerprint.
  *  - ngram-jaccard:  explode distinct shingles -> candidate pairs only for
  *                    docs sharing a shingle (inverted index join), count
  *                    intersections in one aggregate, filter by Jaccard.
  *                    Hot shingles are capped (document frequency cutoff) so
  *                    a stop-shingle cannot produce a quadratic bucket.
  *  - minhash-LSH:    K md5-derived minhashes, banded; candidates collide on
  *                    a band key, then verified with the real Jaccard.
  *  - simhash:        64-bit parity simhash; pigeonhole-blocked hamming join
  *                    (4 16-bit blocks -> <=3 differing bits guarantees >=1
  *                    equal block), never all-pairs.
  *  - embedding:      cosine near-dup on embedding columns; brute blocked
  *                    pairs at verify scale, LSH hyperplane buckets at scale.
  *
  * WHICH ONE? README.md "Choosing a dedup strategy" is the one-page
  * decision table (corpus shape -> strategy -> oracle row -> measured
  * recall/cost); the short form: exact first, `bucketPairs = "auto"` when
  * duplication floods are possible, `semanticDedup` for paraphrase-level
  * dedup, `keepBest` to pick survivors, `DedupIndex.ensure`/`probe` for
  * incremental ingest.
  */
object Dedup {

  /** Exact dedup: one row per distinct normalized-content fingerprint,
    * keeping the smallest id (deterministic winner).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("__fp", Text.contentFingerprint(col(textCol)))
      .groupBy(col("__fp").as("fingerprint"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping the BEST-scored copy per content group instead of
    * the smallest id (ties -> smallest id) — the fingerprint-level twin of
    * `keepBest` for the by-far-most-common dedup stage: when byte-equal
    * pages differ in sidecar quality metadata (crawl freshness, source
    * trust, parse confidence), production pipelines keep the best copy.
    * Same single map-side-combined aggregate shape as `exact` (`min_by`
    * over a (negated score, id) struct is partial-aggregable), so the
    * corpus is hashed once and moves through one exchange; `scoreCol`
    * must be numeric and non-null.
    */
  def exactKeepBest(df: DataFrame, textCol: String, idCol: String,
                    scoreCol: String): DataFrame =
    df.withColumn("__fp", Text.contentFingerprint(col(textCol)))
      .groupBy(col("__fp").as("fingerprint"))
      .agg(min_by(col(idCol),
        struct(negate(guardedScore(col(scoreCol), "exactKeepBest")),
          col(idCol))).as(idCol), count(lit(1)).as("n_dups"))

  /** The documented non-null score contract, enforced LOUDLY: a null score
    * inside a `min_by` ordering struct would sort FIRST, so the null-scored
    * copy silently wins its cluster — the exact opposite of "keep the
    * best". `coalesce(score, raise_error(...))` fails the job at the first
    * null instead of quietly changing the kept set; fill or filter null
    * scores upstream. Pure row expression — partial aggregation and
    * codegen are unaffected.
    */
  private[operators] def guardedScore(c: Column, op: String): Column =
    coalesce(c, raise_error(lit(s"Dedup.$op: scoreCol contains a null — " +
      "a null score would silently win the min_by ordering; " +
      "fill or filter null scores before calling")))

  /** SOFT exact dedup: keep every copy, weight each 1/cluster-size — the
    * alternative several corpus pipelines prefer to hard dropping (total
    * per-content mass stays 1, so duplicated pages aren't over-trained on
    * but rare formatting variants survive). ONE fingerprint pass + ONE
    * corpus shuffle: the cluster size is a count window over the
    * fingerprint, so the corpus is hashed exactly once (the previous
    * aggregate-then-join-back shape hashed it twice — a second full
    * hashing pass at 100 TB) and moves through exactly one exchange.
    * Tradeoff vs the join shape: a pathologically mega-duplicated
    * fingerprint makes one window partition large and AQE cannot split a
    * window partition the way it splits a skewed join — acceptable
    * because real duplication clusters are bounded (thousands of copies),
    * while the double hashing pass costs on EVERY corpus. Pairs with
    * `Mix`'s sampled flag: use the weight as a sampling rate or a loss
    * weight downstream.
    */
  def duplicationWeights(df: DataFrame, textCol: String,
                         idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp"))
    df.withColumn("__fp", Text.contentFingerprint(col(textCol)))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("dup_weight",
        round(lit(1.0) / col("n_copies").cast("double"), 6))
      .drop("__fp")
  }

  /** Candidate pairs (idA < idB) sharing at least one word-`n`-gram shingle,
    * with exact Jaccard similarity >= `minJaccard`.
    *
    * Scale controls: shingles with document frequency above `maxShingleDf`
    * are dropped before pairing (inverted-index stop-shingle cutoff) — at
    * 100 TB this is the difference between a linear shuffle and a quadratic
    * bucket explosion on a common phrase.
    */
  /** Corpus-relative stop-shingle cutoff: `fraction` of the corpus size
    * (floored at `minDf` so tiny corpora never cut legitimate shingles).
    * The rehearsal at 10x bench scale showed WHY the cutoff must scale:
    * an absolute cutoff tuned at 1x drops EVERY shingle once the corpus
    * (and so every shingle's document frequency) grows past it — recall
    * collapses to zero pairs. One count job.
    */
  def shingleDfCutoff(df: DataFrame, fraction: Double = 0.005,
                      minDf: Long = 1000L): Long =
    math.max(minDf, (df.count() * fraction).toLong)

  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, minJaccard: Double = 0.5,
                        maxShingleDf: Long = 1000L): DataFrame = {
    // Inverted index as ONE hash aggregate: group the posting list per
    // shingle and generate candidate pairs LOCALLY inside each list. This
    // replaces the previous 4-shuffle shape (df-count pass + anti-join +
    // two self-join sides) with 2 shuffles total (posting groupBy + pair
    // aggregate) and needs no persist — the shingle expression is computed
    // exactly once, in the scan feeding the aggregate.
    //
    // The stop-shingle cutoff becomes a size filter on the grouped list:
    // a shingle with document frequency > maxShingleDf is dropped whole,
    // identical semantics to the old anti-join, and it bounds the local
    // pair generation at maxShingleDf^2 rows per task — at 100 TB this is
    // the difference between a linear shuffle and a quadratic bucket
    // explosion on a common phrase.
    // repartition the RAW text before shingling (see minhashLshPairs): a
    // one-split corpus otherwise shingles + explodes + partially aggregates
    // entirely inside the scan's single task
    val raw = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    val posting = raw
      .repartition(graft.ops.Partitions.cpuSpread(raw), col("id"))
      .select(col("id"),
        graft.functions.VecExprs.tokenShingles(col("__text"), n).as("shingles"))
      .select(col("id"), size(col("shingles")).as("n_sh"),
        explode(col("shingles")).as("shingle"))
    val lists = posting.groupBy(col("shingle"))
      .agg(sort_array(collect_list(struct(col("id"), col("n_sh")))).as("docs"))
      .filter(size(col("docs")).between(2, maxShingleDf))
    // ordered local pair generation: docs is sorted by id, so pairing each
    // element with its successors yields id_a < id_b by construction. One
    // flat codegen loop (VecExprs.PostingPairs) with the size-ratio
    // prefilter — jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|), so lopsided
    // pairs can never pass the threshold and are dropped BEFORE the pair
    // aggregate shuffle. (The previous nested transform(slice(...)) chain
    // was CodegenFallback and allocated an intermediate array per element.)
    val pairs = lists.select(explode(
        graft.functions.VecExprs.postingPairs(col("docs"), minJaccard)).as("p"))
      .select(col("p.a.id").as("id_a"), col("p.a.n_sh").as("n_a"),
        col("p.b.id").as("id_b"), col("p.b.n_sh").as("n_b"))
    pairs
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash + LSH near-dup candidates, verified with exact Jaccard.
    * numHashes = rowsPerBand * nBands. Only band-colliding pairs are ever
    * materialized; the verification join re-reads shingle sets for candidate
    * ids only.
    */
  /** Guarded band-key expressions over a minhash signature column:
    * md5("<b>:<sig slice joined by |>"), null when the signature is not
    * exactly rowsPerBand*nBands elements (empty shingle set) so such docs
    * never collide. Shared by minhashLshPairs and DedupIndex so the band
    * format (and the DuckDB oracle that mirrors it) cannot drift.
    */
  private[operators] def bandExprs(sig: Column, rowsPerBand: Int,
                                   nBands: Int): Seq[Column] =
    (0 until nBands).map { b =>
      when(size(sig) === rowsPerBand * nBands,
        md5(concat(lit(s"$b:"), concat_ws("|",
          (0 until rowsPerBand).map(r =>
            element_at(sig, b * rowsPerBand + r + 1)): _*))))
    }

  /** Per-bucket auto-routed candidate generation shared by the "auto"
    * modes: ONE aggregate over the posting list computes each bucket's
    * (min id, size) — both partial-aggregable, so a flooded bucket
    * pre-collapses map-side — then buckets at or under `cap` members
    * self-join into exact all-pairs (≤ cap candidates per posting row:
    * linear overall) while oversized buckets emit only (hub, member)
    * edges. All four frames key on the SAME bucket columns, so the plan
    * is one exchange reused across the stats aggregate, the stats join,
    * and the small-bucket self-join.
    */
  private def autoBucketPairs(posting: DataFrame, bucketCols: Seq[String],
                              cap: Int): DataFrame = {
    val keys = bucketCols.map(col)
    val stats = posting.groupBy(keys: _*)
      .agg(min(col("id")).as("__hub"), count(lit(1)).as("__n"))
    val joined = posting.join(stats, bucketCols)
    val small = joined.filter(col("__n") <= cap)
      .select(keys :+ col("id"): _*)
    val smallPairs = small.alias("x").join(small.alias("y"), bucketCols)
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val hubEdges = joined.filter(col("__n") > cap)
      .filter(col("__hub") < col("id"))
      .select(col("__hub").as("id_a"), col("id").as("id_b"))
    smallPairs.unionAll(hubEdges).distinct()
  }

  /** `bandPairs = "all"` (default) materializes every band-colliding pair —
    * exhaustive, but O(bucket^2) inside a bucket: a document duplicated c
    * times yields ~c^2/2 candidates per colliding band (measured 12.5 GB
    * shuffle / 27M verified pairs at the 100x-copies rehearsal — the
    * output itself is quadratic in duplication). `bandPairs = "star"` is
    * the clustering-consumer scale knob production dedup pipelines use:
    * each bucket emits only (bucket-min id, other) — O(bucket) — and
    * connected components recover the full cluster transitively through
    * the verified hub edges. Laws (DedupSpec): star's verified pairs are
    * a SUBSET of all-pairs', and star components REFINE all-pairs
    * components (fewer edges can only split clusters, never merge). The
    * trade: a pair neither of whose ends is a bucket minimum survives
    * only if its ends connect through hubs that pass verification — fine
    * when buckets are precise, as minhash bands are (AND-composition of
    * rowsPerBand hashes: collision implies similarity; measured component
    * recall 1.0 on the fixture and an IDENTICAL keepBest kept set at the
    * 100x-copies rehearsal, StarRecallSpec) — use "star" for
    * keepBest/deduplicate/CC-style consumers on duplication-heavy
    * corpora, "all" when the pair LIST itself is the deliverable.
    *
    * `bandPairs = "auto"` (r13) is the per-bucket auto-route — the
    * `Budget.selectToBudgetPerGroup` discipline applied to candidate
    * generation: buckets at or under `maxBucketPairs` members emit exact
    * all-pairs (bounded at maxBucketPairs pairs per posting row, so the
    * candidate list stays LINEAR in the posting list), and only oversized
    * buckets — the duplication floods star exists for, where the
    * bucket-min hub IS one of the copies — route to hub edges. Recall
    * equals "all" whenever no bucket overflows the cap; under a flood the
    * mega bucket degrades to star gracefully instead of emitting O(c^2)
    * pairs. Laws: star ⊆ auto ⊆ all (DedupSpec/StarRecallSpec).
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, rowsPerBand: Int = 2, nBands: Int = 8,
                      minJaccard: Double = 0.5,
                      bandPairs: String = "all",
                      maxBucketPairs: Int = 256): DataFrame = {
    require(Set("all", "star", "auto")(bandPairs),
      s"bandPairs must be all|star|auto, got $bandPairs")
    require(maxBucketPairs >= 1, "maxBucketPairs must be positive")
    val k = rowsPerBand * nBands
    // Signature via ONE loop-codegen pass per doc (VecExprs.MinhashSig):
    // the previous explode + K static min-aggregates shape shuffled every
    // (doc, shingle) row and hashed each one K times through separate
    // aggregate expressions; the flat loop computes the same K min-hex
    // values (same md5(shingle#k) definition, oracle-reproducible) with no
    // shuffle at all — signatures are a pure projection over the scan.
    // Repartition the RAW text BEFORE any hashing: a small corpus often
    // arrives as one parquet split, and a projection computed below the
    // exchange runs in the scan's single task — profiling showed the whole
    // signature computation (16 md5s x every shingle) serialized on one
    // core (2.6s of a 3.0s query) while the cluster idled. Shuffling the
    // raw (id, text) first means every consumer of the reused exchange
    // computes its per-doc work across all partitions: both band-join
    // sides recompute the (now parallel, ~0.1s) signatures, both
    // verification joins recompute shingles, and the exchange is also
    // hash-partitioned on id — exactly the partitioning the verification
    // joins require.
    // Null docs are dropped on the CHEAP input column, pre-exchange — a
    // `filter(sig.isNotNull)` here got predicate-pushed through the
    // repartition INTO THE SCAN, computing the entire signature in the
    // scan's single task just to test null-ness (and again above the
    // exchange): the pushdown that usually helps turned the fix inside out.
    // sig is null exactly when text is null, so the filters are equivalent.
    val raw = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .filter(col(textCol).isNotNull)
    val base = raw
      // explicit partition COUNT: a bare repartition(col) is
      // REPARTITION_BY_COL, which AQE freely coalesces back to one
      // partition for a small-bytes corpus — and the whole point here is
      // spreading CPU (hashing), not bytes (same as embeddingCosinePairs);
      // the count itself is size-gated (Partitions.cpuSpread) so a tiny
      // vocabulary doesn't pay full-width shuffle overhead
      .repartition(graft.ops.Partitions.cpuSpread(raw), col("id"))
    val sigs = base.select(col("id"),
        graft.functions.VecExprs.minhashSig(
          graft.functions.VecExprs.tokenShingles(col("__text"), n), k).as("sig"))
    // band keys: md5("<b>:<sig slice joined by |>") — same format as
    // Text.lshBands and the DuckDB oracle
    // Empty signature (empty shingle set) -> NULL band key, and null keys
    // never match in the equi-join below, so such docs can never pair. The
    // unguarded form was a latent trap: element_at on an empty array is null
    // (non-ANSI) and concat_ws skips nulls, so every empty-signature doc
    // would share the constant band md5("<b>:") and pair QUADRATICALLY.
    // Unreachable via tokenShingles (always >= 1 shingle) but the guard
    // makes the documented no-collision contract hold for any caller.
    val banded = sigs.select(col("id"),
      explode(array(bandExprs(col("sig"), rowsPerBand, nBands): _*)).as("band"))
    val cand = bandPairs match {
      case "star" =>
        // one map-side-combined min per bucket (skew-proof: a million-copy
        // bucket pre-collapses per partition), then O(bucket) hub edges
        val hubs = banded.groupBy(col("band")).agg(min(col("id")).as("id_a"))
        banded.join(hubs, Seq("band"))
          .filter(col("id_a") < col("id"))
          .select(col("id_a"), col("id").as("id_b"))
          .distinct()
      case "auto" =>
        autoBucketPairs(banded, Seq("band"), maxBucketPairs)
      case _ => banded.alias("x").join(banded.alias("y"), Seq("band"))
        .filter(col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .distinct()
    }
    val sh = base.select(col("id"),
      graft.functions.VecExprs.tokenShingles(col("__text"), n).as("shingles"))
    cand
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming (default 3
    * with 4 16-bit blocks — the standard 64/4 split). Pigeonhole blocking:
    * two fingerprints within hamming k must agree on >= 1 of k+1 blocks, so
    * the join key is (blockIndex, blockValue) — linear in corpus size.
    * 64-bit fingerprints (r7; was 32) keep expected block-bucket occupancy
    * near corpus/2^16 instead of corpus/2^8 — in-bucket pair generation is
    * quadratic in occupancy, so the wider blocks are what keep the blocked
    * join linear at 100 TB (the r6 scale rehearsal's named hazard).
    */
  /** SimHash fingerprints: one loop-codegen pass per doc (VecExprs.Simhash64
    * via Text.simhash64 — two md5s per token, no token-row shuffle).
    * Null/empty text maps to fingerprint 0.
    */
  def simhashFingerprints(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), Text.simhash64(col(textCol)).as("sim"))

  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val nBlocks = maxHamming + 1
    val bitsPerBlock = 64 / nBlocks // 64-bit fingerprint
    // Repartition the RAW text BEFORE fingerprinting (see minhashLshPairs:
    // a one-split corpus otherwise computes every fingerprint in the scan's
    // single task); the reused exchange is consumed by both block-join
    // sides, each recomputing the now-parallel cheap fingerprint.
    val raw = df.select(col(idCol), col(textCol))
    val docs = simhashFingerprints(
      raw.repartition(graft.ops.Partitions.cpuSpread(raw), col(idCol)),
      textCol, idCol)
    val blocks = docs.select(col("id"), col("sim"),
      explode(array((0 until nBlocks).map { bi =>
        struct(lit(bi).as("block_i"),
          shiftright(col("sim"), bi * bitsPerBlock)
            .bitwiseAND(lit((1L << bitsPerBlock) - 1)).as("block_v"))
      }: _*)).as("blk"))
      .select(col("id"), col("sim"), col("blk.block_i"), col("blk.block_v"))
    blocks.alias("x").join(blocks.alias("y"), Seq("block_i", "block_v"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding near-duplicates: pairs with cosine similarity >= minCosine.
    * This is the exact variant (blocked all-pairs) used for verification;
    * the scale path is `embeddingLshPairs`, which buckets by signed random
    * hyperplanes first.
    */
  def embeddingCosinePairs(df: DataFrame, vecCol: String, idCol: String,
                           minCosine: Double): DataFrame = {
    // repartition the streamed side: the corpus usually arrives as one
    // parquet split, which would serialize the whole O(n^2) loop onto a
    // single task
    val raw = df.select(col(idCol).as("id"), col(vecCol).as("__v"))
    val v = raw.repartition(graft.ops.Partitions.cpuSpread(raw), col("id"))
      .select(col("id"), normalized(col("__v")).as("nv"))
    v.alias("x").join(broadcast(v.alias("y")), col("x.id") < col("y.id"))
      .withColumn("cosine", graft.functions.VecExprs.arrayDot(col("x.nv"), col("y.nv")))
      .filter(col("cosine") >= minCosine)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** LSH variant — the 100 TB path: multi-table hyperplane LSH. Each vector
    * gets `nTables` bucket keys (independent `planesPerTable`-plane sign
    * buckets, md5-derived coefficients precomputed on the driver —
    * graft.functions.Planes); candidate pairs collide in >= 1 table and are
    * verified with the exact cosine. A pair at the cosine threshold with
    * per-plane agreement q survives one table with p0 = q^planesPerTable and
    * is recalled with 1 - (1 - p0)^nTables — the banding amplification a
    * single bucket family cannot provide (round-2 single-band recall was
    * 0.03; this configuration measures ~0.9 on the fixture —
    * q_dedup_embedding_recall). The join stays an equi shuffle join on
    * (table, bucket); no corpus self-cross-join anywhere. Cost: the posting
    * list is |corpus| * nTables rows — the standard LSH space/recall trade.
    */
  /** Hyperplane count that keeps expected bucket occupancy near
    * `targetBucketSize`: ceil(log2(n / target)). The rehearsal at 10x bench
    * scale showed WHY planes must scale with the corpus: planesPerTable
    * tuned at 1x (16 buckets/table) degenerates toward an all-pairs join
    * per bucket once n grows 10x (321s vs 51s with scaled planes, at ~0.8
    * relative pair recall — fewer collisions is the LSH tradeoff). One
    * count job; pass the result as `planesPerTable`.
    */
  def planesFor(n: Long, targetBucketSize: Int = 250): Int =
    math.max(1, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketSize))
      / math.log(2.0)).toInt)

  /** `bucketPairs = "star"` mirrors `minhashLshPairs(bandPairs = "star")`:
    * each (table, bucket) emits only (bucket-min id, other) hub edges —
    * O(bucket) where all-pairs is O(bucket^2) in duplication. Same
    * subset/refinement laws (DedupSpec) — but UNLIKE the minhash twin,
    * hyperplane buckets at practical plane counts are COARSE (mostly
    * dissimilar vectors share a bucket), so hub edges often fail cosine
    * verification and clusters shatter: measured component recall 0.095
    * on the fixture's sparse similarity graph vs the minhash twin's 1.0
    * (StarRecallSpec pins both). Reach for star here ONLY when
    * duplication dominates (exact-copy floods, where the hub IS a copy);
    * for embedding clustering use `semanticDedup` (cell-confined) or
    * keep the "all" default. `planesFor` bounds EXPECTED occupancy but
    * cannot bound a mega-duplicated embedding's bucket; star bounds the
    * pair count even there.
    *
    * `bucketPairs = "auto"` (r13) resolves that tradeoff per bucket: at or
    * under `maxBucketPairs` members a bucket emits exact all-pairs
    * (recall = "all" on sparse graphs — measured component recall 1.0 on
    * the fixture where pure star read 0.095, StarRecallSpec), above the
    * cap it emits hub edges only (the flood case, where the bucket-min IS
    * a copy and hub edges verify). The candidate list stays ≤
    * maxBucketPairs per posting row — linear at ANY duplication — so
    * "auto" is the recommended scale default for embedding near-dup;
    * laws: star ⊆ auto ⊆ all.
    */
  def embeddingLshPairs(df: DataFrame, vecCol: String, idCol: String,
                        minCosine: Double, planesPerTable: Int = 4,
                        nTables: Int = 16,
                        bucketPairs: String = "all",
                        maxBucketPairs: Int = 256): DataFrame = {
    require(Set("all", "star", "auto")(bucketPairs),
      s"bucketPairs must be all|star|auto, got $bucketPairs")
    require(maxBucketPairs >= 1, "maxBucketPairs must be positive")
    // exchange-reuse instead of persist (the previous persists were never
    // released — a leak in a long-lived session): `v` repartitioned on id
    // is the exact partitioning the two verification joins require, so one
    // exchange feeds the posting build AND both join sides; `posting`
    // repartitioned on (tbl, bkt) IS the band self-join's own shuffle, so
    // both sides reuse it (ReusedExchange) with no extra hop and the
    // normalize/bucket expressions evaluate once, not once per consumer.
    val raw = df.select(col(idCol).as("id"), col(vecCol).as("__v"))
    val nSpread = graft.ops.Partitions.cpuSpread(raw)
    val v = raw
      // explicit COUNT: REPARTITION_BY_COL lets AQE coalesce a small-bytes
      // exchange to one partition, serializing every downstream normalize/
      // bucket computation onto a single task (see minhashLshPairs); the
      // count is size-gated (Partitions.cpuSpread)
      .repartition(nSpread, col("id"))
      .select(col("id"), normalized(col("__v")).as("nv"))
    // bucket ids via the custom loop-codegen expression (VecExprs — the
    // unrolled built-in composition exceeded codegen limits and fell back to
    // interpreted evaluation, 20s for 2000 rows)
    val posting = v.select(col("id"),
      posexplode(graft.functions.VecExprs.hyperplaneBuckets(
        col("nv"), nTables, planesPerTable)))
      .select(col("id"), col("pos").as("tbl"), col("col").as("bkt"))
      .repartition(nSpread, col("tbl"), col("bkt"))
    val cand = bucketPairs match {
      case "star" =>
        val hubs = posting.groupBy(col("tbl"), col("bkt"))
          .agg(min(col("id")).as("id_a"))
        posting.join(hubs, Seq("tbl", "bkt"))
          .filter(col("id_a") < col("id"))
          .select(col("id_a"), col("id").as("id_b"))
          .distinct()
      case "auto" =>
        autoBucketPairs(posting, Seq("tbl", "bkt"), maxBucketPairs)
      case _ => posting.alias("x").join(posting.alias("y"), Seq("tbl", "bkt"))
        .filter(col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .distinct()
    }
    cand
      .join(v.select(col("id").as("id_a"), col("nv").as("nv_a")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("nv").as("nv_b")), Seq("id_b"))
      .withColumn("cosine", graft.functions.VecExprs.arrayDot(col("nv_a"), col("nv_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    * k-means-cluster the normalized embeddings with the deterministic
    * trained quantizer (`SimilaritySearch.kmeansCentroids` — md5-ranked
    * init, rounded Lloyd steps, bit-reproducible in the SQL oracle), then
    * mark a vector as a duplicate iff SOME lower-id vector in the SAME
    * cluster has cosine >= `minCosine`. Keep-lowest-id is the
    * deterministic stand-in for the paper's keep-farthest-from-centroid
    * tie-break; the pruning semantics (intra-cluster pairwise cosine) are
    * the paper's.
    *
    * Why this scales where all-pairs cannot: candidate pairs are confined
    * to cells, so pair work is sum over cells of |cell|^2 ~ n^2/k — with
    * the auto-sized k ~ sqrt(n) cells of the IVF path this is n^1.5
    * bounded, and the join is ONE equi shuffle on cid (plus the
    * iters+1 linear training scans). Compare `embeddingLshPairs` when a
    * pair LIST is wanted; this operator's contract is the per-vector
    * keep/drop verdict every curation pipeline ends with.
    */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    minCosine: Double, kClusters: Int = 16,
                    iters: Int = 2): DataFrame =
    semanticVerdicts(df, vecCol, idCol, minCosine, kClusters, iters,
      nProbe = 1, keepCid = true)

  /** Multi-probe semantic dedup: each vector joins its `nProbe` nearest
    * cells instead of one, so a cosine-dup pair split across adjacent
    * cells is still seen whenever ANY probed cell is shared — the banding
    * trick applied to the clustering quantizer (single-assignment recall
    * measured 0.40 at tau=0.4 on the fixture by
    * `q_dedup_semantic_recall`; the multi-probe row measures the 0.83
    * lift). Cost: pair work multiplies by <= nProbe^2 per cell pair — the
    * same recall/cost dial every LSH family here exposes. Output is
    * `(vec_id, is_dup)`; the cell id is no longer unique per vector.
    */
  def semanticDedupMultiProbe(df: DataFrame, vecCol: String, idCol: String,
                              minCosine: Double, kClusters: Int = 16,
                              iters: Int = 2, nProbe: Int = 2): DataFrame =
    semanticVerdicts(df, vecCol, idCol, minCosine, kClusters, iters,
      nProbe, keepCid = false)

  /** Shared core of the two semantic-dedup forms — one definition of the
    * quantizer fit, assignment, within-cell domination join and verdict
    * aggregate, so a change to any of them cannot make the operators
    * silently diverge. `keepCid` (nProbe == 1 only) adds the cell id to
    * the output. Storage discipline follows `deduplicate`: the verdict
    * frame (one narrow row per vector) is materialized EAGERLY and the
    * normalized/assignment checkpoints this call owns are freed before
    * returning — a long-lived session sweeping many corpora accumulates
    * only the (small) result blocks, released with the result frame.
    */
  private def semanticVerdicts(df: DataFrame, vecCol: String, idCol: String,
                               minCosine: Double, kClusters: Int,
                               iters: Int, nProbe: Int,
                               keepCid: Boolean): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    require(!keepCid || nProbe == 1,
      "cid output is only unique under single assignment")
    val raw = df.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
    val c = raw
      .repartition(graft.ops.Partitions.cpuSpread(raw), col("id"))
      .select(col("id"), normalized(col("__v")).as("nv"))
      .localCheckpoint()
    val kc =
      if (kClusters > 0) kClusters
      else math.max(16, math.sqrt(c.count().toDouble).toInt)
    val cents = SimilaritySearch.kmeansCentroids(
      c.select(col("id").as("corpus_id"), col("nv").as("cv")), kc, iters)
    // materialize the assignment ONCE: both sides of the cid self-join
    // read it, and without the checkpoint the NearestCells argmin —
    // O(n * k * d), the dominant non-join compute with auto k ~ sqrt(n) —
    // would re-evaluate per side. explode of the 1-element probe array IS
    // single assignment, so one expression serves every nProbe.
    val assigned = c.select(col("id"), col("nv"),
        explode(SimilaritySearch.nearestCids(cents, col("nv"), nProbe))
          .as("cid"))
      .localCheckpoint()
    val x = assigned.select(col("cid"), col("id").as("vec_id"), col("nv").as("xv"))
    val y = assigned.select(col("cid").as("ycid"), col("id").as("yid"),
      col("nv").as("yv"))
    // left join keeps cluster-minimum ids (no smaller partner) with null y
    val joined = x.join(y,
      col("cid") === col("ycid") && col("yid") < col("vec_id"), "left")
    val grouped =
      if (keepCid) joined.groupBy(col("vec_id"), col("cid"))
      else joined.groupBy(col("vec_id"))
    val verdict = grouped.agg(max(coalesce(
      round(graft.functions.VecExprs.arrayDot(col("xv"), col("yv")), 6)
        >= minCosine, lit(false))).as("is_dup"))
    val out =
      if (keepCid) verdict.select(col("vec_id"),
        col("cid").cast(org.apache.spark.sql.types.LongType).as("cid"),
        col("is_dup"))
      else verdict.select(col("vec_id"), col("is_dup"))
    val mat = out.localCheckpoint() // eager: verdicts materialized here
    assigned.rdd.unpersist(false)
    c.rdd.unpersist(false)
    mat
  }

  /** Cluster near-duplicate candidates and keep the BEST-scored member of
    * each cluster — the representative-selection policy production
    * curation pipelines actually want (keep the longest / highest-quality
    * copy, not the smallest id). `pairs` is any verified pair list with
    * (id_a, id_b) columns — `ngramJaccardPairs`, `minhashLshPairs`,
    * `simhashPairs` and `embeddingLshPairs` all qualify — clusters are
    * connected components over it, and the representative is
    * argmax(scoreCol), ties broken toward the smallest id. `scoreCol`
    * must be numeric and non-null on every doc that APPEARS IN THE PAIR
    * GRAPH (a null there fails loudly — it would silently win its
    * cluster's min_by); docs in no cluster never enter an ordering, so
    * their score passes through unchecked, null included. Ids must be
    * unique.
    *
    * Returns one verdict row per input row: (idCol, scoreCol,
    * cluster_size, kept) — `kept = false` rows are the duplicates a hard
    * dedup drops (soft pipelines can reweight on cluster_size instead,
    * mirroring `duplicationWeights`).
    *
    * Clustering route, chosen by pair count (as `deduplicate` does):
    *  - up to [[MaxDriverPairs]] pairs (the common case: near-dup graphs
    *    are tiny next to the corpus), ONE bounded collect of the pairs and
    *    a union-find on the driver. The (id, label) frame goes back as a
    *    local relation: the planner broadcasts it into both joins below
    *    while it is under `spark.sql.autoBroadcastJoinThreshold` (about
    *    400k long ids at the 10 MB default) and shuffle-joins it above.
    *    The labels stay on the driver, in the verdict's plan, for as long
    *    as the verdict lives, and ship with every action on it.
    *  - above it, the distributed min-label loop (`connectedComponents`),
    *    bounded by the pair graph, not the corpus. Its final labels are
    *    checkpoint-backed; those blocks are freed by the ContextCleaner
    *    once the returned frame is collected.
    *  The pairs are persisted (unless the caller already did) for the span
    *  of the collect and, above the guard, of the loop, so the pair
    *  pipeline runs once on either route; the persist is released before
    *  returning, and the driver route leaves no persisted or checkpointed
    *  block behind. Ids whose JVM values do not compare the way Spark's
    *  join keys do (binary, floating-point, non-binary collated strings,
    *  and structs or arrays holding them) always take the distributed loop.
    *
    * Per-cluster stats come from ONE map-side-combined aggregate over the
    * clustered rows (count + min_by are partial-aggregable, so a
    * mega-cluster — a boilerplate page duplicated millions of times,
    * exactly the shape dedup targets — pre-collapses per partition instead
    * of landing on one window task) joined back on the label
    * (cluster-count-sized side, AQE-broadcastable); untouched docs take
    * the `kept = true` fast path through one AQE-broadcastable anti-join.
    * Nothing corpus-sized is ever sorted or collected.
    *
    * LAZY contract (unlike `deduplicate`, whose output is vocabulary-sized
    * and therefore eagerly materialized): the verdict is corpus-row-sized,
    * so the CALLER owns its materialization — each action re-scans `df`
    * for (id, score), but never the pair pipeline.
    */
  def keepBest(df: DataFrame, pairs: DataFrame, idCol: String,
               scoreCol: String): DataFrame =
    keepBestGuarded(df, pairs, idCol, scoreCol, MaxDriverPairs)

  /** `keepBest` with the driver-route guard as a parameter, so a spec can
    * force the distributed loop (`maxDriverPairs = 0`) on a small graph.
    */
  private[graft] def keepBestGuarded(df: DataFrame, pairs: DataFrame,
      idCol: String, scoreCol: String, maxDriverPairs: Int): DataFrame = {
    val labels = withPersistedPairs(pairs) { p =>
      driverLabels(p, maxDriverPairs).getOrElse(distributedLabels(p))
    }
    // null scores fail FAST on every CLUSTERED doc (where they would
    // silently win the per-cluster min_by below — ADVICE r12:
    // struct(negate(null), id) sorts first, so a null-scored doc would
    // quietly claim its cluster). Docs in NO cluster never enter a min_by,
    // so their score passes through unchecked — null ok, kept = true (the
    // singleton fast path; guarding them too was an r13 over-tightening
    // that broke callers scoring only their duplicate candidates —
    // ADVICE r13)
    val scored = df.select(col(idCol).as("id"), col(scoreCol).as("__raw"))
    val t = scored.join(labels, Seq("id"))
      .select(col("label"), col("id"),
        guardedScore(col("__raw"), "keepBest").as("__score"))
    val stats = t.groupBy(col("label")).agg(
      count(lit(1)).as("cluster_size"),
      min_by(col("id"), struct(negate(col("__score")), col("id"))).as("__rep"))
    val clustered = t.join(stats, Seq("label"))
      .select(col("id"), col("__score"), col("cluster_size"),
        (col("id") === col("__rep")).as("kept"))
    val singletons = scored.join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("__raw").as("__score"), lit(1L).as("cluster_size"),
        lit(true).as("kept"))
    clustered.unionByName(singletons)
      .select(col("id").as(idCol), col("__score").as(scoreCol),
        col("cluster_size"), col("kept"))
  }

  /** keepBest's driver route: (id, label) over the edge-touched ids as a
    * local relation, or None when the graph is over `maxDriverPairs` or
    * the id type cannot key a JVM HashMap (see `jvmKeyable`).
    */
  private def driverLabels(pairs: DataFrame,
                           maxDriverPairs: Int): Option[DataFrame] = {
    val idType = pairs.schema("id_a").dataType
    val keyable = idType == pairs.schema("id_b").dataType && jvmKeyable(idType)
    if (!keyable) None
    else driverComponents(pairs, maxDriverPairs).map { roots =>
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](roots.size)
      roots.forEach((id, root) => rows.add(org.apache.spark.sql.Row(id, root)))
      pairs.sparkSession.createDataFrame(rows, StructType(Seq(
        StructField("id", idType, nullable = false),
        StructField("label", idType, nullable = false))))
    }
  }

  /** Whether collected values of type `t` are equal on the JVM exactly
    * when Spark's join keys are: binary ids hash by array identity, boxed
    * floats tell -0.0 from 0.0 where join keys normalize them, and
    * String.equals cannot see a non-binary collation ('A' joins 'a' under
    * UTF8_LCASE).
    */
  private def jvmKeyable(t: DataType): Boolean = t match {
    case BinaryType | FloatType | DoubleType | _: MapType => false
    case s: StringType => s.collationId == StringType.collationId
    case s: StructType => s.fields.forall(f => jvmKeyable(f.dataType))
    case a: ArrayType => jvmKeyable(a.elementType)
    case _ => true
  }

  /** keepBest's distributed route: min-label propagation over the pair
    * graph, for graphs above the driver guard. `pairs` must be persisted
    * (`withPersistedPairs`): it is read twice, for the touched ids and for
    * the CC loop's edge frame. Everything the labels reference is
    * checkpoint-backed and PAIR-GRAPH-BOUNDED — `touched` is
    * localCheckpointed here (eager) and the CC loop checkpoints its final
    * labels — so the persist can be released once this returns, and the
    * only live state is graph-sized, NEVER corpus-sized.
    */
  private def distributedLabels(pairs: DataFrame): DataFrame = {
    val touched = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
      .localCheckpoint() // eager: pins the pair-bounded vertex set
    connectedComponents(touched, pairs) // eager; labels are checkpointed
  }

  /** Runs `f` over `pairs` persisted for its span, then releases the
    * persist. The bounded collect of `driverComponents` and, above its
    * guard, the distributed loop both read the pairs, and the candidate
    * pipeline behind them (shingles + signatures + band join + verify) is
    * the expensive part: it must run once, not once per reader. `f` must
    * return nothing that still reads `pairs` lazily. A persist the caller
    * already owns is kept: unpersisting a frame the caller cached for
    * reuse would silently evict THEIR blocks.
    */
  private def withPersistedPairs[T](pairs: DataFrame)(f: DataFrame => T): T = {
    import org.apache.spark.storage.StorageLevel
    val callerPersisted = pairs.storageLevel != StorageLevel.NONE
    val p = if (callerPersisted) pairs
      else pairs.persist(StorageLevel.MEMORY_AND_DISK)
    try f(p) finally if (!callerPersisted) p.unpersist(blocking = false)
  }

  /** The bounded driver route to connected components, shared by
    * `deduplicate` and `keepBest`: collect at most `maxDriverPairs + 1`
    * (id_a, id_b) rows — never an unbounded collect — and run union-find
    * on them in O(E α(E)). Returns every non-null id of the pairs mapped
    * to its component's root, or None when the graph has more than
    * `maxDriverPairs` pairs. A pair with a null id adds no edge (an
    * equi-join never matches null); its other id is still a vertex, alone
    * unless another pair joins it — the components the distributed loop
    * finds. Roots are arbitrary members: callers use them only as cluster
    * keys.
    */
  private def driverComponents(pairs: DataFrame, maxDriverPairs: Int)
      : Option[java.util.HashMap[Any, Any]] = {
    val head = pairs.select(col("id_a"), col("id_b"))
      .limit(math.min(maxDriverPairs, Int.MaxValue - 1) + 1).collect()
    if (head.length > maxDriverPairs) None
    else {
      // union-find with path halving
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        var p = parent.get(r)
        while (!p.equals(r)) {
          val gp = parent.get(p)
          parent.put(r, gp); r = p; p = gp
        }
        r
      }
      head.foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        if (a != null) parent.putIfAbsent(a, a)
        if (b != null) parent.putIfAbsent(b, b)
        if (a != null && b != null) {
          val (ra, rb) = (find(a), find(b))
          if (!ra.equals(rb)) parent.put(rb, ra)
        }
      }
      // flatten: every id maps straight to its root
      parent.keySet.toArray.foreach(id => parent.put(id, find(id)))
      Some(parent)
    }
  }

  /** Connected components over an undirected pair list via iterative
    * min-label propagation: each node repeatedly takes the smallest label
    * among itself and its neighbors until fixpoint. Converges in
    * O(component diameter) joins — near-dup clusters are tiny cliques, so
    * 2-4 iterations in practice; every step is a shuffle join + hash
    * aggregate (no driver-side graph, no quadratic stage) and intermediate
    * labels are persisted/unpersisted per iteration.
    *
    * Returns (id, label) where label = smallest id in the component.
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponentsTracked(vertices, pairs)._1

  /** As `connectedComponents`, also returning the RDD ids of the final
    * label frame's checkpoint blocks — the caller that materializes a
    * downstream result can free EXACTLY those (and nothing a concurrent
    * driver thread may have registered meanwhile).
    */
  private[operators] def connectedComponentsTracked(
      vertices: DataFrame, pairs: DataFrame): (DataFrame, Set[Int]) = {
    import org.apache.spark.storage.StorageLevel
    // both directions from ONE pass over `pairs`: a union of two selects
    // would evaluate the (expensive, self-join-shaped) pair pipeline twice
    // before the persist ever materializes
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val idType = pairs.schema("id_a").dataType
    val sc = pairs.sparkSession.sparkContext
    // Only vertices that touch an edge can ever change label — everything
    // else is trivially its own singleton component. Iterating over the
    // edge-touched set only keeps every per-iteration shuffle proportional
    // to the (typically tiny) near-dup pair graph, not the full vertex set;
    // singletons rejoin once at the end. `edges` holds both directions, so
    // `src` alone covers every touched vertex.
    //
    // localCheckpoint truncates the logical plan each iteration — without it
    // the lineage doubles per step and plan compilation blows up after ~8
    // iterations. Each checkpoint pins its partitions in the block manager,
    // so the PREVIOUS iteration's blocks are freed explicitly once the next
    // one is materialized (tracked via getPersistentRDDs — public API) —
    // otherwise diameter-many copies of the label frame accumulate.
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val out = df.localCheckpoint() // eager: materialized here
      // exact backing-rdd id (no snapshot diffing — a concurrent driver
      // thread's blocks must never be attributed to this checkpoint)
      (out, org.apache.spark.sql.GraftBridge.checkpointedRddId(out).toSet)
    }
    // Initial label = min over {self} ∪ direct neighbors — the same single
    // hash aggregate a distinct() init would cost, but it IS the first
    // message-passing round, so every call converges one join+checkpoint
    // iteration earlier (a 2-clique settles in one loop round).
    var (labels, liveBlocks) = checkpointTracked(
      edges.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
        .select(col("src").as("id"),
          least(col("src"), col("__mn")).as("label")))
    // ONE join + ONE aggregate per propagation round (min-label message
    // passing): neighbor messages carry the sender's label, each vertex also
    // sends itself its current label tagged in `self` — min(label) is the
    // new label and min(self) recovers the old one, so the convergence test
    // rides the same aggregate instead of a second join against the
    // previous labels.
    def propagate(from: DataFrame): DataFrame = {
      val msgs = edges.join(from.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"),
          lit(null).cast(idType).as("self"))
        .unionAll(from.select(col("id"), col("label"), col("label").as("self")))
      msgs.groupBy(col("id"))
        .agg(min(col("label")).as("label"), min(col("self")).as("old"))
    }
    var converged = false
    while (!converged) {
      // TWO propagation rounds per checkpoint: the checkpoint (an eager
      // materialization pinning block-manager partitions) is the per-
      // iteration fixed cost, so batching rounds halves checkpoints on long
      // chains at the price of a bounded (depth-2) lineage. Min-label
      // propagation is monotone, so "round 2 changed nothing" alone proves
      // the fixpoint — round 1's delta needs no separate check. The round-1
      // aggregate appears twice in round 2's plan (join side + self side);
      // its shuffle exchange is reused, not recomputed.
      val mid = propagate(labels).select(col("id"), col("label"))
      val (next, newBlocks) = checkpointTracked(propagate(mid))
      // isEmpty short-circuits on the first changed row (limit-1 over the
      // checkpointed frame) — a full count aggregate only ever runs on the
      // final (converged) iteration, where the frame is scanned once anyway
      val anyChanged = !next.filter(col("label") < col("old")).isEmpty
      liveBlocks.foreach(i => sc.getPersistentRDDs.get(i).foreach(_.unpersist(false)))
      liveBlocks = newBlocks
      labels = next.select(col("id"), col("label"))
      converged = !anyChanged
    }
    edges.unpersist()
    val out = vertices.select(col("id")).join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    (out, liveBlocks)
  }

  /** The reference's `deduplicate` contract (skrub/_deduplicate.py:15-285):
    * cluster the DISTINCT values of a string column by n-gram similarity and
    * map every value to its cluster's most frequent member (ties -> smallest
    * value). Returns the translation map (value, canonical).
    *
    * Reference clusters with driver-side hierarchical clustering over TF-IDF
    * distances; our scale path derives clusters as connected components of
    * the jaccard near-dup pair graph at `minJaccard` — same contract
    * (value -> most-frequent-member), shuffle-shaped throughout.
    *
    * EAGER contract: the call runs jobs and returns a MATERIALIZED frame
    * (a lineage-truncated localCheckpoint, |distinct values| rows) so every
    * intermediate this call owns is freed before returning. The checkpoint
    * block is released when the frame is garbage-collected (ContextCleaner)
    * or explicitly via `df.rdd.unpersist()`; it cannot be recomputed after
    * executor loss — re-run the call in that case.
    */
  /** `candidates = "auto"` routes to the minhash-band generator above
    * EITHER gate: the exact inverted index's pair amplification (each pair
    * shuffled once per shared shingle) grew ~6x faster than the banded
    * generator in the 10x scale rehearsal (BASELINE.md), and at 100 TB the
    * exact generator's shuffle is the dominating cost. The cost driver is
    * total shingle VOLUME, not value count — 5k document-length values
    * (~1.5M chars, the bench corpus) amplify far more than 20k short
    * category keys (~0.4M chars, the reference's typical dirty-category
    * shape) — so the primary gate is summed value length, with the
    * distinct-count gate kept as a backstop for huge vocabularies.
    */
  val AutoMinhashAbove = 20000L
  val AutoMinhashCharsAbove = 1000000L

  /** The auto-routing decision as a pure function of the two corpus stats
    * (unit-testable without running the generators). */
  def autoRoutesToMinhash(nVals: Long, totalChars: Long): Boolean =
    nVals > AutoMinhashAbove || totalChars > AutoMinhashCharsAbove

  /** Guard of the driver union-find route that `deduplicate` and
    * `keepBest` share: the route collects up to (limit+1) pair rows (two
    * md5 strings are ~200 B on-heap) and touches up to 2x that many ids —
    * 1M pairs keeps the worst case near ~0.5 GB driver heap; larger graphs
    * take the distributed min-label CC fallback, which scales to any size.
    */
  val MaxDriverPairs = 1000000

  def deduplicate(df: DataFrame, c: String, minJaccard: Double = 0.4,
                  n: Int = 3, maxDriverPairs: Int = MaxDriverPairs,
                  candidates: String = "auto"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(Set("auto", "jaccard", "minhash").contains(candidates),
      s"candidates must be auto|jaccard|minhash, got $candidates")
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val vals = df.filter(col(c).isNotNull).groupBy(col(c).as("v"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("id", md5(col("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Candidate generator: "jaccard" (exact inverted index — every pair at
    // or above the threshold) is the oracle-verified exact form; "minhash"
    // routes through the banded-LSH generator, whose 10x rehearsal cost
    // grows ~6x more slowly (pairs verified with the SAME exact jaccard,
    // so false positives are impossible — the tradeoff is LSH recall:
    // band-collision misses drop a pair entirely). "auto" (default) keeps
    // the exact generator for small vocabularies and switches to minhash
    // above the char-volume / distinct-count gates — both stats read in ONE
    // job from the already-persisted distinct-value frame.
    val valsText = vals.select(col("v").as("text"), col("id"))
    val useMinhash = candidates == "minhash" || (candidates == "auto" && {
      val r = vals.agg(count(lit(1)), sum(length(col("v")))).head()
      autoRoutesToMinhash(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    })
    val pairs =
      if (useMinhash)
        minhashLshPairs(valsText, "text", "id", n = n, minJaccard = minJaccard)
          .select(col("id_a"), col("id_b"))
      else ngramJaccardPairs(valsText, "text", "id",
        n = n, minJaccard = minJaccard)
    // The near-dup pair graph lives over DISTINCT values and only contains
    // pairs above the similarity threshold — it is orders of magnitude
    // smaller than the corpus (241 pairs for 5k distinct docs at bench
    // scale; a categorical column with millions of distinct values still
    // yields a graph bounded by near-duplicate density, not corpus size).
    // An iterative distributed CC loop over a graph this size is pure
    // scheduling overhead: each iteration costs a join + aggregate +
    // checkpoint materialization. So: collect the pairs (guarded by
    // `maxDriverPairs` via limit — never an unbounded collect), run
    // union-find on the driver in O(E α(E)), and broadcast the resulting
    // translation map back. Above the guard, fall back to the distributed
    // min-label-propagation loop, which scales to any graph. Both routes
    // read the pairs persisted, so the pair pipeline runs once.
    withPersistedPairs(pairs) { p => driverComponents(p, maxDriverPairs) match {
      case Some(roots) =>
        // only edge-touched values can have a non-identity canonical; fetch
        // their (id, v, freq) with a broadcast semi-join against the persisted
        // distinct-value frame (bounded by 2·|pairs| rows)
        import scala.jdk.CollectionConverters._
        import spark.implicits._
        val touched = roots.keySet.asScala.toSeq.map(_.asInstanceOf[String])
        val members = vals.join(broadcast(touched.toDF("id")), Seq("id"))
          .select(col("id"), col("v"), col("freq")).collect()
        // canonical per cluster: most frequent member, ties -> smallest value
        // by UNSIGNED UTF-8 byte order (Spark's UTF8String/binary collation —
        // Java String.compareTo differs above the BMP, so compare bytes)
        def utf8Less(a: String, b: String): Boolean = {
          val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
          var i = 0
          val m = math.min(x.length, y.length)
          while (i < m) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c < 0
            i += 1
          }
          x.length < y.length
        }
        val canonicalOf = new java.util.HashMap[Any, (String, Long)]()
        members.foreach { m =>
          val root = roots.get(m.getString(0))
          val (v, f) = (m.getString(1), m.getLong(2))
          val cur = canonicalOf.get(root)
          if (cur == null || f > cur._2 || (f == cur._2 && utf8Less(v, cur._1)))
            canonicalOf.put(root, (v, f))
        }
        val trans = members.map(m =>
          (m.getString(0), canonicalOf.get(roots.get(m.getString(0)))._1)).toSeq
        val out = vals.join(broadcast(trans.toDF("id", "canonical")), Seq("id"), "left")
          .select(col("v").as("value"),
            coalesce(col("canonical"), col("v")).as("canonical"))
        // Materialize the translation map (|distinct values| rows) eagerly so
        // the vals persist this call owns can be freed before returning — the
        // returned frame is backed by a lineage-truncated checkpoint block,
        // released with the result like any consumer-owned frame (or by the
        // ContextCleaner once unreferenced).
        val mat = out.localCheckpoint()
        vals.unpersist(blocking = false)
        mat
      case None =>
        val (labels, labelBlocks) =
          connectedComponentsTracked(vals.select(col("id")), p)
        val labeled = vals.join(labels, Seq("id"))
        // cluster representative (most frequent member, ties -> smallest value)
        // via ONE window aggregate over the label partition — a groupBy+rejoin
        // would shuffle the same data twice on the same key
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
        val out = labeled
          .withColumn("canonical",
            min_by(col("v"), struct(negate(col("freq")), col("v"))).over(w))
          .select(col("v").as("value"), col("canonical"))
        // The translation map is the contract output (|distinct values| rows —
        // already far smaller than the input); materialize it once and free
        // every intermediate this call OWNS (the vals persist + the CC loop's
        // final label checkpoint, whose ids the tracked variant returns) — a
        // long-lived session running many deduplicate() calls accumulates no
        // dead storage, and blocks registered by concurrent driver threads are
        // never touched.
        val mat = out.localCheckpoint()
        labelBlocks.foreach(i =>
          sc.getPersistentRDDs.get(i).foreach(_.unpersist(false)))
        vals.unpersist(blocking = false)
        mat
    }}
  }

  /** L2-normalize a float array column (double arithmetic). */
  def normalized(vec: Column): Column =
    // codegen'd one-pass loop (VecExprs.L2Normalize) — bit-identical to
    // the HOF form `transform(d, x => x / sqrt(aggregate(d, ...)))` but
    // without its interpreted per-element lambda evaluation and per-
    // element norm recomputation (the r11 profile: 6.2 s -> ms on the
    // classify fit stage)
    graft.functions.VecExprs.l2normalize(vec)

  /** Dot product of two equal-length double arrays (sequential fold — the
    * same association order as the oracle's list_sum for bit-stable results).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Embedding dimensionality (one tiny fit-time job). */
  def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)
}
