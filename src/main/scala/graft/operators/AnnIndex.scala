package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ByteType

/** Persisted IVF/LSH ANN index — the embedding-side twin of
  * `DedupIndex`: the corpus' normalized vectors are laid out ONCE under
  * their multi-table hyperplane bucket keys as a bucketed+sorted external
  * parquet table, so every subsequent query batch joins its probe buckets
  * against a bucketed scan with ZERO Exchange on the corpus side
  * (plan-asserted in AnnIndexSpec). `SimilaritySearch.ivfTopK` re-derives
  * the corpus postings — normalize + hash + explode ×nTables — on every
  * call; at 100 TB that recomputation, and the shuffle it feeds, dwarfs
  * the probe itself. Here it is paid once per layout.
  *
  * Bucket keys, normalization, scoring and rank semantics are shared with
  * `ivfTopK` (`VecExprs.hyperplaneBuckets`, `Dedup.normalized`,
  * `SimilaritySearch.topK`), so probe output is bit-identical to the
  * one-shot path on the same corpus (pinned in AnnIndexSpec) and the same
  * DuckDB oracle applies.
  */
object AnnIndex {

  def postingsTable(name: String): String = s"${name}_postings"

  /** Build (or rebuild) the postings index: (tbl, bkt, corpus_id, cv)
    * bucketed by (tbl, bkt). `numBuckets` sizes buckets for the CORPUS —
    * probes shuffle only the query batch to match it.
    *
    * `planesPerTable` <= 0 (the default) sizes the plane count from the
    * corpus via `Dedup.planesFor`: with a FIXED plane count, per-bucket
    * occupancy — and therefore every probe's candidate volume — grows
    * linearly with the corpus (the 10x rehearsal read 18.5 -> 181 MB of
    * probe shuffle at planes=4). The chosen geometry is persisted as
    * table properties, and `probe` reads it from there — the caller
    * cannot desynchronize probe hashing from the layout.
    */
  /** `quantize = true` stores SQ8 postings: each normalized vector as
    * int8 codes (`qv` = round(cv * 127 / scale), `qscale` = max|cv_i|)
    * instead of the float64 array — 8x fewer vector bytes per posting
    * row, THE lever at 100 TB where the postings (×nTables) dominate
    * index storage and probe-side scan bytes. Probes score by asymmetric
    * distance (stored codes × full-precision query, `ArrayDotBytes`), so
    * quantization error enters once, not twice.
    */
  private def postingsOf(corpus: DataFrame, vecCol: String, idCol: String,
                         planes: Int, nTables: Int,
                         quantize: Boolean): DataFrame = {
    import graft.functions.VecExprs
    val raw = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v"))
    val normed = raw
      .repartition(graft.ops.Partitions.cpuSpread(raw), col("corpus_id"))
      .select(col("corpus_id"), Dedup.normalized(col("__v")).as("cv"))
    val keyed = normed
      .select(col("corpus_id"), col("cv"),
        posexplode(VecExprs.hyperplaneBuckets(col("cv"), nTables, planes)))
      .select(col("pos").as("tbl"), col("col").as("bkt"),
        col("corpus_id"), col("cv"))
    if (!quantize) keyed
    else {
      val scale = aggregate(col("cv"), lit(0.0),
        (acc, x) => greatest(acc, abs(x)))
      keyed
        .withColumn("qscale", scale)
        .select(col("tbl"), col("bkt"), col("corpus_id"), col("qscale"),
          transform(col("cv"), x =>
            round(x * lit(127.0) / col("qscale")).cast(ByteType)).as("qv"))
    }
  }

  def write(corpus: DataFrame, vecCol: String, idCol: String, name: String,
            path: String, planesPerTable: Int = 0, nTables: Int = 16,
            numBuckets: Int = 32, quantize: Boolean = false): Unit = {
    val planes =
      if (planesPerTable > 0) planesPerTable
      else Dedup.planesFor(corpus.count())
    val postings = postingsOf(corpus, vecCol, idCol, planes, nTables, quantize)
    val table = postingsTable(name)
    graft.sources.Bucketize.writeBucketed(postings, table,
      s"$path/postings", Seq("tbl", "bkt"), numBuckets)
    corpus.sparkSession.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES (" +
      s"'graft.planesPerTable' = '$planes', 'graft.nTables' = '$nTables', " +
      s"'graft.quantized' = '$quantize')")
  }

  /** The standing-index lifecycle in one call — `TextSearch.ensureIndex`
    * for the LSH postings index: build/rebuild only when the stamped
    * content key plus build geometry does not match the corpus; reuse
    * otherwise. Returns true when it (re)built. Dir-backed corpora
    * default to the O(files) LISTING key (r15, see `IndexManifest`);
    * non-scan plans fall back to the precise `IndexManifest.rowsKey`
    * ((id, vector) xxhash64 aggregate, no tokenize), which is also the
    * `precomputedKey` opt-in for ingest loops tracking their manifest
    * additively (no scan, no listing — the 100 TB shape).
    *
    * Out-of-band `append`s deliberately do NOT update the key (appends
    * here mutate no table properties — that property-free contract is
    * spec-pinned for concurrent-append safety), so the next `ensure`
    * over the accumulated corpus rebuilds: wasteful, never stale.
    *
    * Concurrency: SINGLE-WRITER per index name (all `ensure*` —
    * check-then-act, no metastore CAS; post-stamp read-back fails the
    * common interleaving loudly; serialize ensures for the hard
    * guarantee, and quiesce probes across a rebuild).
    */
  def ensure(corpus: DataFrame, vecCol: String, idCol: String, name: String,
             path: => String, planesPerTable: Int = 0, nTables: Int = 16,
             numBuckets: Int = 32, quantize: Boolean = false,
             precomputedKey: Option[String] = None): Boolean = {
    val spark = corpus.sparkSession
    val params = s"annlsh:p$planesPerTable:t$nTables:b$numBuckets:q$quantize"
    val key = precomputedKey.getOrElse(
      IndexManifest.filesKeyOf(corpus, params, Seq(idCol, vecCol))
        .getOrElse(IndexManifest.rowsKey(corpus, Seq(idCol, vecCol), params)))
    val pt = postingsTable(name)
    val fresh = spark.catalog.tableExists(pt) &&
      IndexManifest.stored(spark, pt).contains(key)
    if (!fresh) {
      write(corpus, vecCol, idCol, name, path, planesPerTable, nTables,
        numBuckets, quantize)
      IndexManifest.stampVerified(spark, pt, key)
    }
    !fresh
  }

  /** Append a new embedding batch to an existing postings index — the
    * accumulate-over-months half (`DedupIndex.append`'s embedding twin).
    * Hashing geometry AND quantization mode come from the index's own
    * table properties, so appended postings are laid out exactly like the
    * original build; appended rows land in new per-bucket files and probes
    * stay exchange-free on the index side.
    *
    * Concurrency: an append mutates NO table properties (geometry and
    * quantization are static; no corpus-stat counters), so concurrent
    * appends of DISJOINT batches are data-appends only and cannot corrupt
    * the geometry — no `TextSearch.append`-style stamp is needed
    * (spec-pinned in AnnIndexSpec).
    */
  def append(corpus: DataFrame, vecCol: String, idCol: String,
             name: String): Unit = {
    val props = properties(corpus.sparkSession, name)
    val (planes, tables) = geometryOf(props)
    val postings = postingsOf(corpus, vecCol, idCol, planes, tables,
      quantizedOf(props))
    graft.sources.Bucketize.appendBucketed(postings, postingsTable(name),
      Seq("tbl", "bkt"))
  }

  /** Compact append-accumulated postings into a fresh layout at `newPath`
    * (`DedupIndex.compact`'s embedding twin); geometry and quantization
    * properties carry over.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, name: String,
              newPath: String): Unit =
    graft.sources.Bucketize.compact(spark, postingsTable(name),
      s"$newPath/postings")

  /** `compact` for the k-means IVF layout (r15 — the last index family
    * missing the ingest -> compact rhythm): append-accumulated CELLS are
    * rewritten to one sorted file per bucket; the centroids table is
    * rewritten alongside UNCHANGED — the quantizer is the index's
    * identity and compaction must never retrain it — so probes are plan-
    * and result-identical (spec-pinned in AnnIndexSpec).
    */
  def compactKmeans(spark: org.apache.spark.sql.SparkSession, name: String,
                    newPath: String): Unit = {
    graft.sources.Bucketize.compact(spark, cellsTable(name),
      s"$newPath/cells")
    graft.sources.Bucketize.compact(spark, centroidsTable(name),
      s"$newPath/centroids")
  }

  /** The postings table's properties, read with ONE `SHOW TBLPROPERTIES`:
    * `append` takes geometry and quantization from the same read.
    */
  private def properties(spark: org.apache.spark.sql.SparkSession,
                         name: String): Map[String, String] =
    spark.sql(s"SHOW TBLPROPERTIES `${postingsTable(name)}`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def geometryOf(props: Map[String, String]): (Int, Int) =
    (props("graft.planesPerTable").toInt, props("graft.nTables").toInt)

  private def quantizedOf(props: Map[String, String]): Boolean =
    props.get("graft.quantized")
      .exists(graft.ops.Config.parseBoolean("graft.quantized", _))

  /** The (planesPerTable, nTables) geometry persisted with the index. */
  def geometry(spark: org.apache.spark.sql.SparkSession,
               name: String): (Int, Int) =
    geometryOf(properties(spark, name))

  /** Whether the postings were written SQ8-quantized (absent = false,
    * for indexes laid out before the flag existed).
    */
  def quantized(spark: org.apache.spark.sql.SparkSession,
                name: String): Boolean =
    quantizedOf(properties(spark, name))

  /** Top-k per query against the persisted postings; the bucket geometry
    * comes from the index's own table properties. Output schema and rank
    * semantics are exactly `ivfTopK`'s (query_id, rank, corpus_id,
    * cosine). The candidate join never broadcasts and never reshuffles
    * the corpus: the query batch shuffles to the index's bucket count.
    */
  /** `allowed` (optional): FILTERED search — restrict matches to the ids
    * in this one-column frame (semi-join on the candidate set BEFORE
    * top-k, so k survivors are returned from within the subset). Because
    * LSH bucket keys are per-vector, filtering candidates is EXACTLY
    * equivalent to probing an index built on the allowed subset (pinned
    * in AnnIndexSpec) — the layout serves every slice of the corpus
    * without per-slice rebuilds. The filter frame is BROADCAST by default
    * (`broadcastAllowed = true`): filtered search is for bounded allow-
    * lists, and a broadcast semi-join leaves the bucketed postings scan
    * untouched. A corpus-scale filter frame cannot broadcast — pass
    * `broadcastAllowed = false`, and know the cost honestly: a shuffled
    * left_semi on corpus_id RE-EXCHANGES the (tbl, bkt)-bucketed postings
    * by corpus_id, a corpus-sized exchange. At that scale, materialize
    * the filtered corpus as its own index instead.
    */
  def probe(queries: DataFrame, vecCol: String, idCol: String, name: String,
            k: Int, planesPerTable: Int = 0, nTables: Int = 0,
            allowed: Option[DataFrame] = None,
            broadcastAllowed: Boolean = true): DataFrame = {
    import graft.functions.VecExprs
    val spark = queries.sparkSession
    val (planes, tables) =
      if (planesPerTable > 0 && nTables > 0) (planesPerTable, nTables)
      else geometry(spark, name)
    val q = queries
      .select(col(idCol).as("query_id"), Dedup.normalized(col(vecCol)).as("qv"))
      .select(col("query_id"), col("qv"),
        posexplode(VecExprs.hyperplaneBuckets(col("qv"), tables, planes)))
      .select(col("query_id"), col("qv"),
        col("pos").as("tbl"), col("col").as("bkt"))
    val postings = allowed match {
      case None => spark.table(postingsTable(name))
      case Some(a) =>
        require(a.columns.length == 1,
          s"allowed must be a one-column id frame, got ${a.columns.mkString(", ")}")
        val ids = a.select(col(a.columns.head).as("corpus_id")).distinct()
        spark.table(postingsTable(name)).join(
          if (broadcastAllowed) broadcast(ids) else ids,
          Seq("corpus_id"), "left_semi")
    }
    // score before deduplicating multi-table hits, same rationale as
    // ivfTopK: once scored, the vectors drop out of the dedup shuffle.
    // SQ8 postings (detected from the layout's own schema, so plain
    // views work too) score by asymmetric distance: stored int8 codes
    // against the full-precision query vector, cosine ≈ qscale/127 * dot
    val cosine =
      if (postings.columns.contains("qscale"))
        round(col("qscale") / lit(127.0) *
          VecExprs.arrayDotBytes(col("qv"), col("qv_q")), 6)
      else round(VecExprs.arrayDot(col("cv"), col("qv_q")), 6)
    val scored = postings.join(q.withColumnRenamed("qv", "qv_q"),
        Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", cosine)
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(first(col("cosine")).as("cosine"))
    SimilaritySearch.topK(scored, k)
  }

  // ---------------------------------------------------------------------
  // Persisted trained-centroid IVF: the k-means twin of the LSH postings
  // layout. `writeKmeans` trains the deterministic k-means quantizer ONCE
  // (SimilaritySearch.kmeansCentroids), lays the cid-assigned corpus out
  // bucketed by cell, and stores the centroid table alongside — probes
  // re-read the trained centroids (bounded: kClusters x dim) instead of
  // re-training, and join their probed cells against a bucketed scan.
  // ---------------------------------------------------------------------

  def cellsTable(name: String): String = s"${name}_cells"
  def centroidsTable(name: String): String = s"${name}_centroids"

  /** Train + lay out the k-means IVF index. `kClusters <= 0` auto-sizes
    * to ~sqrt(corpus) (the IVF scaling — cell table and occupancy both
    * ~sqrt(n)). Training geometry is pinned by the stored centroid table
    * itself; probes cannot desynchronize from the layout.
    */
  def writeKmeans(corpus: DataFrame, vecCol: String, idCol: String,
                  name: String, path: String, kClusters: Int = 0,
                  iters: Int = 2, numBuckets: Int = 32): Unit = {
    val spark = corpus.sparkSession
    val raw = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
    val c = raw
      .repartition(graft.ops.Partitions.cpuSpread(raw), col("corpus_id"))
      .select(col("corpus_id"), Dedup.normalized(col("__v")).as("cv"))
      .localCheckpoint()
    val kc =
      if (kClusters > 0) kClusters
      else math.max(16, math.sqrt(c.count().toDouble).toInt)
    val cents = SimilaritySearch.kmeansCentroids(c, kc, iters)
    val assigned = c.withColumn("cid",
      element_at(SimilaritySearch.nearestCids(cents, col("cv"), 1), 1))
      .select(col("cid"), col("corpus_id"), col("cv"))
    graft.sources.Bucketize.writeBucketed(assigned, cellsTable(name),
      s"$path/cells", Seq("cid"), numBuckets)
    import spark.implicits._
    val centDf = cents.toDF("cid", "cv")
    graft.sources.Bucketize.writeBucketed(centDf, centroidsTable(name),
      s"$path/centroids", Seq("cid"), 1)
  }

  /** `ensure` for the k-means IVF layout: content key (listing-derived
    * by default for dir-backed corpora, `IndexManifest.rowsKey`
    * otherwise — see `ensure`) plus the training geometry, stamped on
    * the cell table. Returns true when it (re)trained+built.
    * `appendKmeans` does not update the key (property-free appends), so
    * ensure after out-of-band appends rebuilds — which for IVF doubles
    * as the quantizer-drift reset. SINGLE-WRITER per index name, like
    * all `ensure*`.
    */
  def ensureKmeans(corpus: DataFrame, vecCol: String, idCol: String,
                   name: String, path: => String, kClusters: Int = 0,
                   iters: Int = 2, numBuckets: Int = 32,
                   precomputedKey: Option[String] = None): Boolean = {
    val spark = corpus.sparkSession
    val params = s"annkm:k$kClusters:i$iters:b$numBuckets"
    val key = precomputedKey.getOrElse(
      IndexManifest.filesKeyOf(corpus, params, Seq(idCol, vecCol))
        .getOrElse(IndexManifest.rowsKey(corpus, Seq(idCol, vecCol), params)))
    val ct = cellsTable(name)
    val fresh = spark.catalog.tableExists(ct) &&
      IndexManifest.stored(spark, ct).contains(key)
    if (!fresh) {
      writeKmeans(corpus, vecCol, idCol, name, path, kClusters, iters,
        numBuckets)
      IndexManifest.stampVerified(spark, ct, key)
    }
    !fresh
  }

  /** Append a new embedding batch to a persisted k-means IVF index:
    * assign the batch to the index's STORED centroids (no retraining —
    * the classic IVF insert) and append the assigned rows to the bucketed
    * cell table. The quantizer drifts from the true corpus centroids as
    * the corpus grows; rebuild with `writeKmeans` when recall degrades —
    * that tradeoff is IVF's, not this implementation's.
    */
  def appendKmeans(corpus: DataFrame, vecCol: String, idCol: String,
                   name: String): Unit = {
    val spark = corpus.sparkSession
    val cents: Seq[(Int, Seq[Double])] = spark.table(centroidsTable(name))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .toSeq.sortBy(_._1)
    val raw = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
    val assigned = raw
      .repartition(graft.ops.Partitions.cpuSpread(raw), col("corpus_id"))
      .select(col("corpus_id"), Dedup.normalized(col("__v")).as("cv"))
      .withColumn("cid",
        element_at(SimilaritySearch.nearestCids(cents, col("cv"), 1), 1))
      .select(col("cid"), col("corpus_id"), col("cv"))
    graft.sources.Bucketize.appendBucketed(assigned, cellsTable(name),
      Seq("cid"))
  }

  /** Top-k per query against the persisted cells: assign each query to
    * its `nProbe` nearest STORED centroids (no re-training — the
    * centroid table is a bounded kClusters x dim collect) and join on
    * cid against the bucketed cell scan. Output schema and semantics are
    * exactly `SimilaritySearch.kmeansIvfTopK`'s on the same geometry.
    */
  /** `allowed` (optional): FILTERED search over the cells, same contract
    * as `probe`'s — cell assignment is per-vector, so filtering candidates
    * before top-k equals probing an index built on the subset trained on
    * the SAME centroids.
    */
  def probeKmeans(queries: DataFrame, vecCol: String, idCol: String,
                  name: String, k: Int, nProbe: Int = 8,
                  allowed: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VecExprs
    val spark = queries.sparkSession
    val cents: Seq[(Int, Seq[Double])] = spark.table(centroidsTable(name))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .toSeq.sortBy(_._1)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("query_id"), Dedup.normalized(col("__v")).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(SimilaritySearch.nearestCids(cents, col("qv"), nProbe)).as("cid"))
    val cells = allowed match {
      case None => spark.table(cellsTable(name))
      case Some(a) =>
        require(a.columns.length == 1,
          s"allowed must be a one-column id frame, got ${a.columns.mkString(", ")}")
        spark.table(cellsTable(name)).join(
          a.select(col(a.columns.head).as("corpus_id")).distinct(),
          Seq("corpus_id"), "left_semi")
    }
    val scored = cells.join(q, Seq("cid"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine",
        round(VecExprs.arrayDot(col("cv"), col("qv")), 6))
    SimilaritySearch.topK(scored, k)
  }

  /** Live query stream against the persisted postings: probe each
    * micro-batch and hand its top-k frame to `sink` — the embedding twin
    * of `DedupIndex.probeStream`. Each micro-batch is a static frame
    * inside foreachBatch, so the probe is EXACTLY the batch `probe`
    * (same plan, zero index-side Exchange); all state lives in the index
    * layout, not in stream memory.
    */
  def probeStream(stream: DataFrame, vecCol: String, idCol: String,
                  name: String, k: Int)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(probe(batch, vecCol, idCol, name, k), batchId)
      }
      .start()
}
