package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Bucketize

/** Bucketed co-located joins: the layout pays the shuffle once, every
  * subsequent equi-join on the bucket keys plans with ZERO exchanges.
  * The plan assertion is the point — at 100 TB the absent shuffle IS the
  * feature, and a spec that only checked rows would let a silently
  * re-shuffling plan stay green.
  */
class BucketizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("co-located join on bucketed tables plans zero shuffle exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketize").toString
    val facts = (1 to 1000).map(i => (i % 97, i, s"f$i"))
      .toDF("k", "seq", "payload")
    val dims = (0 until 97).map(i => (i, s"dim$i")).toDF("k", "name")
    Bucketize.writeBucketed(facts, "graft_bkt_facts", s"$dir/facts", Seq("k"), 8)
    Bucketize.writeBucketed(dims, "graft_bkt_dims", s"$dir/dims", Seq("k"), 8)
    try {
      // broadcast off so the join actually exercises the bucketed SMJ path
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("graft_bkt_facts")
          .join(spark.table("graft_bkt_dims"), "k")
        assert(Bucketize.shuffleExchanges(joined) === 0,
          joined.queryExecution.executedPlan.toString)
        // and a bucket-key aggregate rides the same layout shuffle-free
        val agg = spark.table("graft_bkt_facts").groupBy("k").count()
        assert(Bucketize.shuffleExchanges(agg) === 0)
        assert(joined.count() === 1000)
        // same rows as the plain (shuffling) join
        val plain = facts.join(dims, "k")
        assert(joined.select("k", "seq", "payload", "name").collect().toSet ===
          plain.select("k", "seq", "payload", "name").collect().toSet)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_dims")
    }
  }

  test("writes emit exactly one sorted file per bucket, appends one per " +
    "batch-bucket, and compact restores one per bucket (r16: the write is " +
    "clustered by the bucket key — without it each task wrote one file per " +
    "bucket it saw, M*B small files per layout)") {
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bktfiles").toString
    // >1 upstream partition so the old shape would multiply files per task
    val df = (1L to 5000L).map(i => (i, s"v$i")).toDF("k", "v").repartition(4)
    Bucketize.writeBucketed(df, "graft_bkt_files", s"$dir/t", Seq("k"), 4)
    try {
      assert(parquetFiles(s"$dir/t") === 4,
        "a fresh write must emit exactly numBuckets files")
      Bucketize.appendBucketed(
        (5001L to 9000L).map(i => (i, s"v$i")).toDF("k", "v").repartition(4),
        "graft_bkt_files", Seq("k"))
      assert(parquetFiles(s"$dir/t") === 8,
        "an append adds at most one file per bucket")
      // compaction: back to one sorted file per bucket, zero-shuffle
      // rewrite (the scan is pinned bucketed — one task merges one bucket)
      val dirC = java.nio.file.Files.createTempDirectory("graft_bktfiles2")
        .toString
      Bucketize.compact(spark, "graft_bkt_files", s"$dirC/t")
      assert(parquetFiles(s"$dirC/t") === 4,
        "compact must restore exactly one file per bucket")
      assert(spark.table("graft_bkt_files").count() === 9000)
    } finally spark.sql("DROP TABLE IF EXISTS graft_bkt_files")
  }

  test("mismatched bucket counts fall back to a shuffled but correct join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketize2").toString
    val a = (1 to 100).map(i => (i % 11, i)).toDF("k", "va")
    val b = (0 until 11).map(i => (i, s"b$i")).toDF("k", "vb")
    Bucketize.writeBucketed(a, "graft_bkt_a", s"$dir/a", Seq("k"), 8)
    Bucketize.writeBucketed(b, "graft_bkt_b", s"$dir/b", Seq("k"), 4)
    try {
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "k")
        // one side re-shuffles (or both, depending on the planner's choice) —
        // correctness is unaffected
        assert(joined.count() === 100)
        assert(Bucketize.shuffleExchanges(joined) >= 1)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  test("date-partitioned layout prunes directories: a one-day filter reads " +
    "fewer files, the partition filter is in the plan, and data filters " +
    "still push into parquet") {
    import graft.sources.Partitioned
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val events = TestSpark.table("events")
      .withColumn("event_date", to_date(col("ts")))
    Partitioned.write(events, dir, Seq("event_date"))
    val back = Partitioned.read(spark, dir)

    val full = Partitioned.scanEvidence(
      back.select(col("event_id"), col("value")))
    val oneDay = back.filter(
      col("event_date") === events.agg(max(to_date(col("ts")))).head().getDate(0))
    val pruned = Partitioned.scanEvidence(
      oneDay.select(col("event_id"), col("value")))
    assert(pruned.numFiles < full.numFiles,
      s"one-day filter must read fewer files: ${pruned.numFiles} vs ${full.numFiles}")
    assert(pruned.partitionFilters.contains("event_date"),
      s"the date predicate must prune as a PartitionFilter, got: ${pruned.partitionFilters}")

    // a data-column predicate on the same layout pushes into parquet
    val dataFiltered = Partitioned.scanEvidence(
      back.filter(col("event_type") === "click")
        .select(col("event_id"), col("event_type")))
    assert(dataFiltered.pushedFilters.contains("event_type"),
      s"data predicate must reach PushedFilters, got: ${dataFiltered.pushedFilters}")

    // pruning changed I/O, never answers: equal to the flat-layout filter
    val viaFlat = events
      .filter(col("event_date") === events.agg(max(to_date(col("ts")))).head().getDate(0))
      .agg(count(lit(1)), sum(col("value"))).head()
    val viaPruned = oneDay.agg(count(lit(1)), sum(col("value"))).head()
    assert(viaPruned === viaFlat,
      "partitioned reads must return exactly the flat layout's rows")
  }

  test("numBucketsFor sizes buckets from the plan's estimate: monotone in " +
    "data volume, clamped, power of two (r17: clustered writes put one " +
    "bucket in one task, so numBuckets must track data, not a constant)") {
    val small = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    // ~100 rows at a few bytes: one bucket at any sane target
    assert(Bucketize.numBucketsFor(small) === 1)
    // force multiple buckets with a tiny target; power-of-two rounding
    val n4 = Bucketize.numBucketsFor(small, targetBytes = 64L)
    assert(n4 >= 2 && (n4 & (n4 - 1)) === 0, s"power of two, got $n4")
    val bigger = (1L to 10000L).map(i => (i, s"v$i")).toDF("k", "v")
    assert(Bucketize.numBucketsFor(bigger, targetBytes = 64L) >= n4,
      "more data must never suggest fewer buckets")
    // clamp floor: even an empty frame suggests a valid bucket count
    assert(Bucketize.numBucketsFor(small.limit(0)) === 1)
  }

  test("clustered-write escape hatch: with graft.bucketize.clusteredWrite=" +
    "false the write is task-local again (files > numBuckets from a " +
    "multi-partition input) and reads stay correct") {
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bktesc").toString
    val df = (1L to 5000L).map(i => (i, s"v$i")).toDF("k", "v").repartition(4)
    withConf(Bucketize.ClusteredWriteKey -> "false") {
      Bucketize.writeBucketed(df, "graft_bkt_esc", s"$dir/t", Seq("k"), 4)
    }
    try {
      assert(parquetFiles(s"$dir/t") > 4,
        "unclustered write keeps task-local bucket splitting (M*B files)")
      assert(spark.table("graft_bkt_esc").count() === 5000)
      // and the layout still joins exchange-free on the bucket key
      val other = (1L to 200L).map(i => (i, i * 2)).toDF("k", "w")
      val dir2 = java.nio.file.Files.createTempDirectory("graft_bktesc2").toString
      Bucketize.writeBucketed(other, "graft_bkt_esc2", s"$dir2/t", Seq("k"), 4)
      val j = spark.table("graft_bkt_esc").join(spark.table("graft_bkt_esc2"), "k")
      j.count()
      assert(Bucketize.shuffleExchanges(j) === 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_esc")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_esc2")
    }
  }

  test("a bad graft.bucketize.clusteredWrite value fails naming the key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bktbad").toString
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      withConf(Bucketize.ClusteredWriteKey -> "yes") {
        Bucketize.writeBucketed(df, "graft_bkt_bad", s"$dir/t", Seq("k"), 2)
      }
    }
    assert(e.getMessage.contains(Bucketize.ClusteredWriteKey), e.getMessage)
    assert(e.getMessage.contains("true or false"), e.getMessage)
    assert(!spark.catalog.tableExists("graft_bkt_bad"))
  }

  test("compact leaves no autoBucketedScan pin behind when the conf was " +
    "never explicitly set (r17: getOption returns the registered default, " +
    "so the restore must unset, not re-set)") {
    val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val hadExplicit = spark.conf.getAll.contains(k)
    val saved = spark.conf.getAll.get(k)
    spark.conf.unset(k)
    val dir = java.nio.file.Files.createTempDirectory("graft_bktpin").toString
    val df = (1L to 500L).map(i => (i, s"v$i")).toDF("k", "v")
    Bucketize.writeBucketed(df, "graft_bkt_pin", s"$dir/t", Seq("k"), 2)
    try {
      val dirC = java.nio.file.Files.createTempDirectory("graft_bktpin2").toString
      Bucketize.compact(spark, "graft_bkt_pin", s"$dirC/t")
      assert(!spark.conf.getAll.contains(k),
        "compact must not materialize an explicit session pin of a conf " +
          "that was unset before it ran")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_pin")
      if (hadExplicit) saved.foreach(spark.conf.set(k, _))
    }
  }
}
