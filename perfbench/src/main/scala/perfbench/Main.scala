package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.Kernel
import graft.operators.AnnIndex

/** One seeded workload run, in one JVM, with a single client issuing one
  * call at a time (closed loop).
  *
  * Usage: perfbench.Main <config.json>. The config names the workload, the
  * generated input directory, the output directory and the timing window
  * (see run.py, which writes it). Results go to <out>/result.json; every
  * operation's output of timed pass k goes to <out>/pass-<k>/<op>/ for the
  * oracle check, which run.py does after this JVM exits.
  */
object Main {

  /** A public call into one engine layer. `oracle` names the registry
    * query whose DuckDB SQL the output must match.
    */
  case class Op(name: String, layer: String, oracle: String)

  private def registryOp(q: String, layer: String) = Op(q.stripPrefix("q_"), layer, q)

  /** Driver-bound skrub core over the star schema. */
  val tabular: Seq[Op] = Seq(
    registryOp("q_table_vectorizer", "encoders"),
    registryOp("q_agg_join", "operators.joins"),
    registryOp("q_column_assoc", "operators.report"),
    registryOp("q_plan_learner", "plans"))

  /** Dedup and curation kernels over the document corpus; curate then
    * runs the standing ANN index (ServeRunner) on the vector corpus.
    */
  val curate: Seq[Op] = Seq(
    registryOp("q_dedup_keep_best", "operators.dedup"),
    registryOp("q_decontaminate", "operators.curation"))

  /** The ANN index's checked output: the probe of every batch. */
  val annProbe: Op = Op("ann_probe", "operators.index", "q_ann_index_append")

  val Layers: Seq[String] = Seq("encoders", "plans", "operators.joins", "operators.report",
    "operators.curation", "operators.dedup", "operators.index")

  private val TopK = 5
  private val IndexPrefix = "perfbench_"

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    val launchMs = cfg.get("launch_ms").asLong
    val workload = cfg.get("workload").asText
    val data = cfg.get("data").asText
    val out = cfg.get("out").asText
    val seconds = cfg.get("seconds").asDouble
    val trace = cfg.get("trace").asBoolean
    val cores = cfg.get("cores").asInt
    new File(out).mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", cfg.get("warehouse").asText)
      .config("spark.local.dir", cfg.get("scratch").asText)
      // keep every stage of the run in the status store the counters read
      .config("spark.ui.retainedStages", "100000")
      .config("spark.ui.retainedJobs", "100000")
      .config(graft.Sessions.CodegenCacheKey, graft.Sessions.CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    val runner = workload match {
      case "tabular" => new BatchRunner(spark, data, tabular)
      case "curate" => new Both(new BatchRunner(spark, data, curate),
        new ServeRunner(spark, data, cfg.get("index_root").asText, cfg.get("requests")))
      case w => sys.error(s"unknown workload $w")
    }
    val result = new Harness(spark, runner, out, cores, seconds, trace,
      cfg.get("warm_passes").asInt, cfg.get("min_passes").asInt,
      cfg.get("run_id").asText, launchMs, sessionMs).run()
    val allOps = runner.checked
    val oracle = allOps.map(o => s""""${o.name}": ${quote(SparkEntry.oracleSql(o.oracle))}""")
    Files.writeString(Paths.get(out, "oracle_sql.json"), oracle.mkString("{", ",\n", "}"))
    Files.writeString(Paths.get(out, "result.json"), result)
    spark.stop()
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def wipe(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(wipe)
    f.delete()
  }

  /** Bytes and file count under a directory, skipping checksum and marker files. */
  def du(dir: File): (Long, Long) = {
    if (!dir.exists) (0L, 0L)
    else Files.walk(dir.toPath).iterator.asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + f.length, n + 1) }
  }

  /** Runs public calls, wrapping each in a span when tracing. */
  class Calls {
    var tracer: Option[Tracer] = None
    def span[T](name: String, layer: String, kind: String)(body: => T): T =
      tracer match {
        case Some(t) => t.span(name, layer, kind)(body)
        case None => body
      }
  }

  /** A workload: its pass, what each pass must leave on disk for the
    * oracle check, and the housekeeping between passes.
    */
  trait Runner {
    /** Operations whose outputs the oracle checks. */
    def checked: Seq[Op]
    /** One full pass, writing the checked outputs under `dest`. Returns
      * per-pass extras (ingest time, probe latencies), the number of
      * attempted calls and the names of the calls that failed.
      */
    def pass(c: Calls, dest: String): PassOut
    /** Untimed cleanup before each pass. */
    def reset(): Unit = ()
    /** Bytes of corpus ingested per pass, for write amplification. */
    def ingestedBytes: Long = 0L
    /** Index bytes and files on disk after a pass, and catalog tables. */
    def footprint: (Long, Long, Int) = (0L, 0L, 0)
  }

  case class PassOut(attempted: Int, failedCalls: Seq[String], errors: Seq[String],
                     ingestS: Double = 0.0, probeS: Seq[Double] = Nil, hits: Long = 0L)

  /** Two runners, one after the other in each pass. */
  class Both(a: BatchRunner, b: ServeRunner) extends Runner {
    def checked: Seq[Op] = a.checked ++ b.checked
    def pass(c: Calls, dest: String): PassOut = {
      val x = a.pass(c, dest)
      val y = b.pass(c, dest)
      y.copy(attempted = x.attempted + y.attempted, failedCalls = x.failedCalls ++ y.failedCalls,
        errors = x.errors ++ y.errors)
    }
    override def reset(): Unit = b.reset()
    override def ingestedBytes: Long = b.ingestedBytes
    override def footprint: (Long, Long, Int) = b.footprint
  }

  /** tabular and curate: every registry operation once per pass; its
    * action writes the result to <dest>/<op>/.
    */
  class BatchRunner(spark: SparkSession, data: String, ops: Seq[Op]) extends Runner {
    def checked: Seq[Op] = ops
    def pass(c: Calls, dest: String): PassOut = {
      val failed = mutable.ArrayBuffer[String]()
      val errors = mutable.ArrayBuffer[String]()
      ops.foreach { op =>
        val t0 = System.nanoTime()
        try c.span(op.name, op.layer, "call") {
          val df = c.span(op.name, op.layer, "construct") {
            SparkEntry.queries(op.oracle)(spark, data)
          }
          c.span(op.name, op.layer, "execute") {
            df.write.mode("overwrite").parquet(s"$dest/${op.name}")
          }
        } catch {
          case e: Exception =>
            failed += op.name
            errors += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
        spark.sharedState.cacheManager.clearCache()
        System.err.println(f"perfbench op ${op.name} ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      PassOut(ops.size, failed.toSeq, errors.toSeq)
    }
  }

  /** The standing ANN index: write it from a seeded part of the vectors,
    * append the rest, then serve the seeded probe batches one at a time.
    * The index lives under a root the benchmark owns, wiped with its
    * catalog tables before every pass.
    */
  class ServeRunner(spark: SparkSession, data: String, root: String, req: JsonNode)
      extends Runner {
    def checked: Seq[Op] = Seq(annProbe)
    private val rootDir = new File(root)
    private val parts = req.get("ann_parts").elements.asScala.map(_.asText).toSeq
    private val probes =
      req.get("probes").elements.asScala.map(_.elements.asScala.map(_.asLong).toSeq).toSeq
    private def t(name: String) = Kernel.table(spark, data, name)

    // the probe vectors: a small pool, read once per run and kept in memory
    private val queryPool = t("probe_vectors").persist()
    queryPool.count()

    override val ingestedBytes: Long = parts.map(p => du(new File(s"$data/$p.parquet"))._1).sum

    private val ann = s"${IndexPrefix}ann"

    override def reset(): Unit = {
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith(IndexPrefix)).foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
      wipe(rootDir)
      rootDir.mkdirs()
    }

    override def footprint: (Long, Long, Int) = {
      val (b, n) = du(rootDir)
      (b, n, spark.catalog.listTables().count().toInt)
    }

    def pass(c: Calls, dest: String): PassOut = {
      var attempted = 0
      val failed = mutable.ArrayBuffer[String]()
      val errors = mutable.ArrayBuffer[String]()
      def call(name: String)(body: => Unit): Unit = {
        attempted += 1
        val t0 = System.nanoTime()
        try {
          c.span(name, "operators.index", "call")(body)
          System.err.println(f"perfbench op $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
        } catch {
          case e: Exception =>
            failed += name
            errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
      }
      def construct[T](name: String)(body: => T): T = c.span(name, "operators.index", "construct")(body)

      val t0 = System.nanoTime()
      call("ann_write")(construct("ann_write")(AnnIndex.write(t(parts.head), "embedding",
        "vec_id", ann, s"$root/ann", planesPerTable = 4, nTables = 16, numBuckets = 8)))
      parts.drop(1).foreach(p =>
        call("ann_append")(construct("ann_append")(AnnIndex.append(t(p), "embedding", "vec_id", ann))))
      val ingestS = (System.nanoTime() - t0) / 1e9

      var hits = 0L
      val rows = mutable.ArrayBuffer[Row]()
      var schema: org.apache.spark.sql.types.StructType = null
      val lat = probes.map { ids =>
        val p0 = System.nanoTime()
        call("ann_probe") {
          val probe = construct("ann_probe") {
            AnnIndex.probe(queryPool.filter(col("vec_id").isin(ids: _*)), "embedding", "vec_id",
              ann, k = TopK)
          }
          schema = probe.schema
          val got = c.span("ann_probe", "operators.index", "execute")(probe.collect())
          hits += got.length
          rows ++= got
        }
        (System.nanoTime() - p0) / 1e9
      }
      if (schema != null)
        spark.createDataFrame(rows.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dest/ann_probe")
      PassOut(attempted, failed.toSeq, errors.toSeq, ingestS, lat, hits)
    }
  }
}
