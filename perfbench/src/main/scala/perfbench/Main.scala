package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** One benchmark run in one JVM: set up the session several times, run
  * the workload in a closed loop (one client, each operation starts when
  * the previous one returns) until the deadline, write the outputs the
  * oracle check reads, and write the run record as JSON.
  *
  * Arguments: --workload --data --out --seconds --trace --seed --cores. */
object Main {

  /** One timed operation. `kind` is "op" for the workload's unit of work
    * and "aux" for its secondary operation; `checks` names the outputs the
    * oracle check must pass for the sample to count as correct. */
  final case class Sample(kind: String, name: String, ms: Double, ok: Boolean,
      traced: Boolean, checks: Seq[String], err: String = null, round: Int = 0) {
    def record: Map[String, Any] = Json.obj("kind" -> kind, "name" -> name,
      "ms" -> ms, "ok" -> ok, "traced" -> traced, "checks" -> checks,
      "err" -> err, "round" -> round)
  }

  val SetupRepeats = 3

  /** The repo bench's CPU and shuffle canaries (same expressions) at a
    * tenth of their rows; context for comparing hosts, never gated. */
  val CanaryCpuRows = 800000000L
  val CanaryShuffleRows = 10000000L

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val data = a("data")
    val out = a("out")
    val traced = a("trace") == "1"
    Files.createDirectories(Paths.get(out, "check"))

    val setupMs = (0 until SetupRepeats).map { i =>
      if (i > 0) SparkSession.active.stop()
      val t0 = System.nanoTime()
      val spark = session(a("cores"))
      warmSession(spark, data)
      (System.nanoTime() - t0) / 1e6
    }
    val spark = SparkSession.active
    val rec = new Recorder(spark)
    val jvm = new JvmStats
    val w: Workload = a("workload") match {
      case "olap_mix" => new OlapMix(spark, data, out, a("seed").toLong, rec)
      case "llm_e2e" => new LlmE2e(spark, data, out, rec)
      case "ingest_upsert" => new IngestUpsert(spark, data, out, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare()
    jvm.resetPeak()

    val samples = Vector.newBuilder[Sample]
    // The loop stops at the round boundary nearest the deadline. A traced
    // run traces its first round, so the layer profile covers what the
    // untraced runs time, then alternates untraced and traced rounds with
    // the listeners removed for the untraced ones, so a later pair gives
    // the tracing overhead under the same conditions.
    val t0 = System.nanoTime()
    val seconds = a("seconds").toDouble
    val minRounds = if (traced) 3 else 1
    var i = 0
    var tracedMs = 0.0
    var tracedGcMs = 0L
    def elapsed = (System.nanoTime() - t0) / 1e9
    def more: Boolean = {
      val rounds = i / w.roundSize
      i % w.roundSize != 0 || rounds < minRounds || elapsed + elapsed / rounds / 2 < seconds
    }
    while (more) {
      val round = i / w.roundSize
      val tr = traced && round % 2 == 0
      if (traced && i % w.roundSize == 0) {
        rec.drain()
        if (tr) rec.install() else rec.uninstall()
        rec.enabled = tr
      }
      val gc0 = jvm.gcMs
      val (s, ms) = timed(w.step(i, tr))
      if (tr) { tracedMs += ms; tracedGcMs += jvm.gcMs - gc0 }
      samples ++= s.map(_.copy(round = round))
      i += 1
    }
    rec.enabled = false
    rec.drain()
    rec.uninstall()
    w.finish()
    val canaries = if (traced) Json.obj(
      "cpu_s" -> timed(spark.range(CanaryCpuRows).selectExpr("sum(id % 1000)").collect())._2 / 1e3,
      "shuffle_s" -> timed(spark.range(CanaryShuffleRows)
        .selectExpr("id", "pmod(xxhash64(id), 1000000) AS k")
        .repartition(64, col("k")).groupBy("k").agg(sum("id")).collect())._2 / 1e3)
      else Map.empty
    val record = Json.obj(
      "canaries" -> canaries,
      "setup_ms" -> setupMs,
      "samples" -> samples.result().map(_.record),
      "traced_ms" -> tracedMs,
      "extra" -> w.extra,
      "trace" -> (if (traced) rec.record ++ Json.obj("jvm" -> Json.obj(
        "heap_peak_mb" -> jvm.heapPeakMb, "gc_ms" -> tracedGcMs)) else Map.empty),
      "host" -> Json.obj(
        "cores" -> spark.sparkContext.defaultParallelism,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version))
    Files.writeString(Paths.get(out, "record.json"), Json.write(record))
    spark.stop()
  }

  def session(cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set-up work every workload pays before its first operation: a
    * first job, and the schema of every input table. */
  def warmSession(spark: SparkSession, data: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    Option(new java.io.File(data).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(f => graft.Tables.load(spark, data, f.getName.stripSuffix(".parquet")).schema)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
}

/** Heap peak and GC time from the JVM's management beans. */
final class JvmStats {
  import java.lang.management.ManagementFactory
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  def resetPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
