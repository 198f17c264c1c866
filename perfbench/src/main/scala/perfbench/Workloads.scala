package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import Main.{Sample, errText, timed}

/** A workload the closed loop drives. `step(i)` runs the i-th operation
  * and returns its samples. Steps come in rounds of `roundSize`; the loop
  * only stops at a round boundary, so every run weighs each operation
  * kind the same, and a traced run traces every other round. */
trait Workload {
  def roundSize: Int = 1
  def prepare(): Unit = ()
  def step(i: Int, traced: Boolean): Seq[Sample]
  def extra: Map[String, Any] = Map.empty
  def finish(): Unit = ()
}

/** Gate calls shared by the workloads. A gate's output is written under
  * `check/<gate>@<tag>`; the oracle check reads every such directory, and
  * a sample fails when any output it lists in `checks` fails. */
abstract class GateWorkload(spark: SparkSession, data: String, out: String) extends Workload {
  private val gates = graft.SparkEntry.queries
  private val written = mutable.Set.empty[String]

  protected def gate(name: String): DataFrame = gates(name)(spark, data)

  /** Run the gate by writing its output; returns the output's directory. */
  protected def writeGate(name: String, tag: String): String = save(name, tag, gate(name))

  /** Write a gate's frame for the oracle check; returns the output's directory. */
  protected def save(name: String, tag: String, df: DataFrame): String = {
    val dir = s"$name@$tag"
    df.write.mode("overwrite").parquet(s"$out/check/$dir")
    written += name
    dir
  }

  /** Write rows a timed call collected; returns the output's directory. */
  protected def writeRows(name: String, tag: String, rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): String = {
    val dir = s"$name@$tag"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode("overwrite").parquet(s"$out/check/$dir")
    written += name
    dir
  }

  override def extra: Map[String, Any] = Json.obj(
    "oracles" -> written.toSeq.sorted.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap)
}

/** Read-only gate queries in a seeded order, one round per pass over the
  * query set. A query is timed from the gate call until its rows are
  * collected, as a client reading a result; the time the gate call takes
  * to return its DataFrame (planning and schema inference) is the
  * secondary sample. The rows are written for the oracle check after the
  * run, outside every clock and trace. There is no warm-up round: each round runs every query
  * once, so every run pays the same first-execution costs. */
final class OlapMix(spark: SparkSession, data: String, out: String, seed: Long,
    rec: Recorder) extends GateWorkload(spark, data, out) {
  val queries: IndexedSeq[String] = IndexedSeq(
    // the reference's SQL surface
    "sql_surface", "core_records_per_group", "core_summary_stats", "core_recent_by_group",
    // TPC-H canon
    "agg_q1_pricing", "join_q3_shipping", "join_q5_volume", "agg_q6_forecast",
    "join_q10_returns", "join_q14_promo", "join_q18_big_orders", "join_q19_disjunctive",
    // a sample of the agg_, join_ and window_ gates
    "agg_distinct", "join_semi", "window_topn")
  private var order = queries
  private val results = mutable.ArrayBuffer.empty[(String, String, Array[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType)]

  override def roundSize: Int = queries.size

  def step(i: Int, traced: Boolean): Seq[Sample] = {
    val round = i / queries.size
    if (i % queries.size == 0)
      order = new scala.util.Random(seed * 7919 + round).shuffle(queries)
    val q = order(i % queries.size)
    try {
      var buildMs = 0.0
      val ((rows, schema), ms) = timed {
        rec.span("query") {
          val (df, b) = timed(rec.span("analytics.build")(gate(q)))
          buildMs = b
          rec.span("execute")((df.collect(), df.schema))
        }
      }
      results += ((q, round.toString, rows, schema))
      val dir = s"$q@$round"
      Seq(Sample("op", q, ms, true, traced, Seq(dir)),
        Sample("aux", q, buildMs, true, traced, Seq(dir)))
    } catch {
      case e: Throwable => Seq(Sample("op", q, Double.NaN, false, traced, Nil, errText(e)))
    }
  }

  override def finish(): Unit =
    results.foreach { case (q, tag, rows, schema) => writeRows(q, tag, rows, schema) }
}

/** Raw documents to training shards as one timed operation: the
  * canonical staging is evicted first so its build is inside the clock,
  * and every stage writes its output, as a pipeline run ships its
  * artifacts. Then one incremental fold of the delta crawl against the
  * stored staging. There is no warm-up: a pipeline run pays a fresh
  * JVM's warm-up, and every run of the benchmark starts the same way. */
final class LlmE2e(spark: SparkSession, data: String, out: String, rec: Recorder)
    extends GateWorkload(spark, data, out) {
  import graft.operators.Dedup
  val stages: Seq[(String, Seq[String])] = Seq(
    "dedup.staging" -> Nil,
    "dedup.cluster" -> Seq("dedup_canonical"),
    "decontaminate" -> Seq("decontaminate"),
    "trainprep.curate" -> Seq("train_curate", "curate_source_cap"),
    "trainprep.pack" -> Seq("train_pack"),
    "trainprep.shard" -> Seq("train_shuffle"))
  val fold = "dedup_canonical_incremental"

  def step(i: Int, traced: Boolean): Seq[Sample] = {
    Dedup.evictCanonicalStaging(data, keepCurrent = false)
    val checks = stages.flatMap(_._2).map(n => s"$n@$i")
    val e2e = try {
      val (_, ms) = timed {
        rec.span("llm.e2e") {
          stages.foreach { case (span, names) =>
            rec.span(span) {
              if (names.isEmpty) Dedup.ensureCanonicalStaging(spark, data)
              else names.foreach(writeGate(_, i.toString))
            }
          }
        }
      }
      Sample("op", "e2e", ms, true, traced, checks)
    } catch {
      case e: Throwable => Sample("op", "e2e", Double.NaN, false, traced, checks, errText(e))
    }
    val folded = try {
      val (dir, ms) = timed(rec.span("dedup.fold")(writeGate(fold, i.toString)))
      Sample("aux", fold, ms, true, traced, Seq(dir))
    } catch {
      case e: Throwable => Sample("aux", fold, Double.NaN, false, traced, Nil, errText(e))
    }
    Seq(e2e, folded)
  }

  override def extra: Map[String, Any] = super.extra ++ Json.obj(
    "staging" -> Dedup.stagingReport().map(g =>
      Json.obj("family" -> g.family, "done" -> g.done, "bytes" -> g.bytes)))
}

/** Consecutive `StockPipeline.runOnce` DAG runs against a growing
  * date-partitioned table, each served from seeded payloads by an
  * in-memory transport under a pinned clock that advances one hour per
  * run; the reference's monitoring SQL runs after each DAG run. A round
  * is `RunsPerRound` DAG runs and then one streaming replay of the events
  * table (`stream_tumbling_append`: a watermarked tumbling-window
  * aggregate in append mode, one micro-batch per staged file), so every
  * run does the same DAG runs on the same table sizes. */
final class IngestUpsert(spark: SparkSession, data: String, out: String, rec: Recorder)
    extends GateWorkload(spark, data, out) {
  private val symbols = java.nio.file.Files.readAllLines(
    java.nio.file.Paths.get(data, "payloads", "symbols.txt")).toArray(Array.empty[String]).toSeq
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private var runs = 0
  private val summaries = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val monitors = mutable.ArrayBuffer.empty[Map[String, Any]]
  val RunsPerRound = 3
  val stream = "stream_tumbling_append"

  override def roundSize: Int = RunsPerRound + 1

  /** Clock of DAG run k; the check recomputes it. */
  def clock(k: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2025, 3, 1, 0, 0).plusHours(k))

  val monitorSql: Seq[String] = Seq(
    """SELECT symbol, COUNT(*) AS n, MAX(timestamp) AS latest
      |FROM stock_data GROUP BY symbol ORDER BY symbol""".stripMargin,
    """SELECT task_id, status, COUNT(*) AS runs, SUM(records_processed) AS records
      |FROM pipeline_logs GROUP BY task_id, status ORDER BY task_id, status""".stripMargin)

  /** Run k's payload per symbol, and the number of bars served. */
  private def payloads(k: Int): (Map[String, String], Long) = {
    val node = mapper.readTree(new java.io.File(f"$data/payloads/run$k%04d.json"))
    val bars = symbols.map(s =>
      Option(node.get(s).get("Time Series (60min)")).map(_.size).getOrElse(0)).sum
    (symbols.map(s => s -> node.get(s).toString).toMap, bars.toLong)
  }

  private def runOnce(traced: Boolean): Seq[Sample] = {
    val k = runs
    val (served, bars) = payloads(k)
    val pipeline = new graft.pipeline.StockPipeline(spark, served.get,
      now = () => clock(k), retries = 1)
    val run = try {
      val (rows, ms) = timed(rec.span("ingest.run")(pipeline.runOnce(symbols).collect()))
      summaries += Json.obj("run" -> k, "served" -> bars, "rows" -> rows.map(r =>
        Seq(r.getString(0), r.getBoolean(1), r.getLong(2))).toSeq)
      Sample("op", "run_once", ms, true, traced, Seq("stock_data"))
    } catch {
      case e: Throwable => Sample("op", "run_once", Double.NaN, false, traced, Nil, errText(e))
    }
    runs += 1
    val mon = try {
      val (res, ms) = timed(rec.span("store.monitor")(monitorSql.map(q => spark.sql(q).collect())))
      monitors += Json.obj("run" -> k, "stock" -> res.head.map(r =>
        Seq(r.getString(0), r.getLong(1), r.getTimestamp(2).toString)).toSeq)
      Sample("aux", "monitor", ms, true, traced, Seq("monitor"))
    } catch {
      case e: Throwable => Sample("aux", "monitor", Double.NaN, false, traced, Nil, errText(e))
    }
    Seq(run, mon)
  }

  /** The gate call is timed; its output is written for the check after
    * the clock stops. */
  private def replay(tag: String, traced: Boolean): Sample = try {
    val (df, ms) = timed(rec.span("stream")(gate(stream)))
    Sample("aux", stream, ms, true, traced, Seq(save(stream, tag, df)))
  } catch {
    case e: Throwable => Sample("aux", stream, Double.NaN, false, traced, Nil, errText(e))
  }

  /** Untimed: the first DAG run creates the tables, the second takes the
    * JIT warm-up that made the first timed run read 40-60% slower than the
    * rest, and the first replay stages the events. */
  override def prepare(): Unit = {
    runOnce(traced = false)
    runOnce(traced = false)
    replay("warm", traced = false)
  }

  def step(i: Int, traced: Boolean): Seq[Sample] =
    if (i % roundSize < RunsPerRound) runOnce(traced)
    else Seq(replay((i / roundSize).toString, traced))

  override def extra: Map[String, Any] = super.extra ++ Json.obj("runs" -> runs,
    "summaries" -> summaries.toSeq, "monitors" -> monitors.toSeq)

  override def finish(): Unit =
    spark.table("stock_data").write.mode("overwrite").parquet(s"$out/check/stock_data")
}
