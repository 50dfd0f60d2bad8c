package graftbench

import graft.CacheScope
import graft.model.MessageEnvelope
import graft.operators.Produce
import graft.streaming.{StreamingOps, TopicStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/**
 * Runs one benchmark workload in one Spark process and writes the run
 * record (`run.json` in the output directory) that perfbench/run.py turns
 * into metrics and checks. Invoked by run.py; the flags are:
 *
 *   --workload batch|stream  --data DIR  --out DIR  --rounds N  --cores N  --trace 0|1
 *   batch:  --queries q1,q2,...  --warm envelope,warm_shared (shared derivations)
 *   stream: --new-rows N  --replay N  --window-ms N
 */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  private def flags(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val f = flags(argv)
    val out = f("out")
    val rounds = f("rounds").toInt
    val traced = f.getOrElse("trace", "0") == "1"
    Files.createDirectories(Paths.get(out))
    val spans = new Spans
    val jvmStartNs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val wl: Workload = f("workload") match {
      case "batch" => new BatchWorkload(f("data"), out, f("queries").split(',').toSeq,
        f("warm").split(',').toSeq)
      case "stream" => new StreamWorkload(f("data"), out, rounds,
        f("new-rows").toInt, f("replay").toInt, f("window-ms").toLong)
    }

    // Set-up, several times: the first from JVM start, the others after
    // stopping the previous session. The last one is kept for the rounds.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      if (spark != null) { wl.teardown(); CacheScope.releaseRun(); spark.stop() }
      val t0 = if (i == 1) jvmStartNs else spans.nowNs
      spans(s"setup$i", "setup") {
        spark = spans("session", "session") { session(f("cores").toInt, out) }
        wl.setup(spark, spans, i)
      }
      setups += (spans.nowNs - t0) / 1e9
    }

    val layers = if (traced) Some(new Layers) else None
    layers.foreach(_.attach(spark))
    val roundTimes = ArrayBuffer.empty[Seq[Long]]
    for (r <- 1 to rounds) {
      val (t0, c0) = (spans.nowNs, spans.cpuNs)
      wl.round(spark, spans, r)
      roundTimes += Seq(t0, spans.nowNs, c0, spans.cpuNs)
    }
    layers.foreach(_.settle())
    val extra = wl.finish(spark)
    layers.foreach(_.detach(spark))

    val record = Map(
      "setups" -> setups,
      "rounds" -> roundTimes,
      "held_bytes" -> wl.heldPeak,
      "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "start" -> s.startNs,
        "end" -> s.endNs, "cpu_start" -> s.cpuStartNs, "cpu_end" -> s.cpuEndNs,
        "ok" -> s.ok, "error" -> s.error)),
      "workload" -> extra,
      "layers" -> layers.map(l => Map(
        "jobs" -> l.jobs.map(j => Seq(j.id, j.startMs, j.endMs, j.query, j.batch)),
        "stages" -> l.stages.map(s => Seq(s.id, s.job, s.submitMs, s.endMs, s.tasks)),
        "tasks" -> l.tasks.map(t => Seq(t.stage, t.launchMs, t.finishMs, t.runMs, t.cpuNs, t.gcMs,
          t.shWrite, t.shRead, t.spill, t.fetchWaitMs, t.inBytes, t.inRows)),
        "planned" -> l.planned.map(p => Seq(p.atMs, p.analysisMs, p.optimizerMs,
          p.planningMs, p.exchanges)),
        "batches" -> l.batches.map(b => Seq(b.query, b.batchId, b.startMs, b.endMs,
          b.latestOffsetMs, b.planningMs, b.addBatchMs, b.commitMs, b.stateRows,
          b.stateRemoved, b.stateCommitMs)))))
    Files.write(Paths.get(out, "run.json"), Json(record).getBytes(StandardCharsets.UTF_8))
    wl.teardown()
    CacheScope.releaseRun()
    spark.stop()
  }

  /** The benchmark's session: local[cores], scratch space inside the run's
   * output directory, no UI. */
  def session(cores: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    graft.SparkEntry.prepare(spark)
    spark
  }

  /** Persisted block bytes (memory + disk) of all cached datasets. */
  def storedBlockBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

trait Workload {
  var heldPeak = 0L
  def setup(spark: SparkSession, spans: Spans, i: Int): Unit
  def round(spark: SparkSession, spans: Spans, r: Int): Unit
  /** Outputs and per-workload facts for the record, after the last round. */
  def finish(spark: SparkSession): Map[String, Any] = Map.empty
  def teardown(): Unit = ()

  /** The session's first job: count the first input file (in name order). */
  protected def firstAction(spark: SparkSession, spans: Spans, data: String): Unit = {
    val first = new java.io.File(data).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).min
    spans("first_action", "warm") { spark.read.parquet(s"$data/$first").count() }
  }

  /** Run one operation; a throw marks its span failed (run.py reports
   * it by name) and the run goes on with the next operation. */
  protected def op(spans: Spans, name: String)(body: => Unit): Unit =
    try spans(name, "op")(body)
    catch { case t: Throwable => System.err.println(s"operation $name failed: $t") }
}

/** A list of graft queries, each built and written once per round to
 * `<out>/r<round>/<query>` (the result a user keeps). */
final class BatchWorkload(data: String, out: String, queries: Seq[String], warm: Seq[String])
    extends Workload {
  private lazy val fns = graft.SparkEntry.queries

  def setup(spark: SparkSession, spans: Spans, i: Int): Unit = {
    firstAction(spark, spans, data)
    warm.foreach {
      case "envelope" => spans("envelope", "warm") {
        graft.model.EventLog.topic(spark, data).groupBy("topic").count().collect()
      }
      case "warm_shared" => spans("warm_shared", "warm") {
        graft.queries.PipelineQueries.warmShared(spark, data)
      }
    }
  }

  override def finish(spark: SparkSession): Map[String, Any] = {
    val sql = graft.SparkEntry.oracleSql
    Map("oracle" -> queries.flatMap(q => sql.get(q).map(q -> _)).toMap)
  }

  def round(spark: SparkSession, spans: Spans, r: Int): Unit =
    queries.foreach { q =>
      op(spans, q) {
        try {
          val df = spans("build", "build") { fns(q)(spark, data) }
          spans("write", "write") {
            df.write.mode("overwrite").parquet(s"$out/r$r/$q")
          }
          heldPeak = math.max(heldPeak, Main.storedBlockBytes(spark))
        } finally CacheScope.releaseAll()
      }
    }
}

/**
 * The topic-stream closed loop: one producer appends each raw batch through
 * Produce.build and Produce.appendDedup into one topic directory, then
 * drains three checkpointed subscriptions over that directory: the
 * TableView sink, a keyed-state counter per key (mapGroupsWithState) and a
 * watermarked tumbling window count.
 */
final class StreamWorkload(data: String, out: String, appends: Int,
    newRows: Int, replay: Int, windowMs: Long) extends Workload {
  private var topic = ""
  private var subs = Seq.empty[(String, StreamingQuery)]
  private var viewDir = ""
  private val counters = TrieMap.empty[String, Long]
  private val windows = TrieMap.empty[Long, (Long, Double)]
  // per append index; an append that threw leaves its slot empty (null)
  private val accepted = Array.fill[Option[Long]](appends)(None)
  private val stateRows = Array.fill[Option[Seq[Long]]](appends)(None)

  def setup(spark: SparkSession, spans: Spans, i: Int): Unit = {
    import spark.implicits._
    firstAction(spark, spans, data)
    topic = s"$out/topic$i"
    Files.createDirectories(Paths.get(topic))
    counters.clear(); windows.clear()
    spans("subscribe", "warm") {
      def sub = TopicStream.subscribe(spark, topic, maxFilesPerTrigger = 1000)
      viewDir = s"$out/view$i"
      val tv = StreamingOps.compactedTableStream(sub, s"$out/ckpt$i/tableview", viewDir)
      val cnt = StreamingOps.keyedCounters(sub.as[MessageEnvelope], _.key).toDF("key", "n")
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", s"$out/ckpt$i/counters")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => counters.put(r.getString(0), r.getLong(1))); ()
        }.start()
      val win = StreamingOps.tumblingCounts(sub, windowMs, s"${2 * windowMs} milliseconds")
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", s"$out/ckpt$i/windows")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("window_start_ms", "n", "sum_v").collect().foreach(r =>
            windows.put(r.getLong(0), (r.getLong(1), r.getDouble(2)))); ()
        }.start()
      subs = Seq("tableview" -> tv, "counters" -> cnt, "windows" -> win)
      subs.foreach(_._2.processAllAvailable())
    }
  }

  /** Round r is append g = r - 1 of raw batch b<g>. */
  def round(spark: SparkSession, spans: Spans, r: Int): Unit = {
    val g = r - 1
    val lo = g.toLong * newRows - (if (g > 0) replay else 0)
    op(spans, f"append$g%03d") {
      try {
        val raw = spark.read.parquet(f"$data/b$g%03d.parquet")
        val msgs = spans("build", "build") {
          Produce.build(raw, "bench", "p0", 4, "ord", nowMs = 1704067200000L + g * 1000L,
            startOffset = lo, startSeq = lo, allKeyed = true)
        }
        accepted(g) = Some(spans("append", "append") { Produce.appendDedup(spark, msgs, topic) })
        subs.foreach { case (name, q) =>
          spans(s"trigger:$name", "trigger") { q.processAllAvailable() }
        }
        val progress = subs.map(s => Option(s._2.lastProgress))
        stateRows(g) = Some(progress.map(_.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)))
        heldPeak = math.max(heldPeak, Main.storedBlockBytes(spark) + stateMemory)
      } finally CacheScope.releaseAll()
    }
  }

  private def stateMemory: Long = subs.map { case (_, q) =>
    Option(q.lastProgress).map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L)
  }.sum

  override def finish(spark: SparkSession): Map[String, Any] = {
    val stateBytes = stateMemory
    def tsv(name: String, rows: Iterable[String]): Unit =
      Files.write(Paths.get(out, name), rows.mkString("\n").getBytes(StandardCharsets.UTF_8))
    tsv("tableview.tsv", StreamingOps.compactedTable(spark, viewDir)
      .select("key", "value", "publish_ms", "msg_offset").collect()
      .map(r => s"${r.getString(0)}\t${r.getDouble(1)}\t${r.getLong(2)}\t${r.getLong(3)}"))
    tsv("counters.tsv", counters.map { case (k, n) => s"$k\t$n" })
    tsv("windows.tsv", windows.map { case (w, (n, s)) => s"$w\t$n\t$s" })
    Map("topic" -> topic, "accepted" -> accepted.toSeq, "state_rows" -> stateRows.toSeq,
      "state_bytes" -> stateBytes, "subscriptions" -> subs.map(_._1),
      "subscription_ids" -> subs.map { case (n, q) => Seq(n, q.id.toString) })
  }

  override def teardown(): Unit = {
    subs.foreach(_._2.stop())
    subs = Nil
  }
}
