package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.pipeline.{KafkaPipeline, PipelineConfig}
import graft.streaming.IngestEvents

/** The JVM half of the benchmark: drives one workload through the
  * program's public entry points and records what happened.
  *
  * Usage: Harness plan=<plan.json> out=<record.json>
  *
  * The plan (written by run.py with the generated inputs) names the
  * workload, the input and work directories, the core count and whether
  * the run is traced. Set-up (session start + an untimed warm-up pass,
  * which also writes the outputs the checks read) and the timed phases
  * are separate top-level spans; run.py turns the record into metrics and
  * checks the outputs.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val plan = mapper.readTree(Paths.get(a("plan")).toFile)
    val rec = new Recorder
    val work = plan.get("work_dir").asText
    val spark = rec.span("setup.session")(session(plan.get("cpus").asInt, work))
    val traced = plan.get("trace").asBoolean
    try plan.get("workload").asText match {
      case "kafka_to_parquet" => new KafkaToParquet(spark, rec, plan, traced).run()
      case "query_mix" => new QueryMix(spark, rec, plan, traced).run()
    } finally {
      Files.writeString(Paths.get(a("out")), rec.toJson)
      SparkSession.active.stop()
    }
  }

  /** `graft.Bench`'s session settings at local[cpus], with every path the
    * session writes kept under the run's work dir. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      // keep every micro-batch's progress report, not the last 100
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}

/** Shared shape: warm-up, optional overhead probe, timed phases. */
abstract class Workload(val spark: SparkSession, val rec: Recorder,
    val plan: JsonNode, val traced: Boolean) {
  val work: String = plan.get("work_dir").asText
  def p(k: String): JsonNode = plan.get(k)

  /** One small unit of work, run untimed to warm the JIT and codegen and,
    * in traced runs, four more times with and without the listeners to
    * measure what tracing costs. */
  def probe(tag: String): Unit
  def timed(): Unit

  def run(): Unit = {
    rec.span("setup.warmup")(probe("warm"))
    if (traced) {
      // untraced, traced, traced, untraced (cancels a linear warm-up
      // drift): tracing overhead = traced / untraced probe wall
      for (i <- 0 until 4) {
        val on = i == 1 || i == 2
        if (on) rec.attach(spark)
        rec.span(if (on) "probe.traced" else "probe.untraced")(probe(s"probe$i"))
        if (on) rec.detach(spark)
      }
      rec.attach(spark)
    }
    val steal0 = graft.StealMeter.sample()
    val jit0 = rec.jitMs
    rec.resetHeapPeak()
    rec.span("timed")(timed())
    rec.fact("heap_peak_mb", rec.heapPeakMb)
    rec.fact("jit_ms", rec.jitMs - jit0)
    graft.StealMeter.stealPct(steal0, graft.StealMeter.sample()).foreach(rec.fact("steal_pct", _))
    if (traced) rec.detach(spark)
  }

  /** Drives a started query to its end, keeping its progress reports
    * (from the query itself when no listener is attached). */
  def drain(label: String, start: => StreamingQuery): Unit = {
    val q = start
    q.awaitTermination()
    if (!rec.traced) q.recentProgress.foreach(pr => rec.progress += ((label, pr.json)))
  }
}

// ------------------------------------------------------------------ kafka

class KafkaToParquet(spark: SparkSession, rec: Recorder, plan: JsonNode, traced: Boolean)
    extends Workload(spark, rec, plan, traced) {

  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType), StructField("value", BinaryType))))),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType)))
  val batchSize: Int = p("batch_size").asInt

  def sink(label: String, src: String, trigger: Trigger, maxFiles: Option[Int]): StreamingQuery = {
    val cfg = PipelineConfig(batchSize = batchSize,
      outputDir = s"$work/out/$label", checkpointDir = s"$work/chk/$label")
    KafkaPipeline.initOutput(cfg.outputDir)
    val df = KafkaPipeline.fileStream(spark, src, schema, glob = "*.parquet",
      options = maxFiles.map(m => Map("maxFilesPerTrigger" -> m.toString)).getOrElse(Map.empty))
    KafkaPipeline.fidelityFileSink(df, cfg, trigger).queryName(label).start()
  }

  def backlog(label: String, dir: String): Unit =
    rec.span(s"pipeline.drain.$label") {
      rec.op(s"drain $label")(drain(label,
        sink(label, dir, Trigger.AvailableNow(), Some(p("max_files_per_trigger").asInt))))
    }

  def probe(tag: String): Unit = backlog(tag, p("warm_dir").asText)

  def timed(): Unit = {
    Harness.strs(p("backlogs")).zipWithIndex.foreach { case (d, i) => backlog(s"backlog_$i", d) }
    rec.span("pipeline.open_loop")(openLoop())
  }

  /** Deliveries are renamed into the source dir on a fixed schedule by
    * one thread while the query runs with the default trigger (start the
    * next micro-batch as soon as the previous one ends). */
  def openLoop(): Unit = {
    val src = Paths.get(work, "open_src")
    Files.createDirectories(src)
    val files = Harness.strs(p("deliveries"))
    val stage = p("stage_dir").asText
    val periodMs = 1000.0 / p("deliveries_per_s").asDouble
    val q = sink("open_loop", src.toString, Trigger.ProcessingTime(0L), None)
    val t0 = rec.now() + 500.0
    val dropped = new Array[Double](files.size)
    val mover = new Thread(() => files.zipWithIndex.foreach { case (f, i) =>
      val due = t0 + i * periodMs
      var left = due - rec.now()
      while (left > 0) {
        if (left > 2) Thread.sleep((left - 1).toLong) else Thread.onSpinWait()
        left = due - rec.now()
      }
      Files.move(Paths.get(stage, f), src.resolve(f), StandardCopyOption.ATOMIC_MOVE)
      dropped(i) = rec.now()
    }, "delivery-schedule")
    rec.op("open loop") {
      mover.start()
      mover.join()
      val total = p("rows_per_delivery").asLong * files.size
      val deadline = rec.now() + 60000
      def landed = q.recentProgress.map(_.numInputRows).sum
      while (landed < total && rec.now() < deadline && q.isActive) Thread.sleep(20)
      require(landed == total, s"open loop landed $landed of $total rows")
    }
    q.stop()
    if (!rec.traced) q.recentProgress.foreach(pr => rec.progress += (("open_loop", pr.json)))
    rec.fact("open_loop.due_ms", files.indices.map(i => t0 + i * periodMs))
    rec.fact("open_loop.dropped_ms", dropped.toSeq)
  }

  override def run(): Unit = {
    super.run()
    if (traced) {
      // single-thread baseline: the same backlog drained at local[1]
      spark.stop()
      val one = Harness.session(1, work)
      rec.attach(one)
      val w = new KafkaToParquet(one, rec, plan, traced)
      w.backlog("local1_warm", p("warm_dir").asText)
      w.backlog("local1", Harness.strs(p("backlogs")).head)
      rec.detach(one)
    }
  }
}

// ------------------------------------------------------------------ query

class QueryMix(spark: SparkSession, rec: Recorder, plan: JsonNode, traced: Boolean)
    extends Workload(spark, rec, plan, traced) {

  val tables: String = p("tables_dir").asText
  val keys: Seq[String] = Harness.strs(p("keys"))
  val light: Set[String] = Harness.strs(p("light")).toSet
  def cls(k: String): String = if (light(k)) "light" else "heavy"

  /** One cold execution through the noop sink, as graft.Bench does. */
  def execute(k: String): Option[DataFrame] = {
    spark.catalog.clearCache()
    rec.streamLabel = k
    rec.span(s"catalog.${cls(k)}.$k") {
      rec.op(k) {
        val df = rec.span(s"catalog.${cls(k)}.build")(SparkEntry.queries(k)(spark, tables))
        rec.span(s"catalog.${cls(k)}.execute")(df.write.format("noop").mode("overwrite").save())
        df
      }
    }
  }

  /** The warm-up runs each key through the timed pass's own path (noop
    * sink), so the JIT and codegen are warm for exactly what is timed.
    * Then it writes the same DataFrame's result for the checks to hash.
    * That write cannot wait for a later step: a key's scratch dirs are
    * wiped when the key runs again, and re-running every key only to
    * write its result would cost a third pass. */
  def probe(tag: String): Unit =
    if (tag == "warm") keys.foreach { k =>
      execute(k).foreach(df => rec.op(s"result $k")(
        df.coalesce(1).write.mode("overwrite").parquet(s"$work/results/$k")))
    } else keys.filter(light).take(p("probe_keys").asInt).foreach(execute)

  /** With `record_only` (goldens.py) a run is the warm-up alone, which
    * writes the results, plus the DuckDB twins of the keys. */
  override def run(): Unit =
    if (!plan.has("record_only")) super.run()
    else {
      probe("warm")
      val m = new java.util.TreeMap[String, String]()
      keys.foreach(k => SparkEntry.oracleSql.get(k).foreach(m.put(k, _)))
      Files.writeString(Paths.get(work, "oracle_sql.json"), new ObjectMapper().writeValueAsString(m))
    }

  def timed(): Unit = {
    IngestEvents.clear()
    rec.span("pass")(keys.foreach(execute))
    // per ingest pipeline (the incremental-dedup keys): batch count and
    // summed docs in / unique / appended / bloom-probable
    IngestEvents.recent().groupBy(_.pipeline).foreach { case (pipe, evs) =>
      rec.fact(s"ingest.$pipe", Seq(evs.size.toLong, evs.map(_.docsIn).sum,
        evs.map(_.uniqueIn).sum, evs.map(_.appended).sum,
        evs.filter(_.bloomProbable >= 0).map(_.uniqueIn).sum,
        evs.filter(_.bloomProbable >= 0).map(_.bloomProbable).sum))
    }
  }
}
