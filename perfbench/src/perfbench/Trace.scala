package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Instruments used only by traced runs. Each wraps a public entry point
  * of a layer from outside; nothing inside the program is changed. */
object Trace {

  /** The default native decoder (`PcapParser`, layer L1) wrapped with
    * counters. `notifyPipeline` takes it as its `decoder`. Local mode
    * runs tasks in this JVM, so plain static counters see every call. */
  object Decoder {
    val busyNs = new AtomicLong()
    val pcapBytes = new AtomicLong()
    val jsonBytes = new AtomicLong()
    def reset(): Unit = Seq(busyNs, pcapBytes, jsonBytes).foreach(_.set(0))
    val decoder: graft.sources.PcapDecode.Decoder = (path, bytes) => {
      val t0 = System.nanoTime()
      val out = graft.sources.PcapParser.nativeDecoder(path, bytes).toVector
      busyNs.addAndGet(System.nanoTime() - t0)
      pcapBytes.addAndGet(bytes.length)
      jsonBytes.addAndGet(out.iterator.map(_.length.toLong).sum)
      out.iterator
    }
  }

  /** Whole-stage and expression code compilations so far in this JVM
    * (Spark's codegen metrics; a cache hit compiles nothing). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Job and task start times, from the scheduler's listener bus. */
  final class Scheduler extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Long]()
    val tasks = new ConcurrentLinkedQueue[Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.add(e.taskInfo.launchTime)
    def jobsIn(from: Long, to: Long): Long = jobs.asScala.count(t => t >= from && t <= to).toLong
    def tasksIn(from: Long, to: Long): Long = tasks.asScala.count(t => t >= from && t <= to).toLong
  }

  /** One micro-batch's progress: trigger start (epoch ms), messages
    * read, and Spark's own phase timings. */
  final case class Batch(id: Long, startMs: Long, rows: Long, durations: Map[String, Long])

  /** Streaming progress of every query, kept per query id. */
  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[(java.util.UUID, Batch)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // progress events without a new batch repeat the previous id and
      // carry no addBatch phase
      if (p.durationMs.containsKey("addBatch"))
        batches.add(p.id -> Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    def of(query: java.util.UUID): Seq[Batch] =
      batches.asScala.collect { case (q, b) if q == query => b }.toSeq.sortBy(_.id)
  }

  /** Single-stage runs of the JSON layers over the capture files in
    * `dir`, each on one partition into the `noop` sink, so a stage's time
    * is its own work on one thread. Stages are cumulative, each adding
    * one layer to the previous: the `readRawPackets`-shaped scan,
    * `UdmPacketParseExpr` (L2), the UDM event projection (L3, the
    * transform without its `udm_json` column), and `StructToJsonExpr`
    * (L4). Rounds interleave the stages; each stage keeps its fastest
    * round, and a layer's self time is its stage minus the one before. */
  def layerStages(spark: SparkSession, dir: String, rounds: Int): Map[String, Double] = {
    def scan: DataFrame = graft.etl.BatchPipeline.readRawPackets(spark, dir).coalesce(1)
    val stages = Seq[(String, () => DataFrame)](
      "scan" -> (() => scan),
      "parse" -> (() => scan.select(col("source_file"),
        graft.functions.UdmPacketParseExpr(col("raw")).as("parsed"))),
      "udm_event" -> (() => graft.udm.UdmTransform.transform(scan, "raw").drop("udm_json")),
      "to_json" -> (() => graft.udm.UdmTransform.transform(scan, "raw")))
    val best = scala.collection.mutable.LinkedHashMap(stages.map(_._1 -> Double.MaxValue): _*)
    for (_ <- 0 until rounds; (name, df) <- stages) {
      val t0 = System.nanoTime()
      df().write.format("noop").mode("overwrite").save()
      best(name) = math.min(best(name), (System.nanoTime() - t0) / 1e9)
    }
    val names = stages.map(_._1)
    names.zipWithIndex.map { case (n, i) =>
      s"$n.self_s" -> (if (i == 0) best(n) else best(n) - best(names(i - 1)))
    }.toMap
  }

  /** `PcapParser.decodeFile` alone on the calling thread: packets/s. */
  def pcapParserRate(files: Seq[InputFile]): Double = {
    val t0 = System.nanoTime()
    val pkts = files.iterator.map(f => graft.sources.PcapParser.decodeFile(f.bytes, f.name).size.toLong).sum
    pkts / ((System.nanoTime() - t0) / 1e9)
  }
}
