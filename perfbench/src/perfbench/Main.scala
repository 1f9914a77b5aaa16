package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up, then one timed window. With
  * `--trace 1` the window runs with the tracing instruments installed,
  * and single-stage layer runs follow it; the traced window's own
  * end-to-end figures are reported as `trace.*`, so that tracing
  * overhead can be read against untraced runs of the same seed range.
  * Writes the result object (`correct`, `attempted`, `failed`,
  * `metrics`) to `--result` and everything measured to `--detail`.
  * Exits 1 without a result if the pipeline throws. */
object Main {

  private val usage = "usage: perfbench.Main --workload <name> --seed <n> --seconds <s> " +
    "--trace <0|1> --work <dir> --result <file> --detail <file>"

  /** Warm-up rounds in set-up; `setup_s` takes their median. */
  private val warmRounds = 3
  /** Packets fed to each single-stage layer run. */
  private val layerPackets = 20000

  private val endToEndUnits = Seq(
    "pkts_per_s" -> "pkts/s", "file_latency_p50_ms" -> "ms", "file_latency_p95_ms" -> "ms",
    "cpu_s_per_kpkt" -> "s", "setup_s" -> "s")

  private val perLayerUnits = Seq(
    "pcap_parser.pkts_per_s_1t" -> "pkts/s", "pcap_parser.busy_s" -> "s",
    "pcap_parser.json_bytes_per_pcap_byte" -> "ratio", "pcap_decode.contained_errors" -> "count",
    "scan.self_s" -> "s", "parse.self_s" -> "s", "udm_event.self_s" -> "s", "to_json.self_s" -> "s",
    "udm.error_event_share" -> "ratio",
    "sink.events_rows" -> "count", "sink.errors_rows" -> "count", "sink.bytes_out" -> "bytes",
    "sink.files_out" -> "count",
    "batch.count" -> "count", "notify.files_per_batch_mean" -> "count",
    "batch.trigger_ms_p50" -> "ms", "batch.trigger_ms_p95" -> "ms",
    "batch.add_batch_ms_p50" -> "ms", "batch.query_planning_ms_p50" -> "ms",
    "notify.latest_offset_ms_p50" -> "ms", "batch.wal_commit_ms_p50" -> "ms",
    "batch.commit_offsets_ms_p50" -> "ms",
    "batch.jobs_per_batch" -> "count", "batch.tasks_per_batch" -> "count",
    "codegen.compiles_per_batch" -> "count",
    "notify.queue_wait_ms_p50" -> "ms", "stream.busy_share" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.cpu_s" -> "s", "gen.late_ms_max" -> "ms",
    "check.failed_share" -> "ratio",
    "trace.pkts_per_s" -> "pkts/s", "trace.cpu_s_per_kpkt" -> "s",
    "trace.file_latency_p50_ms" -> "ms")

  private def secondsSince(ms: Long): Double = (System.currentTimeMillis() - ms) / 1e3

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  private def endToEnd(w: Window, setupS: Double): Map[String, Double] = Map(
    "pkts_per_s" -> w.pktsPerS,
    "file_latency_p50_ms" -> Workload.quantile(w.latenciesMs, 0.5),
    "file_latency_p95_ms" -> Workload.quantile(w.latenciesMs, 0.95),
    "cpu_s_per_kpkt" -> w.cpuSPerKpkt,
    "setup_s" -> setupS)

  private def perLayer(traced: Window, jobs: Long, tasks: Long, compiles: Long,
                       layers: Map[String, Double], parserRate: Double): Map[String, Double] = {
    val bs = traced.batches
    def phase(k: String, q: Double) = Workload.quantile(bs.map(_.durations.getOrElse(k, 0L).toDouble), q)
    val nBatches = bs.size.max(1).toDouble
    val pcapBytes = Trace.Decoder.pcapBytes.get
    val o = traced.outcome
    layers ++ Map(
      "pcap_parser.pkts_per_s_1t" -> parserRate,
      "pcap_parser.busy_s" -> Trace.Decoder.busyNs.get / 1e9,
      "pcap_parser.json_bytes_per_pcap_byte" ->
        (if (pcapBytes == 0) 0.0 else Trace.Decoder.jsonBytes.get.toDouble / pcapBytes),
      "pcap_decode.contained_errors" -> o.decodeErrors.toDouble,
      "udm.error_event_share" -> o.errorEvents.toDouble / traced.packets,
      "sink.events_rows" -> o.eventsRows.toDouble, "sink.errors_rows" -> o.errorsRows.toDouble,
      "sink.bytes_out" -> o.bytesOut.toDouble, "sink.files_out" -> o.filesOut.toDouble,
      "batch.count" -> bs.size.toDouble,
      "notify.files_per_batch_mean" -> bs.map(_.rows).sum / nBatches,
      "batch.trigger_ms_p50" -> phase("triggerExecution", 0.5),
      "batch.trigger_ms_p95" -> phase("triggerExecution", 0.95),
      "batch.add_batch_ms_p50" -> phase("addBatch", 0.5),
      "batch.query_planning_ms_p50" -> phase("queryPlanning", 0.5),
      "notify.latest_offset_ms_p50" -> phase("latestOffset", 0.5),
      "batch.wal_commit_ms_p50" -> phase("walCommit", 0.5),
      "batch.commit_offsets_ms_p50" -> phase("commitOffsets", 0.5),
      "batch.jobs_per_batch" -> jobs / nBatches,
      "batch.tasks_per_batch" -> tasks / nBatches,
      "codegen.compiles_per_batch" -> compiles / nBatches,
      "notify.queue_wait_ms_p50" -> Workload.quantile(traced.queueWaitsMs, 0.5),
      "stream.busy_share" -> bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3 / traced.wallS,
      "jvm.gc_s" -> traced.gcS, "jvm.cpu_s" -> traced.cpuS,
      "gen.late_ms_max" -> traced.lateMsMax,
      "check.failed_share" -> o.failed.toDouble / o.attempted,
      "trace.pkts_per_s" -> traced.pktsPerS,
      "trace.cpu_s_per_kpkt" -> traced.cpuSPerKpkt,
      "trace.file_latency_p50_ms" -> Workload.quantile(traced.latenciesMs, 0.5))
  }

  private def windowDetail(w: Window): Map[String, Any] = Map(
    "packets" -> w.packets, "wall_s" -> w.wallS, "cpu_s" -> w.cpuS, "gc_s" -> w.gcS,
    "files_committed" -> w.latenciesMs.size, "gen_late_ms_max" -> w.lateMsMax,
    "attempted" -> w.outcome.attempted, "failed" -> w.outcome.failed,
    "problems" -> w.outcome.problems,
    "file_latencies_ms" -> w.latenciesMs.map(_.round),
    "batches" -> w.batches.map(b => Map("id" -> b.id, "start_ms" -> (b.startMs - w.startMs),
      "files" -> b.rows, "trigger_ms" -> b.durations.getOrElse("triggerExecution", 0L))),
    "latency_ms" -> Map("p50" -> Workload.quantile(w.latenciesMs, 0.5),
      "p95" -> Workload.quantile(w.latenciesMs, 0.95), "max" -> Workload.quantile(w.latenciesMs, 1.0)))

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.TreeMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  private def writeJson(p: Path, v: Any): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(toJava(v)).getBytes(UTF_8))
  }

  private def metricsJson(values: Map[String, Double], units: Seq[(String, String)]) =
    units.map { case (k, u) => k -> Map("value" -> values(k), "unit" -> u) }.toMap

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, { System.err.println(usage); sys.exit(2) })
    val name = opt("workload")
    val workload = Workload.all.getOrElse(name, {
      System.err.println(s"unknown workload $name; known: ${Workload.all.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val (seed, seconds, traced) = (opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1")
    val work = Paths.get(opt("work")).toAbsolutePath
    val loadStart = Meter.loadAvg
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(jvmStartMs)
    val code = try {
      val (_, synthS) = timed(workload.prepare(spark, seed, seconds, work))
      val warmS = (0 until warmRounds).map(r => timed(workload.warmup(spark, work, r))._2)
      val setupS = sessionS + synthS + Workload.median(warmS)
      val setupTotalS = secondsSince(jvmStartMs)
      val (metrics, w) = if (!traced) {
        val w = workload.window(spark, work, "window", seconds,
          Tracing(None, graft.sources.PcapParser.nativeDecoder))
        (metricsJson(endToEnd(w, setupS), endToEndUnits), w)
      } else {
        val progress = new Trace.Progress
        val sched = new Trace.Scheduler
        spark.streams.addListener(progress)
        spark.sparkContext.addSparkListener(sched)
        Trace.Decoder.reset()
        val compiles0 = Trace.codegenCompiles
        val w = workload.window(spark, work, "window", seconds,
          Tracing(Some(progress), Trace.Decoder.decoder))
        val compiles = Trace.codegenCompiles - compiles0
        val layers = Trace.layerStages(spark, workload.layerInput(work, layerPackets).toString, rounds = 3)
        val parserRate = workload.pcapInputs(layerPackets) match {
          case Nil => 0.0
          case fs => Trace.pcapParserRate(fs)
        }
        Thread.sleep(500) // let the listener bus deliver the window's last events
        val values = perLayer(w, sched.jobsIn(w.startMs, w.endMs), sched.tasksIn(w.startMs, w.endMs),
          compiles, layers, parserRate)
        (metricsJson(values, perLayerUnits), w)
      }

      val (attempted, failed) = (w.outcome.attempted, w.outcome.failed)
      w.outcome.problems.foreach(p => System.err.println(s"perfbench: check failed: $p"))
      val wallS = secondsSince(jvmStartMs)
      writeJson(Paths.get(opt("detail")), Map(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "cpus" -> cpus, "nproc" -> cpus,
        "load_avg_start" -> loadStart, "load_avg_end" -> Meter.loadAvg,
        // this JVM's CPU ÷ (wall × cores): a run whose share falls well
        // below its usual band was contended
        "cpu_share" -> (Meter.cpuS / (wallS * cpus)),
        "window_cpu_share" -> (w.cpuS / (w.wallS * cpus)),
        "setup" -> Map("session_s" -> sessionS, "synth_s" -> synthS, "warmup_s" -> warmS,
          "setup_s" -> setupS, "to_first_input_s" -> setupTotalS),
        (if (traced) "traced_end_to_end" else "end_to_end") -> endToEnd(w, setupS),
        "window" -> windowDetail(w),
        "metrics" -> metrics,
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "run_wall_s" -> wallS))
      writeJson(Paths.get(opt("result")), Map(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics))
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        1
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
    sys.exit(code)
  }
}
