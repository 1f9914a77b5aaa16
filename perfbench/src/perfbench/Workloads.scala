package perfbench

import java.nio.file.{Files, Path}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** What one timed window measured: `packets` committed, of the files
  * the window offered, over `startMs`..`endMs`; the process CPU over
  * that span, which served `cpuPackets`; one latency per committed
  * file. `batches` is filled only when traced. */
final case class Window(packets: Long, cpuPackets: Long, startMs: Long, endMs: Long,
                        cpuS: Double, gcS: Double,
                        latenciesMs: Seq[Double], queueWaitsMs: Seq[Double],
                        lateMsMax: Double, batches: Seq[Trace.Batch],
                        outcome: Checks.Outcome) {
  def wallS: Double = (endMs - startMs) / 1e3
  def pktsPerS: Double = packets / wallS
  def cpuSPerKpkt: Double = cpuS / (cpuPackets / 1e3)
}

/** Process-wide counters read at window boundaries. */
object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
  def cpuS: Double = os match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  def loadAvg: Double = os.getSystemLoadAverage
}

/** Tracing hooks handed to a window: the streaming progress listener,
  * and the decoder the pipeline runs. */
final case class Tracing(progress: Option[Trace.Progress],
                         decoder: graft.sources.PcapDecode.Decoder)

sealed trait Workload {
  /** Synthesize every input this run needs (set-up). */
  def prepare(spark: SparkSession, seed: Long, seconds: Int, work: Path): Unit
  /** One warm-up round through the same entry points (set-up). */
  def warmup(spark: SparkSession, work: Path, round: Int): Unit
  /** One timed window into fresh directories under `work/label`. */
  def window(spark: SparkSession, work: Path, label: String, seconds: Int,
             tracing: Tracing): Window
  /** JSON capture files for the single-stage layer runs. */
  def layerInput(work: Path, maxPackets: Int): Path
  /** Captures for the single-thread `PcapParser` rate (none for JSON). */
  def pcapInputs(maxPackets: Int): Seq[InputFile]
}

object Workload {
  val all: Map[String, Workload] = Map(
    // tshark hop then UDM: L1 does most of the work
    "notify_pcap_rotations" -> OpenLoop(pcap = true, filesPerSec = 5.0, pktsPerFile = 400),
    // no L1; many small files, so per-micro-batch fixed cost dominates
    "notify_json_trickle" -> OpenLoop(pcap = false, filesPerSec = 10.0, pktsPerFile = 100),
    // one-shot BatchPipeline.run: per-packet L2–L4 work and the sinks
    "batch_json_backfill" -> Backfill(nFiles = 40, pktsPerFile = 1000))

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private[perfbench] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
    }

  /** JSON capture files for the layer runs: the first files of `files`
    * up to `maxPackets` packets, passed through `toJson` and written to
    * `work/layers`. */
  private[perfbench] def writeLayerInput(work: Path, files: Seq[InputFile], maxPackets: Int,
                                         toJson: InputFile => InputFile = identity): Path = {
    val dir = work.resolve("layers")
    val n = files.scanLeft(0)(_ + _.packets).tail.takeWhile(_ <= maxPackets).size.max(1)
    Inputs.write(dir, files.take(n).map(toJson))
    dir
  }
}

/** An open loop of notifications into `notifyPipeline`: `filesPerSec`
  * capture files are published on a fixed schedule by one generator
  * thread, whatever the pipeline's progress. Each file's latency runs
  * from its scheduled publish time to the commit time the pipeline
  * stamps in `_latency`.
  *
  * The query runs on a fixed `triggerMs` clock that is longer than a
  * micro-batch takes, so each batch holds exactly the files published
  * in the interval before its trigger. The timed window is a whole
  * number of trigger intervals, aligned to the trigger clock and opened
  * after a fixed lead-in; its files' waits for a
  * trigger are then spread evenly over the interval, and the latency
  * figures move only with the time the batches take. Publishing stops
  * when the window closes; every published file is checked. */
final case class OpenLoop(pcap: Boolean, filesPerSec: Double, pktsPerFile: Int) extends Workload {
  private val triggerMs = 5000
  private val leadIntervals = 1
  private val warmFiles = 4
  private var files: Seq[InputFile] = Nil
  private var warm: Seq[InputFile] = Nil

  /** Trigger intervals in a window of `seconds`. */
  private def intervals(seconds: Int): Int = math.ceil(seconds * 1000.0 / triggerMs).toInt

  def prepare(spark: SparkSession, seed: Long, seconds: Int, work: Path): Unit = {
    // the most files the lead-in and the window can publish
    val n = math.ceil(filesPerSec * (leadIntervals + intervals(seconds) + 1) * triggerMs / 1000.0).toInt
    if (pcap) {
      files = Inputs.pcapRotations(seed, n, pktsPerFile, "rot_")
      warm = Inputs.pcapRotations(seed + 1, warmFiles, pktsPerFile, "warm_")
    } else {
      files = Inputs.jsonCaptures(spark, seed, n, pktsPerFile, "cap_")
      warm = Inputs.jsonCaptures(spark, seed, warmFiles, pktsPerFile, "warm_",
        firstId = n.toLong * pktsPerFile)
    }
  }

  private def dirs(base: Path): (Path, Path, Path, Path, Path) = {
    val d = Seq("queue", "data", "out", "ckpt", "staging").map(base.resolve)
    d.foreach(Files.createDirectories(_))
    (d(0), d(1), d(2), d(3), d(4))
  }

  private def start(spark: SparkSession, base: Path, trigger: Trigger,
                    decoder: graft.sources.PcapDecode.Decoder) = {
    val (queue, data, out, ckpt, _) = dirs(base)
    graft.streaming.StreamingPipeline.notifyPipeline(spark, queue.toString, data.toString,
      out.toString, ckpt.toString, trigger = trigger, decoder = decoder).start()
  }

  def warmup(spark: SparkSession, work: Path, round: Int): Unit = {
    val base = work.resolve(s"warm$round")
    val (queue, data, _, _, staging) = dirs(base)
    warm.zipWithIndex.foreach { case (f, i) => Inputs.publish(data, queue, staging, f"m_$i%05d", f) }
    val q = start(spark, base, Trigger.AvailableNow(), graft.sources.PcapParser.nativeDecoder)
    if (!q.awaitTermination(120000)) { q.stop(); sys.error("warm-up drain timed out") }
    Workload.deleteTree(base)
  }

  private def sleepUntil(ns: Long): Unit = {
    var wait = ns - System.nanoTime()
    while (wait > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(wait)
      wait = ns - System.nanoTime()
    }
  }

  def window(spark: SparkSession, work: Path, label: String, seconds: Int,
             tracing: Tracing): Window = {
    val base = work.resolve(label)
    val (queue, data, out, _, staging) = dirs(base)
    val q = start(spark, base, Trigger.ProcessingTime(triggerMs.toLong), tracing.decoder)
    @volatile var lateMsMax = 0.0
    @volatile var failure: Option[Throwable] = None
    try {
      q.processAllAvailable() // the query is up and idle before the first publish
      val intervalMs = 1000.0 / filesPerSec
      val baseNs = System.nanoTime(); val baseMs = System.currentTimeMillis()
      def nanoAt(ms: Double): Long = baseNs + ((ms - baseMs) * 1e6).toLong
      // the trigger clock ticks at multiples of triggerMs since the epoch;
      // publishing starts half an interval before a tick, so every run
      // has the same lead-in: that half interval, then leadIntervals whole ones
      val firstTick = math.ceil((baseMs + 50.0 + triggerMs / 2) / triggerMs).toLong * triggerMs
      val t0Ms = firstTick - triggerMs / 2
      val w0Ms = firstTick + leadIntervals.toLong * triggerMs
      val w1Ms = w0Ms + intervals(seconds).toLong * triggerMs
      def scheduledMs(i: Int): Double = t0Ms + i * intervalMs
      val n = Iterator.from(0).takeWhile(i => scheduledMs(i) < w1Ms && i < files.size).size
      val timed = files.indices.filter(i => i < n && scheduledMs(i) >= w0Ms)

      val gen = new Thread("perfbench-generator") {
        override def run(): Unit = try {
          for (i <- 0 until n) {
            val due = nanoAt(scheduledMs(i))
            sleepUntil(due)
            lateMsMax = math.max(lateMsMax, (System.nanoTime() - due) / 1e6)
            Inputs.publish(data, queue, staging, f"m_$i%05d", files(i))
          }
        } catch { case e: Throwable => failure = Some(e) }
      }
      gen.start()
      sleepUntil(nanoAt(w0Ms.toDouble))
      val cpu0 = Meter.cpuS; val gc0 = Meter.gcS
      // the window closes when its last file has committed
      sleepUntil(nanoAt(w1Ms.toDouble))
      val deadline = System.nanoTime() + 60000000000L
      var commits = Checks.commits(out)
      while (!timed.forall(i => commits.contains(files(i).name)) && q.isActive &&
             failure.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(20)
        commits = Checks.commits(out)
      }
      val cpuS = Meter.cpuS - cpu0; val gcS = Meter.gcS - gc0
      gen.join()
      failure.foreach(e => throw e)
      // every published file commits, or the check fails it
      while (Checks.latencyRows(out) < n && q.isActive && System.nanoTime() < deadline)
        Thread.sleep(20)
      q.exception.foreach(e => throw e)

      commits = Checks.commits(out)
      val batchOf = commits.collect { case (f, Seq(c, _*)) => f -> c.batchId }
      val outcome = Checks.check(label, out, files.take(n), batchOf, Checks.notifications(out),
        Some(commits))
      def commitOf(i: Int): Option[Checks.Commit] = commits.get(files(i).name).map(_.head)
      val endMs = timed.flatMap(commitOf).map(_.commitMs).maxOption.getOrElse(System.currentTimeMillis())
      val batches = tracing.progress.map(_.of(q.id)).getOrElse(Nil)
        .filter(b => b.startMs >= w0Ms - triggerMs / 2 && b.startMs <= endMs)
      val batchStart = batches.map(b => b.id -> b.startMs).toMap
      Window(
        packets = timed.map(files(_).packets.toLong).sum,
        // the window's CPU also served the batch that committed the
        // lead-in's last interval inside it
        cpuPackets = (0 until n).filter(i => commitOf(i).exists(c => c.commitMs > w0Ms &&
          c.commitMs <= endMs)).map(files(_).packets.toLong).sum,
        startMs = w0Ms, endMs = endMs, cpuS = cpuS, gcS = gcS,
        latenciesMs = timed.flatMap(i => commitOf(i).map(_.commitMs - scheduledMs(i))),
        queueWaitsMs = timed.flatMap(i => commitOf(i).flatMap(c => batchStart.get(c.batchId))
          .map(_ - scheduledMs(i))),
        lateMsMax = lateMsMax, batches = batches, outcome = outcome)
    } finally {
      q.stop()
    }
  }

  def layerInput(work: Path, maxPackets: Int): Path =
    Workload.writeLayerInput(work, files, maxPackets, f =>
      if (!pcap) f
      else f.copy(name = f.name.stripSuffix(".pcap") + ".json", // what L1 hands to L2
        bytes = graft.sources.PcapParser.decodeFile(f.bytes, f.name)
          .mkString("[", ",", "]").getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  def pcapInputs(maxPackets: Int): Seq[InputFile] =
    if (pcap) files.take((maxPackets / pktsPerFile).max(1)) else Nil
}

/** A closed, one-shot backfill: `BatchPipeline.run` over a backlog of
  * tshark-JSON captures, repeated into fresh output directories until
  * the window's seconds are used. Every file of a run is published when
  * the run starts and committed when it returns. */
final case class Backfill(nFiles: Int, pktsPerFile: Int) extends Workload {
  private var files: Seq[InputFile] = Nil
  private var backlog: Path = _

  def prepare(spark: SparkSession, seed: Long, seconds: Int, work: Path): Unit = {
    files = Inputs.jsonCaptures(spark, seed, nFiles, pktsPerFile, "cap_")
    backlog = work.resolve("backlog"); Inputs.write(backlog, files)
  }

  /** A full run over the backlog: smaller rounds left the window's
    * first run still warming, 20–40 % slower than its last. */
  def warmup(spark: SparkSession, work: Path, round: Int): Unit = {
    val out = work.resolve(s"warm_out$round")
    graft.etl.BatchPipeline.run(spark, backlog.toString, out.toString).collect()
    Workload.deleteTree(out)
  }

  def window(spark: SparkSession, work: Path, label: String, seconds: Int,
             tracing: Tracing): Window = {
    val base = work.resolve(label)
    val cpu0 = Meter.cpuS; val gc0 = Meter.gcS
    val startMs = System.currentTimeMillis()
    // runs back to back until the window's seconds are used; outputs
    // are checked after the window so the checks stay untimed
    val runs = Vector.newBuilder[(Int, Path, Array[org.apache.spark.sql.Row], Long, Long)]
    var run = 0
    while (System.currentTimeMillis() - startMs < seconds * 1000L) {
      val out = base.resolve(s"run$run")
      val t0 = System.currentTimeMillis()
      val counts = graft.etl.BatchPipeline.run(spark, backlog.toString, out.toString).collect()
      runs += ((run, out, counts, t0, System.currentTimeMillis()))
      run += 1
    }
    val endMs = System.currentTimeMillis()
    val cpuS = Meter.cpuS - cpu0; val gcS = Meter.gcS - gc0
    val done = runs.result()
    val packets = done.size.toLong * files.map(_.packets.toLong).sum
    val outcome = done.map { case (run, out, counts, _, _) =>
      val countRows = counts.map(r => Checks.baseName(r.getString(0)) ->
        Checks.Counts(r.getLong(1), r.getLong(2))).toSeq.groupMap(_._1)(_._2)
      try Checks.check(s"$label/run$run", out, files, files.map(_.name -> -1L).toMap,
        countRows, None)
      finally Workload.deleteTree(out)
    }.reduce(_ + _)
    Window(packets, packets, startMs, endMs, cpuS, gcS,
      done.flatMap { case (_, _, _, t0, t1) => files.map(_ => (t1 - t0).toDouble) },
      Nil, 0.0,
      if (tracing.progress.isEmpty) Nil
      else done.map { case (run, _, _, t0, t1) =>
        Trace.Batch(run, t0, files.size, Map("triggerExecution" -> (t1 - t0)))
      }, outcome)
  }

  def layerInput(work: Path, maxPackets: Int): Path =
    Workload.writeLayerInput(work, files, maxPackets)

  def pcapInputs(maxPackets: Int): Seq[InputFile] = Nil
}
