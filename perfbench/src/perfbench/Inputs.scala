package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One generated capture file. Every packet carries a frame number, and
  * the UDM event's description repeats it (`Frame No: n`), so the
  * output can be checked packet by packet: file `f` must yield exactly
  * one event for each frame number in `[lo, hi)`. */
final case class InputFile(name: String, bytes: Array[Byte], lo: Long, hi: Long,
                           errors: Int) {
  def packets: Int = (hi - lo).toInt
}

/** Seeded input synthesis. The program under test only ever sees the
  * files written from these arrays. */
object Inputs {

  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** tshark-JSON capture files of `perFile` packets each. The packets
    * come from `SynthPackets.fromEvents` over synthetic `events` rows
    * whose event types are uniform over the five types the generator
    * maps, so about 20 % are `error` packets (the non-numeric-port
    * `int()` error path). Event ids run from `firstId` and are unique
    * across the returned files. */
  def jsonCaptures(spark: SparkSession, seed: Long, nFiles: Int, perFile: Int,
                   prefix: String, firstId: Long = 0L): Seq[InputFile] = {
    val n = nFiles.toLong * perFile
    val h = (salt: Int) => pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1L << 40))
    val events = spark.range(firstId, firstId + n, 1, 4).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) + h(1) % lit(30L * 86400)).as("ts"),
      (h(2) % lit(10000L)).as("user_id"),
      element_at(typedlit(eventTypes), (h(3) % lit(eventTypes.size.toLong)).cast("int") + 1)
        .as("event_type"))
    // only the error template carries a non-numeric port
    val rows = graft.udm.SynthPackets.fromEvents(events, widen = false)
      .select("event_id", "raw")
      .collect()
      .map(r => (r.getLong(0), r.getString(1).contains("\"tcp.srcport\":\"port_"), r.getString(1)))
      .sortBy(_._1)
    rows.grouped(perFile).zipWithIndex.map { case (chunk, i) =>
      InputFile(f"$prefix$i%05d.json",
        chunk.map(_._3).mkString("[", ",", "]").getBytes(UTF_8),
        chunk.head._1, chunk.last._1 + 1, chunk.count(_._2))
    }.toSeq
  }

  /** Binary pcap rotations from `CaptureBytes.syntheticPcap`: a
    * rotating HTTP / DNS / TLS / bare-TCP mix that decodes and converts
    * without errors. Frame numbers run 1..n in every file. */
  def pcapRotations(seed: Long, nFiles: Int, perFile: Int, prefix: String): Seq[InputFile] =
    (0 until nFiles).map { i =>
      // syntheticPcap mixes its Int seed into an Int packet key; keep
      // the per-file seed small enough that the key never overflows
      val fileSeed = java.lang.Math.floorMod(seed * 1000003L + i, 200000L).toInt
      InputFile(f"$prefix$i%05d.pcap",
        graft.sources.CaptureBytes.syntheticPcap(perFile, fileSeed), 1L, perFile + 1L, 0)
    }

  def write(dir: Path, files: Seq[InputFile]): Unit = {
    Files.createDirectories(dir)
    files.foreach(f => Files.write(dir.resolve(f.name), f.bytes))
  }

  /** Publish one notification: the capture lands first, then the queue
    * message naming it appears atomically (written aside, then renamed
    * in), so the source never reads a half-written payload. */
  def publish(data: Path, queue: Path, staging: Path, msgName: String,
              f: InputFile): Unit = {
    Files.write(data.resolve(f.name), f.bytes)
    val tmp = staging.resolve(msgName)
    Files.write(tmp, f.name.getBytes(UTF_8))
    Files.move(tmp, queue.resolve(msgName), StandardCopyOption.ATOMIC_MOVE)
  }
}
