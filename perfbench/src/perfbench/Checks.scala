package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Sink output read back from disk, and the correctness gate over it.
  *
  * The gate, per window:
  *  - P14: every input packet yields exactly one UDM event in `events`
  *    or `_errors`. Events are matched to packets by the frame number
  *    the event description repeats, per batch: a batch's rows must be
  *    exactly the frame numbers of the files that batch committed.
  *  - every file has exactly one per-file count row (`_notifications`,
  *    or the counts `BatchPipeline.run` returns) whose packet and error
  *    counts equal the generator's;
  *  - for notify windows, every published file has exactly one
  *    `_latency` row.
  * A packet without exactly one event and a file failing a row check
  * each count once in `failed`; `attempted` is packets plus files. */
object Checks {

  final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
                           eventsRows: Long, errorsRows: Long, errorEvents: Long,
                           decodeErrors: Long, bytesOut: Long, filesOut: Long) {
    def +(o: Outcome): Outcome = Outcome(attempted + o.attempted, failed + o.failed,
      problems ++ o.problems, eventsRows + o.eventsRows, errorsRows + o.errorsRows,
      errorEvents + o.errorEvents, decodeErrors + o.decodeErrors,
      bytesOut + o.bytesOut, filesOut + o.filesOut)
  }

  /** A per-file count row: packets processed and packet errors. */
  final case class Counts(packets: Long, errors: Long)

  /** A `_latency` row: which batch committed the file, and when. */
  final case class Commit(batchId: Long, commitMs: Long)

  private val frameNo = java.util.regex.Pattern.compile("Frame No: (\\d+)")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[perfbench] def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Entries of a directory (none if it does not exist); the listing is
    * closed at once, since the drain polls these directories. */
  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }

  /** Data files of one sink directory (Spark's `part-*` files; the
    * `_SUCCESS` markers and `.crc` side files are not output). */
  private def parts(dir: Path): Seq[Path] =
    list(dir).filter(p => Files.isRegularFile(p) && baseName(p.toString).startsWith("part-"))
      .sortBy(_.toString)

  /** `root/batch_id=N` subdirectories by batch id; a root without them
    * (the batch pipeline's layout) is one batch with id -1. */
  private def batchDirs(root: Path): Map[Long, Path] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val subs = list(root)
        .filter(p => Files.isDirectory(p) && baseName(p.toString).startsWith("batch_id="))
        .map(p => baseName(p.toString).stripPrefix("batch_id=").toLong -> p).toMap
      if (subs.nonEmpty) subs else Map(-1L -> root)
    }

  private def lines(p: Path): Iterator[String] =
    new String(Files.readAllBytes(p), UTF_8).linesIterator.filter(_.nonEmpty)

  private def jsonRows(root: Path): Seq[(Long, com.fasterxml.jackson.databind.JsonNode)] =
    batchDirs(root).toSeq.flatMap { case (b, d) =>
      parts(d).flatMap(lines).map(l => b -> mapper.readTree(l))
    }

  /** `_latency` rows of a notify output: source file → commits. */
  def commits(out: Path): Map[String, Seq[Commit]] =
    jsonRows(out.resolve("_latency")).map { case (b, n) =>
      n.get("source_file").asText() -> Commit(b, n.get("commit_ms").asLong())
    }.groupMap(_._1)(_._2)

  /** `_notifications` rows of a notify output: file name → counts. */
  def notifications(out: Path): Map[String, Seq[Counts]] =
    jsonRows(out.resolve("_notifications")).map { case (_, n) =>
      baseName(n.get("file").asText()) ->
        Counts(n.get("packets_processed").asLong(), n.get("packet_errors").asLong())
    }.groupMap(_._1)(_._2)

  /** Number of committed latency rows (polled while a window drains). */
  def latencyRows(out: Path): Long =
    batchDirs(out.resolve("_latency")).values.toSeq.flatMap(parts).map(lines(_).size.toLong).sum

  /** Check one window's output.
    *  - `files`: every file the window offered;
    *  - `batchOf`: the batch that committed each file (the notify
    *    pipeline's `_latency` rows; for the batch pipeline, -1 for all);
    *  - `counts`: the per-file count rows the pipeline produced;
    *  - `commits`: `_latency` rows, checked when given. */
  def check(label: String, out: Path, files: Seq[InputFile],
            batchOf: Map[String, Long], counts: Map[String, Seq[Counts]],
            commits: Option[Map[String, Seq[Commit]]]): Outcome = {
    val problems = mutable.ArrayBuffer[String]()
    def problem(s: String): Unit = problems += s"$label: $s"

    // observed frame-number histogram per batch, over events ∪ _errors
    val observed = mutable.HashMap[Long, mutable.HashMap[Long, Int]]()
    var eventsRows, errorsRows, errorEvents, decodeErrors, bytesOut, filesOut = 0L
    var unattributed = 0L
    for (sink <- Seq("events", "_errors"); (b, d) <- batchDirs(out.resolve(sink));
         p <- parts(d)) {
      filesOut += 1; bytesOut += Files.size(p)
      val hist = observed.getOrElseUpdate(b, mutable.HashMap[Long, Int]())
      lines(p).foreach { l =>
        if (sink == "events") eventsRows += 1 else errorsRows += 1
        if (l.contains("PacketProcessingError")) errorEvents += 1
        if (l.contains("GRAFT_DECODE_ERROR")) decodeErrors += 1
        val m = frameNo.matcher(l)
        if (m.find()) { val k = m.group(1).toLong; hist(k) = hist.getOrElse(k, 0) + 1 }
        else unattributed += 1
      }
    }
    if (unattributed > 0) problem(s"$unattributed output row(s) name no packet")

    // expected histogram per batch from the files each batch committed
    val expected = mutable.HashMap[Long, mutable.HashMap[Long, Int]]()
    var uncommittedPackets = 0L
    files.foreach { f =>
      batchOf.get(f.name) match {
        case Some(b) =>
          val hist = expected.getOrElseUpdate(b, mutable.HashMap[Long, Int]())
          var k = f.lo
          while (k < f.hi) { hist(k) = hist.getOrElse(k, 0) + 1; k += 1 }
        case None => uncommittedPackets += f.packets
      }
    }
    if (uncommittedPackets > 0) problem(s"$uncommittedPackets packet(s) in uncommitted files")
    var badPackets = unattributed + uncommittedPackets
    (observed.keySet ++ expected.keySet).foreach { b =>
      val o = observed.getOrElse(b, mutable.HashMap.empty[Long, Int])
      val e = expected.getOrElse(b, mutable.HashMap.empty[Long, Int])
      val diff = (o.keySet ++ e.keySet).iterator
        .map(k => math.abs(o.getOrElse(k, 0) - e.getOrElse(k, 0)).toLong).sum
      if (diff > 0) problem(s"batch $b: $diff packet(s) without exactly one event")
      badPackets += diff
    }

    var badFiles = 0L
    files.foreach { f =>
      val fileProblems = mutable.ArrayBuffer[String]()
      counts.getOrElse(f.name, Nil) match {
        case Seq(Counts(p, e)) if p == f.packets && e == f.errors => ()
        case Seq(c) => fileProblems += s"counts $c, generator (${f.packets}, ${f.errors})"
        case rows => fileProblems += s"${rows.size} count rows"
      }
      commits.foreach(c => c.getOrElse(f.name, Nil).size match {
        case 1 => ()
        case n => fileProblems += s"$n _latency rows"
      })
      if (fileProblems.nonEmpty) {
        badFiles += 1
        if (badFiles <= 5) problem(s"file ${f.name}: ${fileProblems.mkString("; ")}")
      }
    }
    if (badFiles > 5) problem(s"${badFiles - 5} more file(s) failed their row checks")

    Outcome(files.map(_.packets.toLong).sum + files.size, badPackets + badFiles,
      problems.toSeq, eventsRows, errorsRows, errorEvents, decodeErrors, bytesOut, filesOut)
  }
}
