// Does the UDM projection compile once per JVM or once per run?
// Runs UdmTransform.transform PROBE_RUNS times over the same seeded
// tshark-JSON packets into a noop sink and prints, for each run, wall
// time, JVM CPU time and the number of Janino compiles
// (org.apache.spark.metrics.source.CodegenMetrics). Run 1 pays the
// first compile; a later run that still compiles means some per-run
// value (now, batch time, a run id) reached the generated Java source
// as a Long, Int or timestamp literal.
//   PROBE_PACKETS=40000 PROBE_RUNS=5 PROBE_SEED=1 \
//   $SPARK_HOME/bin/spark-shell --master local[4] \
//     --conf spark.ui.enabled=false --conf spark.sql.session.timeZone=UTC \
//     --driver-class-path target/scala-2.13/classes -i tools/codegen_probe.scala
// ASCII-only on purpose.
try {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.functions._
  val n = sys.env.getOrElse("PROBE_PACKETS", "40000").toLong
  val runs = sys.env.getOrElse("PROBE_RUNS", "5").toInt
  val seed = sys.env.getOrElse("PROBE_SEED", "1").toLong
  val types = Seq("click", "view", "purchase", "signup", "error")
  val h = (salt: Int) => pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1L << 40))
  val events = spark.range(0, n, 1, 4).select(
    col("id").as("event_id"),
    timestamp_seconds(lit(1704067200L) + h(1) % lit(30L * 86400)).as("ts"),
    (h(2) % lit(10000L)).as("user_id"),
    element_at(typedlit(types), (h(3) % lit(types.size.toLong)).cast("int") + 1).as("event_type"))
  // packets are built once, outside the timed runs
  val packets = graft.udm.SynthPackets.fromEvents(events, widen = false)
    .select(lit("probe").as("source_file"), col("raw"))
    .localCheckpoint(eager = true)
  val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  println(s"[probe] packets=$n runs=$runs seed=$seed")
  (1 to runs).foreach { i =>
    val (c0, cpu0, t0) = (compiles(), os.getProcessCpuTime, System.nanoTime())
    graft.udm.UdmTransform.transform(packets, "raw")
      .write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    println(f"[probe] run $i wall=$wall%.2f s cpu=$cpu%.2f s compiles=${compiles() - c0}")
  }
} catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
sys.exit(0)
