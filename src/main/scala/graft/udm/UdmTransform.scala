package graft.udm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end pcap-JSON → UDM transform (the reference's entry point C,
  * processor/json2udm_cloud.py:319–362) as DataFrame transforms.
  *
  * The engine's ingest format is tshark `-T json` output (one JSON array
  * of packet objects per capture file), exactly what the reference's
  * processor consumes after its tshark subprocess hop
  * (processor/processor_app.py:149–155). Spark reads those files
  * distributed; the per-packet projection is narrow (no shuffle), so the
  * plan scales linearly with input — the 100 TB path is scan → codegen'd
  * projection → write, with only the per-file metric aggregation
  * shuffling (by file name, i.e. ~#files keys).
  */
object UdmTransform {

  /** Read tshark JSON capture files (JSON array per file → multiLine) as
    * one row per packet, tagging each with its source file (the
    * reference's unit of work, processor_app.py:136–179). */
  def readPackets(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read
      .schema(PacketSchemas.packetSchema)
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .json(path)
      .withColumn("source_file", input_file_name())

  /** One UDM event per raw packet JSON string — the P14 invariant. */
  def events(raw: Column, fallbackTs: Column = current_timestamp()): Column =
    UdmExpressions.udmEvent(raw, fallbackTs)

  /** Serialize with empty-section omission (json2udm_cloud.py:267–291):
    * nulls live inside the plan; omission is a serialization concern.
    * Native codegen'd serializer, byte-identical to
    * `to_json(..., ignoreNullFields=true)` (spec-enforced) but not
    * CodegenFallback — the sink projection stays in the fused span. */
  def toJson(event: Column): Column =
    graft.functions.StructToJsonExpr(event)

  /** True for an event from the P14 conversion-error branch — what the
    * reference counts as a packet error (json2udm_cloud.py:344–348). */
  def isPacketError(event: Column): Column =
    event.getField("metadata").getField("product_name").contains("PacketProcessingError")

  /** A1/A2 — per-file packet + error counts (json2udm_cloud.py:325–348,
    * the `UDM_PACKETS_PROCESSED` / `UDM_PACKET_ERRORS` log lines).
    * `packetError` defaults to [[isPacketError]] of an `event` column;
    * frames that carry only the flag pass it instead.
    * Map-side partial aggregation makes this cheap at any scale: the
    * shuffle key cardinality is the number of files. */
  def perFileCounts(udm: DataFrame, fileCol: String = "source_file",
                    packetError: Column = isPacketError(col("event"))): DataFrame =
    udm.groupBy(col(fileCol).as("file"))
      .agg(
        count(lit(1)).as("packets_processed"),
        sum(when(packetError, 1L).otherwise(0L)).as("packet_errors"))

  /** Full batch pipeline: raw packet JSON strings column → UDM events
    * DataFrame with serialized JSON alongside the typed struct.
    *
    * The parse is the codegen'd native [[graft.functions.UdmPacketParseExpr]]
    * (one streaming Jackson pass, `tls.record` object-or-array
    * normalized in the parser), projected into its own column so each
    * packet is parsed once however many fields reference it. Unlike
    * `from_json` (CodegenFallback) it does not break whole-stage
    * codegen, so scan → parse → event-struct fuse into one stage. */
  def transform(packets: DataFrame, rawCol: String,
                fallbackTs: Column = current_timestamp()): DataFrame = {
    import UdmExpressions.{f, sectionValues}
    val l = col("__parsed").getField("_source").getField("layers")
    packets
      .withColumn("__parsed", graft.functions.UdmPacketParseExpr(col(rawCol)))
      // hot multiply-referenced sub-expressions get their own columns so
      // each is computed once per row regardless of downstream fan-out
      .withColumn("__tls_recs", f(f(l, "tls"), "tls.record"))
      .withColumn("__qnames", sectionValues(f(f(l, "dns"), "Queries"), "dns.qry.name"))
      .withColumn("__ttls", sectionValues(f(f(l, "dns"), "Answers"), "dns.resp.ttl"))
      .withColumn("event_struct", UdmExpressions.udmEventPre(
        l, try_element_at(col("__tls_recs"), lit(1)),
        col("__qnames"), col("__ttls"), col(rawCol), fallbackTs))
      .drop("__parsed", "__tls_recs", "__qnames", "__ttls")
      .withColumn("udm_json", toJson(col("event_struct")))
  }
}
