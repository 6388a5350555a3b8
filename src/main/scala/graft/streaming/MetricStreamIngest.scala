package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.metric.{MetricEngine, Sample}

/** Structured Streaming ingest path (reference T1-T4, SURVEY §2.9): a stream
  * of snappy-/raw-framed remote-write protobuf payloads → decode →
  * `Dataset[Sample]` → `foreachBatch` segment-bounded sorted writes into the
  * metric engine.
  *
  * Late data policy mirrors the reference (storage.rs write check only):
  * no watermark on the sink path — any timestamp landing in an existing
  * segment is accepted as a new SST; merge-on-read dedup restores
  * correctness at query time (SURVEY §2.9 T4).
  *
  * Scale: each micro-batch produces one sorted SST per touched segment; the
  * 100 TB path swaps the single-writer engine call for per-partition writes
  * keyed by (segment, bucket(tsid)) with the same manifest commit.
  */
object MetricStreamIngest {

  /** Decode a stream of raw remote-write payloads into samples. A payload
    * that fails to decode yields NOTHING instead of throwing: an exception
    * here fails the micro-batch, the checkpoint replays the same offsets
    * on restart, and one malformed payload becomes a poison pill that
    * halts ingest forever. The HTTP edge applies the same per-payload
    * tolerance (HttpFrontend rejects bad bodies with a 400); payloads that
    * arrive through other sources get dropped-and-counted semantics via
    * the standard streaming metrics (numInputRows vs sink rows). */
  def decodePayloads(payloads: Dataset[Array[Byte]]): Dataset[Sample] = {
    import payloads.sparkSession.implicits._
    payloads.flatMap(p =>
      try RemoteWrite.decode(p)
      catch { case scala.util.control.NonFatal(_) => Nil })
  }

  /** One decoded payload on the sink path: samples plus native-histogram
    * rows already in [[MetricEngine.writeHistograms]] column shape. */
  final case class HistRow(name: String, labels: Map[String, String],
      timestamp: Long, count: Double, sum: Double, bucket_schema: Int,
      zero_threshold: Double, zero_count: Double, pos_idx: Seq[Int],
      pos_cnt: Seq[Double], neg_idx: Seq[Int], neg_cnt: Seq[Double],
      custom_values: Seq[Double])
  final case class DecodedPayload(samples: Seq[Sample], hists: Seq[HistRow])

  /** Decode payloads keeping BOTH record kinds the sink stores: samples
    * and native histograms. [[decodePayloads]] drops the histograms a
    * remote-write 2.0 sender interleaves with its float samples — on the
    * streaming path that was silent data loss (the HTTP edge ingests
    * them); same per-payload poison-pill tolerance as [[decodePayloads]]. */
  def decodeFull(payloads: Dataset[Array[Byte]]): Dataset[DecodedPayload] = {
    import payloads.sparkSession.implicits._
    payloads.map { p =>
      try {
        val (s, h) = RemoteWrite.decodeSamplesAndHistograms(p)
        DecodedPayload(s, h.map(x => HistRow(x.name, x.labels, x.timestamp,
          x.count, x.sum, x.schema, x.zeroThreshold, x.zeroCount,
          x.positiveBuckets.map(_._1), x.positiveBuckets.map(_._2),
          x.negativeBuckets.map(_._1), x.negativeBuckets.map(_._2),
          x.customValues)))
      } catch {
        case scala.util.control.NonFatal(_) => DecodedPayload(Nil, Nil)
      }
    }
  }

  /** Start the ingest query: payload stream → engine tables (scalar
    * samples AND native histograms — remote-write 2.0 interleaves both in
    * one payload). The micro-batch persists across the two writes so the
    * snappy+protobuf decode runs once per payload per trigger. An empty
    * side needs no pre-check: its key pass finds no segments, so it
    * writes nothing. */
  def start(engine: MetricEngine, payloads: Dataset[Array[Byte]],
      checkpointDir: String, triggerMs: Long = 500L): StreamingQuery =
    decodeFull(payloads).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: Dataset[DecodedPayload], _: Long) =>
        val b = batch.persist()
        try {
          import b.sparkSession.implicits._
          engine.write(b.flatMap(_.samples).toDF())
          engine.writeHistograms(b.flatMap(_.hists).toDF())
        } finally b.unpersist()
      }
      .start()

  /** Batch convenience: ingest a static set of payload blobs. */
  def ingestBatch(engine: MetricEngine, spark: SparkSession,
      payloads: Seq[Array[Byte]]): Unit = {
    import spark.implicits._
    engine.write(payloads.toDS().flatMap(RemoteWrite.decode(_)).toDF())
  }

  /** Ingest already-decoded samples (the HTTP receive path, which decodes
    * once on the handler thread to validate the body — re-decoding inside
    * the ingest would double the edge's CPU cost per payload). */
  def ingestDecoded(engine: MetricEngine, spark: SparkSession,
      samples: Seq[Sample]): Unit = {
    import spark.implicits._
    engine.write(samples.toDF())
  }

  /** Ingest already-decoded exemplars (the HTTP receive path's third
    * record kind) into the engine's durable exemplars table — column
    * shapes per [[MetricEngine.writeExemplars]]. */
  def ingestExemplars(engine: MetricEngine, spark: SparkSession,
      exemplars: Seq[RemoteWrite.Exemplar]): Unit = {
    import spark.implicits._
    if (exemplars.nonEmpty)
      engine.writeExemplars(
        exemplars.map(e => (e.name, e.seriesLabels, e.labels,
            e.timestamp, e.value))
          .toDF("name", "labels", "ex_labels", "timestamp", "value"))
  }

  /** Ingest already-decoded native histogram samples (remote-write 2.0
    * TimeSeries field 3 / 1.0 field 4) into the engine's histograms
    * table — column shapes per [[MetricEngine.writeHistograms]]. */
  def ingestHistograms(engine: MetricEngine, spark: SparkSession,
      hists: Seq[RemoteWrite.HistogramSample]): Unit = {
    import spark.implicits._
    if (hists.nonEmpty)
      engine.writeHistograms(
        hists.map(h => (h.name, h.labels, h.timestamp, h.count, h.sum,
            h.schema, h.zeroThreshold, h.zeroCount,
            h.positiveBuckets.map(_._1), h.positiveBuckets.map(_._2),
            h.negativeBuckets.map(_._1), h.negativeBuckets.map(_._2),
            h.customValues))
          .toDF("name", "labels", "timestamp", "count", "sum",
            "bucket_schema", "zero_threshold", "zero_count",
            "pos_idx", "pos_cnt", "neg_idx", "neg_cnt", "custom_values"))
  }
}
