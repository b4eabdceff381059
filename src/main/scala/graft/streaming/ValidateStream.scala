package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
import graft.exec.ValidationRunner
import graft.functions.MinhashPairs
import graft.ops.{BucketItems, Dedup}

/**
 * Structured-Streaming validation — the continuous form of the reference's
 * pull-based document stream (`src/convert.ml:456-487`: read one object,
 * validate, emit, repeat). A Piq stream's "one document at a time with
 * per-object location reset" becomes a micro-batched `readStream` with the
 * SAME compiled violation projection as the batch path: a stream is
 * validated by `ValidationRunner.validate` itself, which takes a streaming
 * DataFrame as it takes a batch one. This object adds watermarked
 * per-window pass/fail aggregation, first-seen and near-dup dedup, and the
 * violation-row sink.
 */
object ValidateStream {

  /** File-based document stream (new parquet files under `path` are the stream). */
  def fromParquetDir(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /**
   * Windowed pass/fail counts with a watermark on `tsCol` — late documents
   * beyond the watermark are dropped from the aggregate (the batch analog of
   * a closed partition in the checkpoint lineage).
   */
  def windowedSummary(validated: DataFrame, tsCol: String,
      windowDuration: String = "1 minute", watermark: String = "2 minutes"): DataFrame =
    validated
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("valid").cast("long")).as("n_valid"),
        sum((!col("valid")).cast("long")).as("n_invalid"))

  /**
   * Streaming first-seen dedup: keeps the first document per `docKey` across
   * micro-batches — the streaming form of the doc_id-uniqueness rule:
   * instead of reporting duplicates after the fact, later arrivals are
   * dropped online. Spark's own streaming deduplication does it, with keyed
   * state partitioned by `docKey` hash across executors:
   *  - no watermark on `stream`: `dropDuplicates(docKey)`, exact dedup with
   *    one state entry per key ever seen (unbounded state);
   *  - a watermark on `stream` (the caller's `withWatermark(ts, delay)`):
   *    `dropDuplicatesWithinWatermark(docKey)`, dedup within an event-time
   *    horizon. A duplicate arriving within `delay` of its key's first event
   *    is dropped; the key's state is evicted once the watermark passes that
   *    first event plus `delay`, so a later arrival counts as first-seen
   *    again; rows older than the watermark are dropped as late data.
   * Neither operator times out on processing time, so an `AvailableNow`
   * query ends once its input is drained. Checkpoints written by the
   * earlier hand-rolled keyed-state form of this operator cannot be
   * resumed: the state layout differs.
   */
  def dedupFirstSeen(stream: DataFrame, docKey: String): DataFrame =
    if (stream.schema.exists(_.metadata.contains(EventTimeWatermark.delayKey)))
      stream.dropDuplicatesWithinWatermark(docKey)
    else stream.dropDuplicates(docKey)

  /** One (bucket, id, sig) row per LSH band of one streamed document. */
  final case class BandedDoc(bucket: Long, id: Long, sig: Array[Int])
  /** A detected near-duplicate pair, ids ordered. */
  final case class NearDupHit(id_a: Long, id_b: Long, sig_sim: Double)

  /**
   * STREAMING near-dup detection — MinHash+LSH against keyed bucket state:
   * the continuous form of [[graft.ops.Dedup.minhashNearDups]] for "is this
   * incoming document a near-duplicate of anything already ingested?".
   *
   * Built from the batch pipeline's parts: the same codegen'd signature +
   * band-key projection (one stateless stage), then `flatMapGroupsWithState`
   * keyed by band bucket, whose state is the batch's capped bucket
   * ([[graft.ops.BucketItems]]). Each micro-batch adds its arrivals to the
   * bucket through the batch's capped `add`, and
   * [[graft.functions.MinhashPairs]] verifies the pairs that involve an
   * arrival: with each earlier member and with each other. The candidate
   * probability and the verify step's error are the batch's.
   *
   * The cap is the batch's one rule: a bucket that has seen more than
   * `maxBucket` rows yields no pairs; `maxBucket <= 0` means no cap. So
   * rows that arrive in one micro-batch give the batch pipeline's pairs on
   * the same rows, and a bucket holds at most `maxBucket` items. Pairs
   * emitted before a bucket overflowed stand: a stream cannot retract output.
   *
   * Notes for scale/semantics:
   *  - a pair colliding in several bands emits one hit PER band bucket —
   *    deduplicate downstream (`dropDuplicates` on (id_a, id_b) with a
   *    watermark, or in the sink);
   *  - the number of buckets is not bounded (no state is ever evicted: a
   *    processing-time timeout would keep an `AvailableNow` query planning
   *    timeout batches after its input is drained);
   *  - buckets partition across executors by key hash — the same shuffle
   *    key the batch pipeline uses. Checkpoints written with the earlier
   *    per-bucket id and signature lists cannot be resumed: the state
   *    layout differs.
   */
  def nearDupPairs(stream: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3, threshold: Double = 0.7,
      maxBucket: Int = Dedup.DefaultMaxBucket): org.apache.spark.sql.Dataset[NearDupHit] = {
    val spark = stream.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val withSig = stream
      // null/uncastable id or null text must not poison the query: a null
      // signature (or key) fails BandedDoc's non-nullable deserialization
      // and kills the whole stream — same drop the batch pipeline applies
      .where(col(textCol).isNotNull)
      .select(col(idCol).try_cast(LongType).as("id"),
        Dedup.minhashSignature(col(textCol), numHashes, shingleSize).as("sig"))
      .where(col("id").isNotNull)
    val banded = withSig
      .select(explode(array(Dedup.bandKeyCols(col("sig"), numHashes, bands): _*)).as("bucket"),
        col("id"), col("sig"))
      .as[BandedDoc]
    val verifier = MinhashPairs(LongType, numHashes, threshold)
    implicit val bucketState: Encoder[BucketItems] = Encoders.javaSerialization[BucketItems]
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketItems, NearDupHit](OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, docs: Iterator[BandedDoc], state: GroupState[BucketItems]) =>
          val bucket = state.getOption.getOrElse(new BucketItems)
          val from = bucket.size
          val toItem = InterpretedUnsafeProjection.createProjection(Seq(
            BoundReference(0, LongType, nullable = false),
            BoundReference(1, ArrayType(IntegerType, containsNull = false), nullable = false)))
          docs.foreach { d =>
            // copy: getBytes may hand out the projection's reused buffer
            bucket.add(toItem(InternalRow(d.id, UnsafeArrayData.fromPrimitiveArray(d.sig))).copy().getBytes,
              maxBucket)
          }
          state.update(bucket)
          verifier.pairs(bucket.rows, from).map(p => NearDupHit(p.getLong(0), p.getLong(1), p.getDouble(2)))
      }
  }

  /** Violation-row stream writer (append mode, exactly-once via checkpointLocation). */
  def writeViolations(validated: DataFrame, docKey: String, outPath: String,
      checkpointPath: String): DataStreamWriter[Row] =
    ValidationRunner.violationRows(validated, docKey)
      .writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
}
