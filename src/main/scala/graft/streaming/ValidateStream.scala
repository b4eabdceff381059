package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.compile.ValidationPlan
import graft.exec.ValidationRunner

/**
 * Structured-Streaming validation — the continuous form of the reference's
 * pull-based document stream (`src/convert.ml:456-487`: read one object,
 * validate, emit, repeat). A Piq stream's "one document at a time with
 * per-object location reset" becomes a micro-batched `readStream` with the
 * SAME compiled violation projection as the batch path (one plan, two
 * runners), plus watermarked per-window pass/fail aggregation.
 */
object ValidateStream {

  /** File-based document stream (new parquet files under `path` are the stream). */
  def fromParquetDir(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** The same narrow validate projection as the batch runner — stateless. */
  def validate(stream: DataFrame, plan: ValidationPlan): DataFrame =
    ValidationRunner.validate(stream, plan)

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

  /** No TTL → NoTimeout: a processing-time timeout keeps planning
    * timeout-firing micro-batches after the data is exhausted, so an
    * `AvailableNow` query would never terminate. */
  private def stateTimeout(stateTtl: Option[java.time.Duration]): GroupStateTimeout =
    if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
    else GroupStateTimeout.NoTimeout()

  /**
   * Streaming first-seen dedup: keeps the first document per `doc_id` across
   * micro-batches via keyed state (`KeyValueGroupedDataset.flatMapGroupsWithState`)
   * — the streaming form of the doc_id-uniqueness rule: instead of reporting
   * duplicates after the fact, later arrivals are dropped (or routed) online.
   * State is one boolean per key, partitioned by doc_id hash across
   * executors. At 10^12 keys unbounded state OOMs the state store, so
   * `stateTtl` bounds it: a key idle longer than the TTL is evicted (its
   * next arrival is treated as first-seen again — the standard
   * dedup-within-horizon trade; None = exact dedup, unbounded state).
   */
  def dedupFirstSeen(stream: DataFrame, docKey: String,
      stateTtl: Option[java.time.Duration] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode => OM}
    import org.apache.spark.sql.{Encoders, Row}
    implicit val rowEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(stream.schema)
    implicit val strEnc = Encoders.STRING
    implicit val boolEnc = Encoders.scalaBoolean
    stream
      .groupByKey((r: Row) => r.getAs[String](docKey))
      .flatMapGroupsWithState[Boolean, Row](OM.Append(), stateTimeout(stateTtl)) {
        (_: String, rows: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove() // TTL eviction: key forgotten, state bounded
            Iterator.empty
          } else if (state.exists) {
            stateTtl.foreach(t => state.setTimeoutDuration(t.toMillis)) // refresh
            Iterator.empty // key already emitted in a prior batch
          } else {
            state.update(true)
            stateTtl.foreach(t => state.setTimeoutDuration(t.toMillis))
            rows.take(1) // first occurrence within this batch wins
          }
      }
  }

  /** One (bucket, id, sig) row per LSH band of one streamed document. */
  final case class BandedDoc(bucket: Long, id: Long, sig: Array[Int])
  /** A detected near-duplicate: `id_b` arrived while `id_a` (or an earlier
    * batch-mate) was already in the bucket's state; ids ordered. */
  final case class NearDupHit(id_a: Long, id_b: Long, sig_sim: Double)
  /** Per-bucket keyed state: the signatures seen in this bucket (bounded). */
  final case class BucketState(ids: List[Long], sigs: List[Array[Int]])

  /**
   * STREAMING near-dup detection — MinHash+LSH against keyed bucket state:
   * the continuous form of [[graft.ops.Dedup.minhashNearDups]] for "is this
   * incoming document a near-duplicate of anything already ingested?".
   *
   * Same codegen'd signature + band-key projection as the batch pipeline
   * (one stateless stage), then `flatMapGroupsWithState` keyed by band
   * bucket: each arrival is signature-verified against the bucket's stored
   * members (the per-bucket quadratic is bounded by `maxBucket`, exactly
   * like the batch cap) and emitted as a [[NearDupHit]] when the agreeing
   * fraction clears `threshold`; then it joins the state. In-batch pairs
   * are caught too (members verify against earlier batch-mates).
   *
   * Notes for scale/semantics:
   *  - a pair colliding in several bands emits one hit PER band bucket —
   *    deduplicate downstream (`dropDuplicates` on (id_a, id_b) with a
   *    watermark, or in the sink);
   *  - state is (maxBucket × sig) bytes per active bucket; `stateTtl`
   *    bounds the horizon like [[dedupFirstSeen]] (None = exact, unbounded);
   *  - buckets partition across executors by key hash — the same shuffle
   *    key the batch groupBy uses.
   */
  def nearDupPairs(stream: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 1000,
      stateTtl: Option[java.time.Duration] = None): org.apache.spark.sql.Dataset[NearDupHit] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode => OM}
    import org.apache.spark.sql.types.LongType
    val spark = stream.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val withSig = stream
      // null/uncastable id or null text must not poison the query: a null
      // signature (or key) fails BandedDoc's non-nullable deserialization
      // and kills the whole stream — same drop the batch pipeline applies
      .where(col(textCol).isNotNull)
      .select(col(idCol).try_cast(LongType).as("id"),
        graft.ops.Dedup.minhashSignature(col(textCol), numHashes, shingleSize).as("sig"))
      .where(col("id").isNotNull)
    val banded = withSig
      .select(explode(array(
          graft.ops.Dedup.bandKeyCols(col("sig"), numHashes, bands): _*)).as("bucket"),
        col("id"), col("sig"))
      .as[BandedDoc]
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OM.Append(), stateTimeout(stateTtl)) {
        (_: Long, rows: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(BucketState(Nil, Nil))
            val hits = scala.collection.mutable.ArrayBuffer[NearDupHit]()
            rows.foreach { d =>
              if (!st.ids.contains(d.id)) {
                var ids = st.ids; var sigs = st.sigs
                while (ids.nonEmpty) {
                  val oid = ids.head; val osig = sigs.head
                  var eq = 0; var i = 0
                  while (i < numHashes) { if (osig(i) == d.sig(i)) eq += 1; i += 1 }
                  val sim = eq.toDouble / numHashes
                  if (sim >= threshold)
                    hits += NearDupHit(math.min(oid, d.id), math.max(oid, d.id), sim)
                  ids = ids.tail; sigs = sigs.tail
                }
                if (st.ids.size < maxBucket)
                  st = BucketState(d.id :: st.ids, d.sig :: st.sigs)
              }
            }
            state.update(st)
            stateTtl.foreach(t => state.setTimeoutDuration(t.toMillis))
            hits.iterator
          }
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
