package graft.streaming

import graft.functions.Debezium
import graft.state.Snapshot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming CDC pipeline (SURVEY.md §2.10, §3.3).
  *
  * The reference's pipeline is: SQLite trigger → change_log → poll loop →
  * Kafka (Debezium JSON) → consumer → op-dispatch upsert/delete into the
  * warehouse (demo_sqlite_cdc/01_unit_test/05-07, 02_benchmark/02_e2e_cdc.py).
  * Spark-native, the trigger+poll pair *is* the source (offsets replace the
  * `change_id > last_id` cursor), the broker hop is `readStream.format
  * ("kafka")`, and the sink loop is an idempotent `foreachBatch` merge:
  *
  *   kafka/file source → from_json(debezium) → foreachBatch(mergeCdcBatch)
  *
  * Exactly-once-ish semantics come from source offsets + idempotent keyed
  * merge (the reference's upsert achieves the same:
  * 06_postgres_cdc_sink.py:41-64). Recovery after an outage is just offset
  * resume — the replay-ordering logic of 03_recovery.py collapses into the
  * source; [[replayStats]] reproduces its rate metrics.
  *
  * Scale: the only shuffle per micro-batch is the per-key reduction
  * (last-writer-wins window); the snapshot merge is an anti-join on the
  * key, broadcast when the batch is chunk-sized. State never lives in the
  * driver. With a transactional table format the merge maps to MERGE INTO.
  * The merge's union keeps every snapshot partition and appends the
  * batch's upserts as partitions of their own, so a plain checkpoint
  * would gain a partition per micro-batch and every scan of the snapshot
  * (the merge's anti-join, each chain-count level) would run one more
  * task per batch. [[SnapshotHandle]] settles each merge through
  * [[graft.state.Snapshot.settle]] instead: a narrow coalesce to
  * max(previous partition count, default parallelism), then the
  * checkpoint, so the per-batch cost stays constant.
  */
object CdcStream {

  /** Parse a stream (or batch) of Debezium JSON strings in `value` into
    * flat CDC columns (op, ts_ms, id, name). Works unchanged on streaming
    * and batch DataFrames — same plan, micro-batched.
    */
  def parse(values: DataFrame): DataFrame = Debezium.flatten(values, "value")

  /** Kafka CDC source — the broker hop of the reference pipeline
    * (demo_sqlite_cdc/01_unit_test/06_postgres_cdc_sink.py:76-90:
    * KafkaConsumer on the topic, earliest offset, JSON value decode).
    * Emits the envelope string plus the source `offset` (the lastPerKey
    * tiebreak) and the broker receive stamp (the middle leg of the
    * 3-segment latency in [[latencySegments]]). Requires the
    * spark-sql-kafka connector on the classpath at runtime.
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(col("value").cast("string").as("value"), col("offset"),
        unix_millis(col("timestamp")).as("broker_ts_ms"))

  /** Kafka CDC sink — the producer half
    * (demo_sqlite_cdc/01_unit_test/07_test_kafka_producer.py:39-74:
    * KafkaProducer sending Debezium JSON values). `envelopes` must carry
    * the JSON string in `value`.
    */
  def toKafka(envelopes: DataFrame, bootstrap: String, topic: String,
      checkpointDir: String): StreamingQuery =
    envelopes.select(col("value").cast("string").as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Config-selected CDC source (graft.GraftConfig.cdcSource): "kafka" →
    * the broker; "file" → a tailed directory of envelope lines (the
    * reference's offline buffer file, 03_recovery.py); "memory" → caller
    * supplies a MemoryStream DataFrame via `fallback` (test harness).
    * Every branch yields the same `value: string` contract into [[parse]],
    * so the pipeline downstream of the source is transport-agnostic.
    */
  def source(spark: SparkSession, cfg: graft.GraftConfig,
      fallback: => DataFrame = null): DataFrame = cfg.cdcSource match {
    case "kafka" => fromKafka(spark, cfg.kafkaBootstrap, cfg.kafkaTopic)
    case "file" =>
      require(cfg.cdcSourcePath.nonEmpty, "file source needs cdc_source_path")
      val reader = spark.readStream
      if (cfg.cdcMaxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", cfg.cdcMaxFilesPerTrigger)
      reader.text(cfg.cdcSourcePath)
    case "memory" =>
      require(fallback != null, "memory source needs a caller-supplied stream")
      fallback
    case other => throw new IllegalArgumentException(
      s"unknown cdc_source '$other' — valid values: kafka, file, memory")
  }

  /** Reduce a CDC micro-batch to its final per-key effect, keeping the
    * delete markers (unlike Snapshot.applyCdc, the merge needs them).
    *
    * Equal-ts_ms events for one key must not resolve nondeterministically
    * (the reference applies events in change_id order; a bare ts_ms window
    * could apply a delete instead of the later upsert). Tiebreak on the
    * source offset when the source carries one (kafka), else on a
    * deterministic hash of the full event — matching Snapshot.applyCdc's
    * multi-column orderCols.
    */
  def lastPerKey(batch: DataFrame): DataFrame = {
    val tiebreak =
      if (batch.columns.contains("offset")) col("offset").cast("long")
      else if (batch.columns.contains("seq")) col("seq").cast("long")
      else xxhash64(struct(batch.columns.toIndexedSeq.map(col): _*))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("ts_ms").desc, tiebreak.desc)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Idempotent keyed merge of one CDC batch into the snapshot:
    * c/r/u ⇒ upsert, d ⇒ delete (reference op dispatch:
    * demo_sqlite_cdc/01_unit_test/06_postgres_cdc_sink.py:32-64).
    */
  def mergeCdcBatch(snapshot: DataFrame, batch: DataFrame): DataFrame = {
    val last = lastPerKey(batch)
    val surviving = snapshot.join(last.select("id"), Seq("id"), "left_anti")
    val upserts = last.filter(col("op") =!= "d")
      .select(col("id"), col("name"))
    surviving.unionByName(upserts)
  }

  /** Start the sink: micro-batch merge into a driver-held snapshot handle
    * (tests / local mode). In production the body writes to a
    * transactional table instead; the merge plan is identical.
    */
  def start(parsed: DataFrame, state: SnapshotHandle,
      triggerMs: Long = 0L): StreamingQuery = {
    val writer = parsed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state.set(mergeCdcBatch(state.get(batch.sparkSession), batch))
      }
    (if (triggerMs > 0) writer.trigger(Trigger.ProcessingTime(triggerMs))
     else writer).start()
  }

  /** Snapshot holder for the local/foreachBatch sink. Each merge is settled
    * by [[graft.state.Snapshot.settle]], so neither the plan nor the
    * partition count grows across micro-batches.
    */
  final class SnapshotHandle(spark: SparkSession) {
    import org.apache.spark.sql.types.StructType
    private val schema = StructType.fromDDL(Debezium.rowDdl)
    @volatile private var current: DataFrame =
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    def get(s: SparkSession): DataFrame = current
    def set(df: DataFrame): Unit = current = Snapshot.settle(df, current)
    def snapshot: DataFrame = current
  }

  /** 3-segment latency columns (reference: 02_e2e_cdc.py:89-135 measures
    * local→broker, broker→apply, end-to-end). `ts_ms` is the capture time
    * carried in the envelope; broker/apply stamps come from the engine.
    */
  def latencySegments(parsed: DataFrame, brokerTsCol: String = "broker_ts_ms")
      : DataFrame = {
    val applyTs = unix_millis(current_timestamp())
    parsed
      .withColumn("lat_capture_to_broker",
        col(brokerTsCol) - col("ts_ms"))
      .withColumn("lat_broker_to_apply", applyTs - col(brokerTsCol))
      .withColumn("lat_e2e", applyTs - col("ts_ms"))
  }

  /** Recovery replay metrics (reference: 03_recovery.py:73-117 — backlog
    * count, ordered replay, events/sec). Replay order is `id` ascending,
    * batches of `batchSize`; output is one row per replay batch with its
    * id range and size — the driver times the loop to get rates.
    */
  def replayStats(buffer: DataFrame, batchSize: Int): DataFrame =
    buffer
      .withColumn("batch_no",
        floor((row_number().over(Window.orderBy(col("id"))) - 1) / batchSize))
      .groupBy(col("batch_no"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("from_id"),
        max(col("id")).as("to_id"))
      .orderBy(col("batch_no"))

  /** Scale twin of [[replayStats]]: the un-partitioned `row_number` window
    * above pulls the whole backlog through ONE task — fine for the
    * small-scale oracle, a single-executor bottleneck at a 100 TB backlog.
    * Here the batch key is arithmetic — `floor((id - min_id) / batchSize)`
    * — so the only shuffle is the batch_no aggregation and every partition
    * computes its keys independently (min_id is a 1-row broadcast). Batches
    * are id-range slabs rather than exact-size chunks when the id space has
    * gaps; replay order and coverage are identical.
    */
  def replayStatsSharded(buffer: DataFrame, batchSize: Int): DataFrame = {
    val lo = buffer.agg(min(col("id")).as("__min_id"))
    buffer.crossJoin(broadcast(lo))
      .withColumn("batch_no",
        floor((col("id") - col("__min_id")) / batchSize))
      .groupBy(col("batch_no"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("from_id"),
        max(col("id")).as("to_id"))
      .orderBy(col("batch_no"))
  }

  /** Custom keyed state via flatMapGroupsWithState: in-stream exactly-once
    * dedup on (id, ts_ms) — drops CDC events already seen for a key, e.g.
    * when an at-least-once source replays a producer batch after the
    * reference's offline-recovery path (03_recovery.py re-sends buffered
    * rows). State per key is only the high-water ts_ms mark, so state size
    * is O(keys) regardless of stream length; the GroupState timeout would
    * bound it further in production.
    */
  def statefulDedup(parsed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Dataset[(String, Long, Long, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed.select("op", "ts_ms", "id", "name")
      .as[(String, Long, Long, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, events: Iterator[(String, Long, Long, String)],
         state: GroupState[Long]) =>
          val highWater = state.getOption.getOrElse(Long.MinValue)
          // Dedup against state AND within the batch: replayed duplicates
          // can land in the same micro-batch, where the high-water filter
          // alone would pass both copies.
          val fresh = events.filter(_._2 > highWater).toSeq
            .sortBy(_._2).distinctBy(_._2)
          if (fresh.nonEmpty) state.update(fresh.map(_._2).max)
          fresh.iterator
      }
  }

  /** Processing-time tumbling throughput (events/sec parity metric —
    * the reference has no event-time windows; ordering is by monotonic id,
    * so a tumbling window on the carried timestamp suffices and late data
    * does not occur in-model).
    */
  def windowedThroughput(parsed: DataFrame, windowSec: Int = 5): DataFrame =
    parsed
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("op"))
      .agg(count(lit(1)).as("n"))
}
