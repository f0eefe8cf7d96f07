package graft.memory

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/**
 * Collective memory: the reference's hierarchical KV store with TTL
 * (reference: src/Memory/MemoryEntry.php:241-279,
 * src/Memory/MemoryEngine.php:63-79) re-expressed as a small DataFrame
 * upsert — a Delta/parquet KV table in production, refreshed per batch
 * and broadcast into enrichment joins (SURVEY.md §1.4).
 *
 * Visibility note (documented divergence, SURVEY §7.5.3): the reference
 * gives same-loop write→read visibility; per-batch upsert gives
 * next-batch visibility.
 *
 * Scale: memory is small by construction (one live row per (ns, key)),
 * so lookups broadcast; the upsert shuffles only the write stream.
 */
object MemoryStore {

  /** Canonical memory schema. */
  val columns: Seq[String] =
    Seq("namespace", "key", "value", "updated_at", "expires_at", "persistent")

  /** An empty memory table. */
  def empty(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("namespace", StringType),
        StructField("key", StringType),
        StructField("value", StringType),
        StructField("updated_at", TimestampType),
        StructField("expires_at", TimestampType),
        StructField("persistent", BooleanType))))
  }

  /**
   * Apply a batch of MemoryWrites (reference: src/Memory/MemoryWrite
   * .php:298-325 — ttl 0 = no expiry, ttl < 0 = delete now):
   * last-writer-wins per (namespace, key), expiry derived from ttl.
   * One shuffle on (namespace, key).
   *
   * `writes` schema: namespace, key, value, ttl_sec, persistent, written_at.
   */
  def applyWrites(current: DataFrame, writes: DataFrame): DataFrame = {
    val normalised = writes.select(
      col("namespace"), col("key"), col("value"),
      col("written_at").as("updated_at"),
      when(col("ttl_sec") > 0,
        timestamp_micros(unix_micros(col("written_at")) + col("ttl_sec") * 1000000L))
        .when(col("ttl_sec") < 0, col("written_at")) // expired on arrival = delete
        .otherwise(lit(null).cast("timestamp")).as("expires_at"),
      col("persistent"))
    // value tiebreak keeps last-writer-wins deterministic when two
    // writes share a timestamp (batch-ingest collisions)
    val w = Window.partitionBy("namespace", "key")
      .orderBy(col("updated_at").desc, col("value").desc)
    current.select(columns.map(col): _*)
      .unionByName(normalised)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      // drop rows already expired at their own write time (ttl < 0)
      .filter(col("expires_at").isNull || col("expires_at") > col("updated_at"))
  }

  /** Adapt routed `memory`-kind rule outputs (Sinks.outputsOf rows:
   * name = "namespace:key", vars = {value, ttl}, firedAt) into
   * [[applyWrites]] input — the glue from a rule's EmitMemoryWrite to
   * the KV table (reference: src/Scheduler.php:819-820 →
   * MemoryEngine.applyWrite). */
  def writesFromOutputs(outputs: DataFrame): DataFrame =
    outputs
      .filter(col("out_kind") === "memory")
      .select(
        // namespace = before the FIRST colon, key = everything after it
        // (keys may themselves contain colons; a last-colon split would
        // corrupt them)
        substring_index(col("name"), ":", 1).as("namespace"),
        expr("substring(name, instr(name, ':') + 1)").as("key"),
        col("vars")("value").as("value"),
        coalesce(col("vars")("ttl").cast("long"), lit(0L)).as("ttl_sec"),
        lit(false).as("persistent"),
        col("firedAt").as("written_at"))

  /** TTL purge: live entries as of `now` (reference purge cycle,
   * src/Memory/MemoryEngine.php:109-123). */
  def liveAsOf(memory: DataFrame, now: Column): DataFrame =
    memory.filter(col("expires_at").isNull || col("expires_at") > now)

  /** Persistent subset — what the reference's JsonFileBackend would
   * write to disk (reference: src/Memory/JsonFileBackend.php:181-251). */
  def persistentEntries(memory: DataFrame): DataFrame =
    memory.filter(col("persistent"))

  /** K6 persistence: write the persistent subset to the backend table
   * (the reference persists only persistent entries on engine
   * shutdown/save; src/Memory/MemoryEngine.php:126-140 +
   * JsonFileBackend.php:181-251). Overwrite — the table IS the
   * backend's current state, not a log. */
  def save(memory: DataFrame, path: String): Unit =
    // sever lineage before overwriting: the store commonly descends
    // from load() on the SAME path (load → applyWrites → save), and
    // Spark refuses to overwrite a path its plan still reads
    Materialize(persistentEntries(memory).select(columns.map(col): _*))
      .write.mode("overwrite").parquet(path)

  /**
   * K6 startup bootstrap: load the backend table, dropping entries
   * already expired at load time — the reference filters expired
   * entries when populating the store from the backend
   * (src/Memory/MemoryEngine.php:109-123 loadFromBackend) and
   * pre-warms memory before event processing begins
   * (src/Scheduler.php:794-798 memory preload before RUNNING).
   * A missing backend (first boot) yields the empty store — checked
   * via the Hadoop filesystem of `path` so hdfs:///s3a:// backends
   * behave like local ones; any OTHER read failure (corrupt files,
   * permissions, schema drift) propagates rather than silently
   * booting an empty store that the next save would persist over the
   * backend. Engine start order: `load` → optional preload writes via
   * [[applyWrites]] → start queries with the result broadcast into
   * enrichment joins.
   */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      now: Column): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) empty(spark) // no backend written yet
    else liveAsOf(spark.read.parquet(path).select(columns.map(col): _*), now)
  }

  /** Enrichment lookup (J9): broadcast the (small) memory table against
   * an event stream — map-side join, no shuffle of the event side. */
  def lookup(events: DataFrame, memory: DataFrame,
      namespace: String, keyCol: Column): DataFrame =
    events.join(
      broadcast(
        memory.filter(col("namespace") === namespace)
          .select(col("key").as("__mem_key"), col("value").as("memory_value"))),
      keyCol === col("__mem_key"), "left")
      .drop("__mem_key")

  /**
   * J9 LIVE — streaming memory enrichment: every micro-batch is joined
   * against the memory backend table as it exists AT THAT TRIGGER —
   * [[load]] runs inside the batch function, so each trigger re-lists
   * and re-reads the backend with a fresh TTL filter (a static
   * DataFrame built once outside the stream would freeze its file
   * listing at plan time and never see later writes). The reference
   * gives rules per-event read access to live memory (reference:
   * src/Memory/MemoryInterface.php:204-222,
   * src/StateMachine/AEventProcessor.php:147-158); the micro-batch
   * analogue has ONE-BATCH visibility lag (documented divergence,
   * SURVEY §7.5.3): a write persisted during batch N is visible to the
   * lookup from batch N+1 on, never to its own batch.
   *
   * Scale: the memory table stays broadcast-sized by construction (one
   * live row per (namespace, key)), so the per-trigger cost is one
   * small read + a map-side broadcast join — the event side never
   * shuffles.
   */
  def enrichStream(events: DataFrame, memoryPath: String, namespace: String,
      keyCol: Column, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val mem = load(batch.sparkSession, memoryPath, current_timestamp())
        sink(lookup(batch, mem, namespace, keyCol), batchId)
        ()
      }
      .start()
}
