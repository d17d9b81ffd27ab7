package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.util.Staged
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.DecimalType

/** The real production sink path the gated streaming queries (memory
  * sinks, for the oracle round-trip) don't exercise: a checkpointed
  * FILE sink. Two contracts:
  *
  *  1. the file sink emits exactly the rows the memory sink emits for
  *     the same plan (sink choice must not change semantics);
  *  2. restarting the stream over the SAME checkpoint with no new data
  *     writes NOTHING new — the offset log + file-sink manifest give
  *     end-to-end exactly-once across restarts (the property a 100 TB
  *     deployment actually relies on; re-run batches must not
  *     re-append).
  */
class StreamingSinkSpec extends SparkSuite {

  private val dec2 = DecimalType(18, 2)

  test("checkpointed parquet sink: memory-sink parity + idempotent restart") {
    val src = Paths.get("/root/testdata/sf0.001/events.parquet")
    assume(Files.exists(src))
    Staged.scratch(spark, "sinkspec") { root =>
      try {
        val stage = Staged.dir(root, "src")
        val ckpt = Staged.dir(root, "ckpt")
        val out = Staged.dir(root, "out")
        Files.copy(src, stage.resolve("events.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        val schema = spark.read.parquet(src.toString).schema
        def agg = spark.readStream.schema(schema).parquet(stage.toString)
          .withColumn("event_time",
            timestamp_micros(graft.queries.Tables.tsUs(schema("ts").dataType)))
          .withWatermark("event_time", "10 minutes")
          .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(dec2)).as("sv"))
          .select(unix_micros(col("window.start")).as("window_us"),
            col("event_type"), col("n_events"),
            col("sv").cast("double").as("sum_value"))
        def runOnce(): Unit = {
          val q = agg.writeStream.format("parquet")
            .option("path", out.toString)
            .option("checkpointLocation", ckpt.toString)
            .outputMode(OutputMode.Append)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        runOnce()
        val first = spark.read.parquet(out.toString)
          .orderBy("window_us", "event_type").collect()
        assert(first.nonEmpty, "file sink emitted no closed windows")

        // parity with the gated memory-sink plan (q59's construction)
        val mem = SparkEntry.queries("q59_stream_window")(
          spark, "/root/testdata/sf0.001")
          .orderBy("window_us", "event_type").collect()
        assert(first.map(_.toSeq).toSeq === mem.map(_.toSeq).toSeq,
          "file sink and memory sink emitted different rows for the same plan")

        // idempotent restart: same checkpoint, no new source files — the
        // offset log replays nothing and the manifest grows by nothing
        runOnce()
        val second = spark.read.parquet(out.toString).count()
        assert(second === first.length.toLong,
          s"restart re-appended rows: ${first.length} -> $second")
        spark.emptyDataFrame
      } finally org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
  }
}
