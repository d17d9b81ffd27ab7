package graft

import graft.streaming.StreamingQueries
import graft.util.Staged
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Pins the `dropDuplicatesWithinWatermark` semantics q178's oracle
  * depends on, with a hand-built two-batch stream (maxFilesPerTrigger=1,
  * mtime-ordered files):
  *
  *  - a key's state expires at first_event_time + delay;
  *  - after batch 1 the watermark is max(batch-1 event time) − delay
  *    (whole-ms floor — EventTimeStatsAccum tracks ms);
  *  - a batch-2 duplicate is RE-EMITTED iff its key's state expired,
  *    i.e. iff first_time + delay <= watermark (LessThanOrEqual — the
  *    boundary key below fails if the operator ever flips to strict);
  *  - a batch-2 duplicate whose state is live is suppressed; keys new
  *    in batch 2 emit once.
  *
  * q178's oracle replays exactly this rule in SQL; if a Spark upgrade
  * changes the operator's eviction comparison, THIS spec (not the
  * fixture-dependent gate) is what fails with a readable diff.
  */
class StreamDedupTtlSpec extends SparkSuite {

  test("TTL dedup: expiry boundary is first_time + delay <= watermark") {
    val sink = "graft_ttlspec_sink"
    val counts = Staged.scratch(spark, "ttlspec") { root =>
      val stage = Staged.dir(root, "src")
      try {
        import spark.implicits._
        def writeHalf(rows: Seq[(String, Long)], name: String,
            mtimeMs: Long): Unit =
          StreamingQueries.landFile(rows.toDF("k", "sec")
              .select(col("k"), timestamp_seconds(col("sec")).as("event_time")),
            stage.resolve(name), Some(mtimeMs))
        // batch 1: watermark after it = 1100 - 30 = 1070.
        writeHalf(Seq("A" -> 1000L, "B" -> 1090L, "C" -> 1040L,
          "D" -> 1100L, "G" -> 1000L), "half0.parquet", 1000000L)
        // batch 2: runs with watermark 1070 -> its END-of-batch cleanup
        // evicts A (1030) and boundary C (1070); B (1120) survives.
        // G's duplicate here is suppressed (state present) and must NOT
        // refresh the stored expiry. Watermark after this batch = 2970.
        writeHalf(Seq("F" -> 3000L, "G" -> 3000L), "half1.parquet", 2000000L)
        // batch 3: every batch-1 key again, plus a fresh key E. B's
        // state is expired vs watermark 2970 but was never cleaned
        // (cleanup ran with 1070): does the lookup consult expiry?
        writeHalf(Seq("A" -> 4000L, "B" -> 4000L, "C" -> 4000L,
          "E" -> 4000L, "G" -> 4000L), "half2.parquet", 3000000L)
        val schema = spark.read.parquet(stage.toString).schema
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(stage.toString)
          .withWatermark("event_time", "30 seconds")
          .dropDuplicatesWithinWatermark("k")
          .select("k")
          .writeStream.format("memory").queryName(sink)
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", Staged.dir(root, "ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        Staged.local(spark, spark.table(sink).groupBy("k").count())
      } finally {
        spark.catalog.dropTempView(sink)
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      }
    }
    val got = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> 2L, "B" -> 1L, "C" -> 2L,
      "D" -> 1L, "E" -> 1L, "F" -> 1L, "G" -> 2L),
      s"emission counts: $got")
  }
}
