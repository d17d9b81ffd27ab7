package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import graft.queries.ModelOpsQueries.inDelta
import graft.util.{FileUtils, LakeLog, Staged}

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Oracle-gated Structured Streaming: the windowed-count plan from
  * `LogStreams.windowedIssueCounts` run THROUGH the streaming engine
  * (micro-batch execution, state store, watermark eviction) via
  * `Trigger.AvailableNow` over the driver's parquet fixture, so the
  * DuckDB oracle hash-gates what the incremental executor actually
  * emits — not just the batch twin of the same plan.
  *
  * Watermark semantics mirrored in SQL (so Append-mode emission is part
  * of the gated contract, same constants both sides):
  *   watermark_us = floor(max(event_time)/1ms) * 1000 - delay
  *     (Spark's EventTimeStatsAccum tracks the max in whole ms);
  *   a window is emitted iff window.end <= watermark_us
  *     (WatermarkSupport.watermarkExpression uses LessThanOrEqual).
  * The final no-data micro-batch that AvailableNow runs after the data
  * batch is what advances the watermark and flushes closed windows.
  *
  * Single-batch premise: the fixture is ONE parquet file staged alone
  * into the source directory, well under the default
  * maxFilesPerTrigger, so the data arrives in exactly one micro-batch
  * and no event can be late relative to a mid-stream watermark — the
  * oracle's "all rows participate" arithmetic is therefore exact.
  *
  * Scale notes: state is (window × event_type) — bounded by the
  * watermark horizon, evicted on advance; the shuffle key spreads
  * naturally. `maxFilesPerTrigger` bounds micro-batch size under
  * backlog; a real deployment swaps `Trigger.AvailableNow` for a
  * processing-time trigger with zero plan changes.
  */
object StreamingQueries extends graft.QueryFamily {

  private val dec2 = DecimalType(18, 2)

  /** Epoch-µs from the staged fixture's `ts`, tolerant of both fixture
    * encodings (TIMESTAMP(NANOS)-as-long vs TIMESTAMP[_NTZ] µs) — the
    * streaming twin of `Tables.tsUs`, resolved against the schema the
    * batch pre-read produced (readStream needs it explicitly anyway).
    */
  private def tsUs(schema: org.apache.spark.sql.types.StructType) =
    graft.queries.Tables.tsUs(schema("ts").dataType)
  private val windowUs = 300000000L // 5 minutes
  private val delayUs = 600000000L // 10-minute watermark delay
  /** q107 KMV size: smaller than q86's 32 so busy windows overflow k
    * and exercise the (k-1)·H/h_k estimator arm, not just the
    * exact-small-set arm.
    */
  private val streamKmvK = 16
  private val gapUs = 3600L * 1000000L // q33's 1-hour session gap
  private val gapMs = gapUs / 1000L
  /** q209 quality-drift monitor: event time = doc_id seconds; 64 s
    * windows so several windows close per gate run AND windows
    * straddle the staged-third boundaries (cross-micro-batch state
    * accumulation); drift alert at |Δ| > 10 permille.
    */
  private val qualityDriftWindowUs = 64L * 1000000L
  private val qualityDriftDelayUs = 30L * 1000000L
  private val qualityDriftThreshold = 10L
  /** q178 TTL-dedup state lifetime: 2 days against the fixture's
    * ~10-day thirds, so a nontrivial subset of third-1 keys expires
    * before batch 3 (those first seen ≤ maxT1 − 2·delay) and the rest
    * stays suppressed — both semantics arms carry gated rows.
    */
  private val ttlDelayUs = 2L * 86400L * 1000000L

  /** The open session of q70 and q281 plus how many sessions this user
    * has already closed (so the timeout flush can number it).
    */
  // NOT private: the state/object encoders generate Java that must
  // reach the constructor
  case class SessionState(startUs: Long, lastUs: Long, n: Long, sid: Long) {
    /** The event-time timeout (ms) that closes this session. */
    def expiryMs: Long = lastUs / 1000L + gapMs
    def out(user: Long): SessionOut = SessionOut(user, sid, n, startUs, lastUs)
  }
  case class SessionOut(
      user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** Folds one batch of `user`'s event times (µs) into the open session
    * `open`; a gap over [[gapUs]] closes it. Returns the sessions closed,
    * oldest first, and the session left open. The times are sorted here:
    * the grouped iterator has no order contract. The session semantics
    * of q70 and q281, whichever stateful operator holds the state.
    */
  private def foldSessions(user: Long, open: Option[SessionState],
      times: Iterator[Long]): (Iterator[SessionOut], Option[SessionState]) = {
    val (closed, last) = times.toSeq.sorted.foldLeft(
      (List.empty[SessionOut], open)) {
      case ((done, Some(st)), t) if t - st.lastUs > gapUs =>
        (st.out(user) :: done, Some(SessionState(t, t, 1, st.sid + 1)))
      case ((done, Some(st)), t) =>
        (done, Some(st.copy(lastUs = math.max(st.lastUs, t), n = st.n + 1)))
      case ((done, None), t) =>
        (done, Some(SessionState(t, t, 1, 1)))
    }
    (closed.reverseIterator, last)
  }

  /** q70's gap-session semantics re-expressed in Spark 4's
    * StatefulProcessor API (`transformWithState` — the successor to
    * flatMapGroupsWithState: named state variables, explicit
    * event-time timers, RocksDB-backed): ValueState holds the open
    * session, one registered timer per open session replaces
    * setTimeoutTimestamp, and the expired-timer callback is the
    * timeout flush. Gated against q70's oracle VERBATIM — same
    * semantics, different stateful operator, the q154-vs-q70
    * cross-proof extended to the third session implementation.
    */
  private class TwsSessionProcessor extends StatefulProcessor[
      Long, (Long, Long, java.sql.Timestamp), SessionOut] {
    @transient private var st: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp)],
        tv: TimerValues): Iterator[SessionOut] = {
      val prev = if (st.exists()) Some(st.get()) else None
      // the API allows MANY timers per key (where
      // GroupState.setTimeoutTimestamp replaced), so an update deletes
      // the stale one explicitly
      prev.foreach(s => getHandle.deleteTimer(s.expiryMs))
      val (closed, open) = foldSessions(user, prev, rows.map(_._2))
      open.foreach { s =>
        st.update(s)
        getHandle.registerTimer(s.expiryMs)
      }
      closed
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] = {
      // guard against a stale timer surviving a missed delete: only
      // the open session's own expiry flushes
      if (st.exists() && st.get().expiryMs == info.getExpiryTimeInMs) {
        val s = st.get()
        st.clear()
        Iterator(s.out(user))
      } else Iterator.empty
    }
  }

  /** q130's custom state: open (unflushed) window counts for one event
    * type plus the running count/sum of already-flushed windows — the
    * "prior baseline" the spike rule compares against.
    */
  case class AlertState(wins: Map[Long, Long], priorN: Long, priorSum: Long)
  case class AlertOut(
      window_us: Long, event_type: String, n_events: Long,
      n_prior: Long, sum_prior: Long, is_spike: Boolean)

  /** One gate invocation: `body` runs in the gate's own
    * [[Staged.scratch]] root, whose named subdirectories hold its
    * sources, checkpoint and sinks (gate-harness scaffolding, NOT the
    * durable checkpoint a deployment configures), and the state stores
    * are released after it, also on failure.
    */
  private def gateRun(s: SparkSession, name: String)(
      body: Path => DataFrame): DataFrame =
    Staged.scratch(s, name)(root =>
      try body(root) finally releaseStreamingState())

  /** Runs `df` to completion into a memory sink (checkpoint
    * `root/ckpt`, `AvailableNow`) and returns `read(sink)` detached into
    * a local relation — before the sink view is dropped, and so before
    * [[gateRun]] releases the state stores and deletes the root.
    */
  private def drainToMemory(s: SparkSession, root: Path, df: DataFrame,
      mode: OutputMode = OutputMode.Append)(
      read: DataFrame => DataFrame): DataFrame = {
    // the root's unique name keeps Bench's repeated runs apart
    val sink = root.getFileName.toString.replace('-', '_')
    try {
      df.writeStream.format("memory").queryName(sink)
        .outputMode(mode)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      Staged.local(s, read(s.table(sink)))
    } finally s.catalog.dropTempView(sink)
  }

  /** The fixture table `table` copied into `root/src`, with its schema.
    * FileStreamSource requires a DIRECTORY ("Option basePath must be a
    * directory") and the driver fixture is one parquet FILE (copied,
    * not symlinked: Hadoop's RawLocalFileSystem stat of symlinks is
    * platform-dependent); readStream needs the schema explicitly, so it
    * comes from a batch read (ts is an epoch-nanos long under
    * nanosAsLong).
    */
  private def stageFixture(s: SparkSession, dir: String, root: Path,
      table: String): (Path, StructType) = {
    val src = Paths.get(s"$dir/$table.parquet")
    val stage = Staged.dir(root, "src")
    Files.copy(src, stage.resolve(s"$table.parquet"))
    (stage, s.read.parquet(src.toString).schema)
  }

  /** The parquet files under `src` as a file stream; `perFile` makes
    * each file its own micro-batch (in mtime order).
    */
  private def fileStream(s: SparkSession, src: Path, schema: StructType,
      perFile: Boolean = false): DataFrame = {
    val reader = s.readStream.schema(schema)
    (if (perFile) reader.option("maxFilesPerTrigger", "1") else reader)
      .parquet(src.toString)
  }

  /** The fixture table `table` as a one-file stream ([[stageFixture]]). */
  private def fixtureStream(s: SparkSession, dir: String, root: Path,
      table: String): DataFrame = {
    val (stage, schema) = stageFixture(s, dir, root, table)
    fileStream(s, stage, schema)
  }

  /** An events stream with `event_time` (from `ts`) watermarked `delay`
    * behind. It adds no other column: a stateful operator keeps every
    * input column in its state (q69's dropDuplicates does), so a gate
    * that needs the µs long reads it back as `unix_micros(event_time)`.
    */
  private def watermarked(events: DataFrame,
      delay: String = "10 minutes"): DataFrame =
    events.withColumn("event_time", timestamp_micros(tsUs(events.schema)))
      .withWatermark("event_time", delay)

  /** The q189 arrival slice (`inDelta` on `key`) of fixture `table` as a
    * stream: the whole fixture file is staged (a copy, no Spark job) and
    * the stream filters it.
    */
  private def deltaStream(s: SparkSession, dir: String, root: Path,
      table: String, key: String): DataFrame =
    fixtureStream(s, dir, root, table).where(inDelta(col(key)))

  /** The attribution shape of q79, q146 and q283: each purchase matched
    * to the same user's clicks in the 30 minutes before it. Both sides
    * are file streams of their own over the staged events, watermarked
    * 10 minutes; the interval condition lets the join's state evict rows
    * once the watermark passes them. Columns: `p_`/`c_` + `user`,
    * `event`, `us`, `time`.
    */
  private def attributionJoin(s: SparkSession, dir: String, root: Path,
      joinType: String = "inner"): DataFrame = {
    val (stage, schema) = stageFixture(s, dir, root, "events")
    def side(evType: String, prefix: String) =
      fileStream(s, stage, schema)
        .where(col("event_type") === evType)
        .withColumn(s"${prefix}_us", tsUs(schema))
        .withColumn(s"${prefix}_time",
          timestamp_micros(col(s"${prefix}_us")))
        .withWatermark(s"${prefix}_time", "10 minutes")
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_event"),
          col(s"${prefix}_us"), col(s"${prefix}_time"))
    side("purchase", "p").join(side("click", "c"),
      col("p_user") === col("c_user") &&
        col("c_time") >= col("p_time") - expr("INTERVAL 30 MINUTES") &&
        col("c_time") <= col("p_time"),
      joinType)
  }

  /** Per (5-minute window, event_type) event counts and exact decimal
    * value sums of a watermarked events stream — q59's aggregate, which
    * q292 runs across a restart.
    */
  private def valueWindows(events: DataFrame): DataFrame = events
    .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
    .agg(count(lit(1)).as("n_events"),
      sum(col("value").cast(dec2)).as("sv"))
    .select(unix_micros(col("window.start")).as("window_us"),
      col("event_type"), col("n_events"),
      col("sv").cast("double").as("sum_value"))

  /** The events' log lines split at the 2/3 point of their time range,
    * as q188 and q199 screen them: returns the history window (the first
    * two thirds, a batch frame with `us`) and the recent third as a
    * stream — its raw events landed as the one file `root/src/t2.parquet`
    * and rendered through the same [[Tables.normalizedEvents]] and
    * `logsOf` as the batch side.
    */
  private def recentThird(s: SparkSession, dir: String, root: Path)
      : (DataFrame, DataFrame) = {
    import graft.queries.{LogDomainQueries, Tables}
    val src = Paths.get(s"$dir/events.parquet")
    val stage = Staged.dir(root, "src")
    val schema = s.read.parquet(src.toString).schema
    val lines = LogDomainQueries.Corpus.logsOf(Tables.events(s, dir))
      .withColumn("us", expr("ts_ns div 1000"))
    val mm = lines.agg(min(col("us")), max(col("us"))).head()
    val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 2 / 3
    landFile(s.read.parquet(src.toString)
        .withColumn("us", tsUs(schema)).where(col("us") >= cut)
        .select(schema.fieldNames.map(col).toSeq: _*),
      stage.resolve("t2.parquet"))
    (lines.where(col("us") < cut), LogDomainQueries.Corpus.logsOf(
      Tables.normalizedEvents(fileStream(s, stage, schema))))
  }

  /** `df` landed as the one parquet file `f` (a single-task write, so
    * row order is kept), with modification time `mtimeMs` if given —
    * mtimes order FileStreamSource's processing. The write goes through
    * a sibling of `f`'s directory, which a stream over it never lists.
    */
  private[graft] def landFile(df: DataFrame, f: Path,
      mtimeMs: Option[Long] = None): Unit = {
    val tmp = f.getParent.resolveSibling(s"${f.getParent.getFileName}-w")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.move(FileUtils.firstParquet(tmp), f,
      StandardCopyOption.REPLACE_EXISTING)
    mtimeMs.foreach(ms => Files.setLastModifiedTime(f, FileTime.fromMillis(ms)))
  }

  /** `df` written to a fresh data path `<root>/<prefix><v>-<nonce>`
    * and committed as version `v`'s one add ([[LakeLog.commit]]).
    */
  private def commitFile(s: SparkSession, root: Path, v: Long,
      prefix: String, df: DataFrame): Boolean = {
    val p = LakeLog.dataPath(root.toString, s"$prefix$v")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    LakeLog.commit(s, root.toString, v, Seq(LakeLog.add(p)), Seq(p))
  }

  /** The full-row netting columns of the update-carrying feeds. */
  private val rowCols = Seq("doc_id", "source", "n_chars")

  /** The signed per-source rollup a change-feed consumer folds:
    * inserts count +1, deletes −1 (COUNT, SUM and the q267 checksum
    * are abelian, which makes the aggregate CDF-maintainable).
    */
  private[graft] def roll(df: DataFrame, sign: Int): DataFrame = df
    .groupBy("source")
    .agg((count(lit(1)) * sign).as("n_docs"),
      (sum(col("n_chars").cast("long")) * sign).as("sum_chars"),
      (sum(expr(graft.queries.ShapeOpsQueries
        .manifestTerm("doc_id"))) * sign).as("key_checksum"))

  /** The stored per-source aggregate `prev` (None before the first
    * version) advanced by one change set.
    */
  private[graft] def foldChanges(prev: Option[DataFrame],
      inserts: DataFrame, deletes: DataFrame): DataFrame =
    (prev.toSeq :+ roll(inserts, 1) :+ roll(deletes, -1))
      .reduce(_ unionByName _)
      .groupBy("source")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).as("sum_chars"),
        sum(col("key_checksum")).as("key_checksum"))

  /** The change-feed consumer: each (version, entries) manifest lands
    * as one arrival file in `root/src`, mtimes in commit order, and
    * streams in one file per micro-batch; `fold` gets each version's
    * change set ([[LakeLog.changes]] netted on `keyCols`). AvailableNow
    * may deliver more than one arrival in a batch (equal mtimes), so
    * every distinct version in it is folded on its own, ascending —
    * merging two commits would skip a version.
    */
  private def consumeFeed(s: SparkSession, root: Path,
      feed: Seq[(Long, Seq[LakeLog.Entry])], keyCols: Seq[String])(
      fold: (Long, DataFrame, DataFrame) => Unit): Unit = {
    val arrivals = Staged.dir(root, "src")
    val now = System.currentTimeMillis()
    val landed = feed.map { case (v, entries) =>
      val m = LakeLog.frame(s, v, entries).withColumn("version", lit(v))
      landFile(m, arrivals.resolve(s"c$v.parquet"),
        Some(now - (3 - v) * 60000L))
      m.schema
    }
    eachBatch(s, arrivals, landed.head, root) { (df, _) =>
      val all = df.collect() // manifest-sized
      all.map(_.getAs[Long]("version")).distinct.sorted.foreach { v =>
        val es = all.filter(_.getAs[Long]("version") == v)
        def paths(action: String) =
          es.filter(_.getString(0) == action).map(_.getString(1)).toSeq
        val (ins, del) =
          LakeLog.changes(s, paths("add"), paths("remove"), keyCols)
        fold(v, ins, del)
      }
    }
  }

  /** Streams the parquet files under `src` one per micro-batch into
    * `fn`, to completion (checkpoint `root/ckpt`, `AvailableNow`).
    */
  private def eachBatch(s: SparkSession, src: Path, schema: StructType,
      root: Path)(fn: (DataFrame, Long) => Unit): Unit =
    fileStream(s, src, schema, perFile = true)
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) => fn(df, batchId) }
      .option("checkpointLocation", Staged.dir(root, "ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Versions 0..2 of the per-source aggregate table at `mv`. */
  private def readAggVersions(s: SparkSession, mv: Path): DataFrame =
    (0 to 2).map { v =>
      s.read.parquet(LakeLog.firstAdd(s, mv.toString, v))
        .select(lit(v.toLong).as("version"), col("source"),
          col("n_docs"), col("sum_chars"), col("key_checksum"))
    }.reduce(_ unionByName _).orderBy("version", "source")

  /** Versions 0..2 of the time-thirds ingest lake at `lake` (q287,
    * q293), each resolved from its committed manifests as a lake reader
    * would: files, rows and the event_id checksum.
    */
  private def ingestVersions(s: SparkSession, lake: Path): DataFrame =
    (0 to 2).map { v =>
      val files = LakeLog.adds(s, lake.toString, v)
      s.read.parquet(files: _*)
        .agg(count(lit(1)).as("n_rows"),
          sum(expr(graft.queries.ShapeOpsQueries
            .manifestTerm("event_id"))).as("key_checksum"))
        .select(lit(v.toLong).as("version"),
          lit(files.length.toLong).as("n_files"),
          col("n_rows"), col("key_checksum"))
    }.reduce(_ unionByName _).orderBy("version")

  /** The events fixture's time-thirds ([[stageTimeThirds]] under
    * `root/src`) streamed one file per micro-batch into `commit`, empty
    * batches skipped. Returns the source directory.
    */
  private def thirdsInto(s: SparkSession, dir: String, root: Path)(
      commit: (DataFrame, Long) => Unit): Path = {
    val stage = Staged.dir(root, "src")
    val schema = stageTimeThirds(s, dir, stage)
    eachBatch(s, stage, schema, root) { (df, batchId) =>
      if (!df.isEmpty) commit(df, batchId)
    }
    stage
  }

  /** The events fixture split into three TIME-thirds ([[stageThirds]]
    * on the µs timestamp). Returns the fixture schema.
    */
  private def stageTimeThirds(s: SparkSession, dir: String, dest: Path,
      arrivalOrder: Seq[Int] = Seq(0, 1, 2)): StructType = {
    val events = graft.queries.Tables(s, dir, "events")
    stageThirds(events, tsUs(events.schema), dest, arrivalOrder)
  }

  /** Shared multi-batch staging: split `rows` into three thirds of the
    * range of `key` (t0/t1/t2, rows `key`-ordered within each) and land
    * them in `dest` with ascending mtimes in `arrivalOrder` (mtimes order
    * FileStreamSource's processing; with maxFilesPerTrigger=1 each
    * file is its own micro-batch). One scan, one single-task
    * partitioned write (row order preserved per third), then the part
    * files move into place. `arrivalOrder` lists thirds in the order
    * they arrive — Seq(1, 2, 0) stages the corpus's OLDEST third last
    * (q282's late-data scenario). Returns `rows`' schema (readStream
    * needs it explicitly).
    */
  private def stageThirds(rows: DataFrame, key: Column, dest: Path,
      arrivalOrder: Seq[Int] = Seq(0, 1, 2)): StructType = {
    val schema = rows.schema
    val withUs = rows.withColumn("us", key)
    val mm = withUs.agg(min(col("us")), max(col("us"))).head()
    val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
    val t1 = tmin + (tmax - tmin) / 3
    val t2 = tmin + (tmax - tmin) * 2 / 3
    val tmp = dest.resolveSibling(s"${dest.getFileName}-w")
    val now = System.currentTimeMillis()
    withUs
      .withColumn("third",
        when(col("us") < t1, 0).when(col("us") < t2, 1).otherwise(2))
      .select((schema.fieldNames.map(col) :+ col("third") :+ col("us")).toSeq: _*)
      .coalesce(1)
      // explicit (third, key) sort: gates whose oracle derives
      // per-key first-seen as MIN(us) need each staged third
      // ts-ordered — a contract, not an accident (the ordering also
      // satisfies the writer's `third` requirement, so no second
      // sort is inserted)
      .sortWithinPartitions(col("third"), col("us"))
      .drop("us")
      .write.partitionBy("third").mode("overwrite")
      .parquet(tmp.toString)
    arrivalOrder.zipWithIndex.foreach { case (third, pos) =>
      val part = FileUtils.firstParquet(tmp.resolve(s"third=$third"))
      val f = dest.resolve(s"t$third.parquet")
      Files.move(part, f, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(f,
        FileTime.fromMillis(now - (3 - pos) * 60000L))
    }
    schema
  }

  /** Unload every loaded state-store provider and stop the maintenance
    * task after a query terminates. Without this, providers accumulate
    * across queries in a long-lived session (Bench/Verify run every
    * streaming query 1-3×) and the 60 s maintenance rounds snapshot
    * hundreds of retained stores — CPU bursts that landed on whichever
    * BATCH query happened to be running (measured as roaming 10-40 s
    * outliers in full-suite bench runs). The registry re-starts lazily
    * on the next streaming load, so this is safe between queries.
    */
  private def releaseStreamingState(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** q154's engine run: built-in `session_window` aggregate (1 h gap)
    * over the staged event stream, Append mode, `AvailableNow` — the
    * memory sink receives exactly the watermark-closed sessions. `gate`
    * shapes what the caller materializes from the sink (the oracle gate
    * rolls up per user; the spec reads the raw session list).
    */
  private def sessionWindowRun(s: SparkSession, dir: String)(
      gate: DataFrame => DataFrame): DataFrame = gateRun(s, "q154") { root =>
    val agg = watermarked(fixtureStream(s, dir, root, "events"))
      .groupBy(col("user_id"), session_window(col("event_time"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
    drainToMemory(s, root, agg)(gate)
  }

  /** Raw emitted session list (user_id, start_us, end_us, n_events) —
    * the StreamingSpec cross-check surface; gates use the rollup.
    */
  def sessionWindowSessions(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> streamParts)(
      sessionWindowRun(s, dir)(_.orderBy("user_id", "start_us")))

  /** Gate-harness state-store width. AQE cannot resize stateful
    * streaming stages (it is disabled for them), so every micro-batch
    * of every gated stream pays `spark.sql.shuffle.partitions` state
    * store instances (open + commit + maintenance) per stateful op —
    * at the session's cluster-sized 32 that was measured as ~1-2 s of
    * pure per-query fixed cost over these 3-file KB-scale fixtures.
    * Every gated run (and [[sessionWindowSessions]]) gets this width
    * in one place. Env-parameterised: a deployment sizes state
    * partitions to key cardinality and load, which the env override
    * expresses — the committed default stays the historical
    * gate-harness 8.
    */
  private val streamParts =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "8")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) =>
        graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> streamParts)(fn(s, dir)))
    }

  private def rawQueries
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    // E20 oracle-gated: per-(5-min window, event_type) counts + decimal
    // value sums, emitted by Append-mode watermark eviction.
    "q59_stream_window" -> ((s, dir) => gateRun(s, "q59") { root =>
      val agg = valueWindows(watermarked(fixtureStream(s, dir, root, "events")))
      drainToMemory(s, root, agg) { sink =>
        // tiny by construction: one row per closed (5-minute window ×
        // event_type)
        sink.orderBy("window_us", "event_type")
      }
    }),

    // Streaming approximate-distinct: the q86 KMV sketch as a WINDOWED
    // STREAMING aggregate — the custom TypedImperativeAggregate runs
    // inside the incremental engine (ObjectHashAggregate partials,
    // state-store serialized buffers, watermark-evicted windows), and
    // because a KMV sketch is a pure set-union over inputs
    // (order-independent, merge-tree-independent), each emitted
    // window's sketch AND estimator are bit-identical to the batch
    // construction — so the DuckDB twin hash-gates a STREAMING sketch
    // exactly, no tolerance column. Emission predicate = q59's
    // (window.end <= ms-floored-max - delay). At 100 TB: per-window
    // state is O(k) per (window × event_type), evicted on watermark
    // advance — the streaming distinct-users dashboard that never
    // stores a user set.
    "q107_stream_kmv" -> ((s, dir) => gateRun(s, "q107") { root =>
      val k = streamKmvK
      val h = graft.functions.TextFunctions.spreadHash(
        col("user_id").cast("string"))
      val p = graft.functions.TextFunctions.P
      val agg = watermarked(fixtureStream(s, dir, root, "events"))
        .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
        .agg(graft.functions.KMinValues(h, k).as("sketch"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"),
          array_join(transform(col("sketch"), v => v.cast("string")), ",")
            .as("sketch_str"),
          when(size(col("sketch")) >= k,
            (lit((k - 1).toDouble) * lit(p.toDouble)) /
              element_at(col("sketch"), k).cast("double"))
            .otherwise(size(col("sketch")).cast("double")).as("kmv_estimate"))
      drainToMemory(s, root, agg) { sink =>
        sink.orderBy("window_us", "event_type")
      }
    }),

    // E20 streaming dedup, oracle-gated: dropDuplicates over
    // (user_id, event_type) run through the incremental engine — the
    // streaming state store sees every key, Append emits each key's
    // first arrival. (Scale note: plain dropDuplicates state is
    // unbounded by design — exact forever-dedup; a real deployment
    // with bounded keys-per-horizon uses dropDuplicatesWithinWatermark,
    // which would re-emit keys recurring beyond the watermark and so
    // cannot be gated against a global DISTINCT. Gating the
    // within-watermark variant's re-emission was attempted and
    // abandoned: probed empirically with mtime-ordered multi-file
    // staging under maxFilesPerTrigger=1, Spark 4.1's
    // dedup-within-watermark state was never evicted before a replayed
    // key's lookup under Trigger.AvailableNow — replays stayed
    // suppressed even arriving two watermark-advancing batches after
    // their state's expiry — so under the AvailableNow gate harness
    // the operator's observable output IS the global distinct, and a
    // within-watermark "gate" would pin nothing beyond this query.) The output is ONLY the key columns, so the result
    // is the distinct key set regardless of which physical row won the
    // race — the determinism contract a streaming dedup must offer
    // (non-key columns of "the first row" are arrival-order-dependent
    // by definition). Oracle: plain SELECT DISTINCT.
    "q69_stream_dedup" -> ((s, dir) => gateRun(s, "q69") { root =>
      val dedup = watermarked(fixtureStream(s, dir, root, "events"))
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      drainToMemory(s, root, dedup) { sink =>
        sink.orderBy("user_id", "event_type")
      }
    }),

    // E21 oracle-gated: q33's sessionization run through
    // flatMapGroupsWithState with an EVENT-TIME TIMEOUT — gap-closed
    // sessions emit in the data batch; each user's final open session
    // emits only when the watermark passes its timeout (the no-data
    // batch AvailableNow runs last), exactly like a production session
    // stream. The state function sorts its batch's timestamps (the
    // grouped iterator has no order contract) and carries µs longs
    // (Timestamp.getTime would floor to ms). Emission mirrored in SQL:
    // open session emitted iff end_ms + gap < watermark_ms.
    "q70_stream_sessions" -> ((s, dir) => gateRun(s, "q70") { root =>
      import s.implicits._
      val sessions = watermarked(fixtureStream(s, dir, root, "events"))
        // the watermarked column must survive into the stateful op's
        // input (UnsupportedOperationChecker requires it), even
        // though the state function reads the µs long
        .select(col("user_id").as[Long],
          unix_micros(col("event_time")).as[Long],
          col("event_time").as[java.sql.Timestamp])
        .groupByKey(_._1)
        .flatMapGroupsWithState[SessionState, SessionOut](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          case (user, rows, state: GroupState[SessionState]) =>
            if (state.hasTimedOut) {
              val st = state.get
              state.remove()
              Iterator(st.out(user))
            } else {
              val (closed, open) =
                foldSessions(user, state.getOption, rows.map(_._2))
              open.foreach { st =>
                state.update(st)
                state.setTimeoutTimestamp(st.expiryMs)
              }
              closed
            }
        }
      drainToMemory(s, root, sessions.toDF()) { sink =>
        sink.orderBy("user_id", "session_id")
      }
    }),

    // q70's sessions through Spark 4's transformWithState (the
    // THIRD session implementation, after flatMapGroupsWithState and
    // the built-in session_window): named ValueState + explicit
    // event-time timers in a StatefulProcessor, RocksDB state store
    // (the new operator supports no other provider). The oracle is
    // q70's VERBATIM — operator-vs-operator equivalence, hash-gated:
    // gap-closed sessions emit in the data batch, each open session
    // emits iff its timer (end_ms + gap) fires before the final
    // watermark. State per key is one open session + one timer,
    // watermark-bounded exactly like q70's.
    "q281_tws_sessions" -> ((s, dir) => gateRun(s, "q281") { root =>
      import s.implicits._
      val sessions = watermarked(fixtureStream(s, dir, root, "events"))
        .select(col("user_id").as[Long],
          unix_micros(col("event_time")).as[Long],
          col("event_time").as[java.sql.Timestamp])
        .groupByKey(_._1)
        .transformWithState(new TwsSessionProcessor,
          TimeMode.EventTime(), OutputMode.Append())
      // provider conf is read at stream start and pinned in the
      // checkpoint — set RocksDB for this stream only, restore after
      graft.GraftSession.withConf(s,
          "spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution." +
              "streaming.state.RocksDBStateStoreProvider")) {
        drainToMemory(s, root, sessions.toDF()) { sink =>
          // gate-construction cost, not data path: the oracle must see
          // every emitted session, so the memory sink collects them all
          // (~910k rows / 24 s at sf1 — q70's profile); a deployment
          // writes a file sink and never materializes this on the driver
          sink.orderBy("user_id", "session_id")
        }
      }
    }),

    // LATE-DATA semantics, gated: every other streaming gate's fixture
    // arrives time-ordered, so the watermark's actual JOB — dropping
    // rows that arrive after their window closed — never fires. Here
    // the corpus's OLDEST third arrives LAST (file order: middle
    // third, last third, then the stragglers; maxFilesPerTrigger=1
    // makes each its own micro-batch). Engine rule, measured then
    // mirrored: in batch N the LATE-EVENT filter uses the watermark
    // derived from stats through batch N-2, while EVICTION/emission
    // uses stats through batch N-1 — the filter lags one batch behind
    // eviction (a two-file staging drops nothing: the stragglers'
    // batch still sees late-watermark 0). So: batch 0 (middle) builds
    // state; batch 1 (last) evicts middle windows at wm1 =
    // floor-ms(max middle) - delay; batch 2 (first third) is screened
    // against that same wm1 — every straggler's window closed long
    // ago, all dropped. The oracle mirrors BOTH watermarks exactly: a
    // first-third row survives iff its window end > wm1; a window
    // emits iff its end <= wm2 = floor-ms(global max) - delay. A row
    // wrongly admitted or wrongly dropped shifts a count and fails
    // the hash. At scale this is the correctness contract of every
    // streaming agg fed by an out-of-order transport; state stays
    // (window × type)-bounded exactly as q59.
    "q282_stream_late_data" -> ((s, dir) => gateRun(s, "q282") { root =>
      val stage = Staged.dir(root, "src")
      // arrival order = middle third, last third, FIRST third (the
      // stragglers)
      val schema = stageTimeThirds(s, dir, stage, Seq(1, 2, 0))
      val agg = watermarked(fileStream(s, stage, schema, perFile = true))
        .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("n_events"))
      drainToMemory(s, root, agg) { sink =>
        sink.orderBy("window_us", "event_type")
      }
    }),

    // CHAINED stateful operators — q79's stream-stream interval join
    // feeding a windowed aggregation in ONE streaming query (the
    // multi-stateful-operator support real attribution pipelines
    // need: match, then roll up, without landing the matches). The
    // engine simulates per-operator output watermarks: the join's
    // output watermark is its input watermark MINUS the right side's
    // state-retention delay (a click is held until the watermark
    // passes c_time + 30min — the interval bound — so the join can
    // still emit rows that old), and the downstream agg evicts
    // against THAT delayed value. Measured then mirrored: windows
    // emit iff end <= wm − 30min, where wm = min over both sides of
    // floor-ms(side max) − the 10-min delay (at sf0.1 exactly one
    // boundary window distinguishes this from plain wm — 179 vs 180).
    // State: join buffers a 30-min horizon per user; agg holds open
    // windows — both watermark-bounded.
    "q283_stream_join_agg" -> ((s, dir) => gateRun(s, "q283") { root =>
      val agg = attributionJoin(s, dir, root)
        .groupBy(window(col("p_time"), "5 minutes"))
        .agg(count(lit(1)).as("n_matches"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("n_matches"))
      drainToMemory(s, root, agg) { sink =>
        sink.orderBy("window_us")
      }
    }),

    // STREAMING LAKE INGEST — the commit-log sink pattern (how a
    // Delta-style streaming writer gets exactly-once): each
    // micro-batch lands as ONE data file plus ONE appended manifest
    // (version = batch id), so a reader pinned to any version sees a
    // consistent prefix of the stream and a restart can no-op replay
    // a committed batch by checking the log. The corpus arrives as 3
    // time-ordered files (maxFilesPerTrigger=1 → 3 batches); the gate
    // resolves as-of(v) from the MANIFESTS for each version and rolls
    // up rows + the E254 key checksum — the oracle reconstructs each
    // version as the cumulative time-thirds, so a batch→commit
    // mapping error (row lost, doubled, or landed under the wrong
    // version) shifts a checksum. At scale: the sink writes each
    // batch once (data bandwidth) + an O(1) manifest append; as-of
    // reads stay metadata-resolved exactly as q274.
    "q287_stream_lake_ingest" -> ((s, dir) => gateRun(s, "q287") { root =>
      val lake = Staged.dir(root, "lake")
      thirdsInto(s, dir, root) { (df, batchId) =>
        commitFile(s, lake, batchId, "data/b", df)
      }
      ingestVersions(s, lake)
    }),

    // RESTART-WITH-NEW-DATA recovery — exactly-once across a REAL
    // resume, the property every production deployment exercises on
    // every deploy (StreamingSinkSpec pins the weaker no-new-data
    // idempotence; this gates the full cycle): run 1 processes the
    // first two time-thirds through q59's windowed agg into a FILE
    // sink (the durable sink whose _spark_metadata commit log IS the
    // exactly-once surface) and terminates; the third file lands
    // while the stream is DOWN; run 2 restarts from the SAME
    // checkpoint over the SAME sink. The union of both runs'
    // emissions, read back through the sink's commit log, must equal
    // the one-continuous-run result — the oracle is q59's SQL
    // VERBATIM (same agg, same emission predicate), so a window
    // double-emitted across the resume (broken sink log), a window
    // lost (source offsets re-read), or a boundary window's count
    // missing its pre-restart partial (state not restored) each
    // shifts a row and fails the hash. Restored checkpoint state
    // carries BOTH the partial counts of windows still open at
    // shutdown and the watermark, so run 2's emissions complete the
    // set exactly. At 100 TB: recovery cost ∝ checkpointed state
    // (open windows), never a source replay from origin.
    "q292_stream_restart_recovery" -> ((s, dir) => gateRun(s, "q292") { root =>
      val hold = Staged.dir(root, "hold")
      val stage = Staged.dir(root, "src")
      val ckpt = Staged.dir(root, "ckpt")
      val sinkDir = Staged.dir(root, "sink")
      val schema = stageTimeThirds(s, dir, hold)
      // run 1 sees only the first two thirds (mtimes travel with
      // the rename)
      for (i <- 0 to 1)
        Files.move(hold.resolve(s"t$i.parquet"),
          stage.resolve(s"t$i.parquet"))
      def run(): Unit = {
        val agg = valueWindows(
          watermarked(fileStream(s, stage, schema, perFile = true)))
        // the state width is pinned in the checkpoint at FIRST start;
        // both runs start inside the same gate-width wrapper, so they
        // agree by contract
        agg.writeStream.format("parquet")
          .option("path", sinkDir.toString)
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      run()
      // the deploy window: new data arrives while the stream is down
      Files.move(hold.resolve("t2.parquet"), stage.resolve("t2.parquet"))
      run()
      // read back through _spark_metadata — only committed batches
      s.read.parquet(sinkDir.toString)
        .orderBy("window_us", "event_type")
    }),

    // SINK FENCING — q287's commit-log writer hardened for the
    // TWO-writer failure mode it assumed away: a zombie instance (the
    // old writer a failover left running, or a retried task) replays
    // an already-committed batch. The committer now consults the log
    // BEFORE doing any work (idempotent no-op on a committed version)
    // and lands the batch through [[LakeLog.commit]], so a replay can
    // neither double-append nor tear a manifest, and — its data file
    // named per attempt — never touch the committed batch's file. The
    // gate runs the 3-batch ingest through the fenced committer, then
    // REPLAYS batch 1 as a zombie would — with a DISTINGUISHABLE
    // payload (t2's rows claiming batch 1: a real zombie is an OLD
    // writer, so what it re-emits need not byte-match the committed
    // batch) — and gates replay_fenced (the probe no-oped before any
    // work) next to every version's rollup. A fence that falsely
    // no-ops a NEW version would fail q287's live path. At 100 TB
    // this is exactly Delta's txn-version dedup: one O(1) log probe
    // per batch, no data read.
    "q293_stream_sink_fencing" -> ((s, dir) => gateRun(s, "q293") { root =>
      val lake = Staged.dir(root, "lake")
      // the FENCED committer — one definition for the live writer
      // and the zombie replay: log probe before any work, then
      // LakeLog's put-if-absent commit
      def fencedCommit(df: DataFrame, batchId: Long): Boolean =
        !LakeLog.exists(lake.toString, batchId) &&
          commitFile(s, lake, batchId, "data/b", df)
      val stage = thirdsInto(s, dir, root)(fencedCommit(_, _))
      // the zombie: an old writer instance re-emits batch 1 — with
      // t2's payload, so a broken fence cannot hide behind an
      // idempotent byte-identical overwrite; the fence must no-op
      // before any work
      val replayFenced = !fencedCommit(
        s.read.parquet(stage.resolve("t2.parquet").toString), 1L)
      ingestVersions(s, lake)
        .withColumn("replay_fenced", col("version") === 1L && lit(replayFenced))
    }),

    // STREAMING MATERIALIZED VIEW — the composition production
    // pipelines actually deploy on top of q287/q293/q299's parts: a
    // per-event-type aggregate TABLE maintained incrementally by the
    // stream itself, exactly-once. Each micro-batch folds its own
    // delta rollup into the previous version's STORED aggregate
    // (decimal value sums — the fold is exact, so incremental ≡
    // from-scratch bit-for-bit) and lands version b via the q293
    // fenced committer (log probe before any work, then the commit);
    // a zombie replay of batch 1 must no-op. Gated: EVERY version's
    // full aggregate table read back from its stored file — each
    // version must equal the cumulative-thirds rollup (the q287
    // reconstruction, at the (version, event_type) grain with value
    // sums), so a missed batch, a double-fold, a broken fence, or a
    // float-associativity drift in the fold shifts a row. At 100 TB
    // this is how every dashboard stays current: per batch the work
    // is batch-delta + aggregate-sized fold — the events table is
    // never rescanned; recovery is the checkpoint + the last
    // committed version, exactly Delta's streaming-upsert pattern.
    "q306_stream_matview" -> ((s, dir) => gateRun(s, "q306") { root =>
      val lake = Staged.dir(root, "mv")
      // the MV committer — one definition for the live writer and
      // the zombie replay (q293's fence shape, with the fold)
      def mvCommit(df: DataFrame, batchId: Long): Boolean =
        !LakeLog.exists(lake.toString, batchId) && {
          val delta = df.groupBy("event_type")
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(dec2)).as("sv"))
          val merged =
            if (batchId == 0) delta
            else s.read.parquet(LakeLog.firstAdd(s, lake.toString, batchId - 1))
              .select(col("event_type"), col("n_events"), col("sv"))
              .unionByName(delta, allowMissingColumns = false)
              .groupBy("event_type")
              .agg(sum(col("n_events")).as("n_events"),
                sum(col("sv")).as("sv"))
          commitFile(s, lake, batchId, "agg/v", merged)
        }
      val stage = thirdsInto(s, dir, root)(mvCommit(_, _))
      // the zombie: an old writer re-emits batch 1 with t2's
      // payload (distinguishable — q293's convention); the fence
      // must no-op before any fold or file write
      val replayFenced = !mvCommit(
        s.read.parquet(stage.resolve("t2.parquet").toString), 1L)
      (0 to 2).map { v =>
        s.read.parquet(LakeLog.firstAdd(s, lake.toString, v))
          .select(lit(v.toLong).as("version"), col("event_type"),
            col("n_events"),
            col("sv").cast("double").as("sum_value"),
            lit(v == 1 && replayFenced).as("replay_fenced"))
      }.reduce(_ unionByName _).orderBy("version", "event_type")
    }),

    // STREAMING CHANGE-DATA-FEED CONSUMPTION — the lake↔streaming
    // composition edge q284/q299 leave open: q284 derives a change
    // feed batch-side and q299 folds one precomputed CDF into an
    // aggregate, but a real downstream index consumes the feed AS A
    // STREAM (Delta's streaming CDF source). Staged: the q274 commit
    // log (v0 initial load, v1 append, v2 copy-on-write delete); its
    // three MANIFESTS then arrive as a stream (one commit per
    // micro-batch, mtime-ordered). Each micro-batch derives THAT
    // commit's change set from its own add/remove entries (inserts =
    // added∖removed rows, deletes = removed∖added — CoW-carried rows
    // net out, q284's construction), folds the signed per-source
    // rollup into the previous version's STORED aggregate (q299's
    // abelian fold: COUNT / SUM / the q267 checksum), and lands
    // version v through the fenced committer (q306's shape).
    // Gated: EVERY version's maintained aggregate read back from its
    // stored file must equal the from-scratch as-of(v) rollup — the
    // oracle reconstructs v0/v1/v2 logical content from the staging
    // predicates (q299's twin at every version, not just the last),
    // so a misclassified change row, a CoW row not netted out, a
    // version folded twice, or a commit consumed out of order shifts
    // a row. At 100 TB this is how a downstream replica keeps up
    // without ever rescanning the table: per commit the work is
    // (files the commit touched) + an aggregate-sized fold, and the
    // feed itself is just the manifests the log already wrote.
    "q317_stream_cdf_consume" -> ((s, dir) => gateRun(s, "q317") { root =>
      val stage = Staged.dir(root, "lake").toString
      val mv = Staged.dir(root, "mv")
      graft.queries.ShapeOpsQueries
        .stageLakeLog(s, dir, stage, withCompaction = false)
      // the feed: each commit's manifest — the stream IS the log
      consumeFeed(s, root, (0 to 2).map(v => v.toLong -> LakeLog.entries(s, stage, v).toSeq),
          Seq("doc_id")) { (v, inserts, deletes) =>
        if (!LakeLog.exists(mv.toString, v)) {
          val prev = Option.when(v > 0)(
            s.read.parquet(LakeLog.firstAdd(s, mv.toString, v - 1)))
          commitFile(s, mv, v, "agg/v", foldChanges(prev, inserts, deletes))
        }
      }
      readAggVersions(s, mv)
    }),

    // STREAMING CDF CONSUMPTION OF AN UPDATE COMMIT — the netting
    // subtlety q317 cannot see: q317's change derivation anti-joins
    // added vs removed rows BY KEY, which is exact for its log (CoW
    // carries rows verbatim) but silently WRONG for a commit that
    // rewrites rows with changed values — an update's pre- and
    // post-image share the key, net out, and the maintained
    // aggregate never hears about the changed measure. The correct
    // derivation (what Delta's CDF reader emits as
    // update_preimage/update_postimage) nets by FULL ROW: an
    // updated row's pre-image survives into the deletes side, its
    // post-image into the inserts side, and the signed fold carries
    // the measure delta while the count delta stays zero. Staged: a
    // three-commit log (v0 initial two files, v1 a CoW UPDATE
    // rewriting one file with n_chars+500 on a key slice, v2 a CoW
    // DELETE filtering the other), manifests arriving as a stream
    // one commit per micro-batch; every maintained version read back
    // from its stored file must equal the from-scratch logical
    // rollup — a consumer that nets by key fails v1's sum_chars by
    // exactly 500 × |updated|. At 100 TB the full-row anti-join is
    // still bounded by the commit's touched files, never the table.
    "q328_stream_cdf_update" -> ((s, dir) => gateRun(s, "q328") { root =>
      val stage = Staged.dir(root, "lake")
      val mv = Staged.dir(root, "mv")
      val d = graft.queries.Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val chType = d.schema("n_chars").dataType
      val f0 = d.where(col("doc_id") % 2 === 0)
      val f1 = d.where(col("doc_id") % 2 === 1)
      f0.coalesce(1).write.mode("overwrite").parquet(s"$stage/f0")
      f1.coalesce(1).write.mode("overwrite").parquet(s"$stage/f1")
      // v1's CoW update: same rows, n_chars+500 on the key slice
      f0.withColumn("n_chars",
          when(col("doc_id") % 7 === 3,
            col("n_chars") + lit(500).cast(chType))
            .otherwise(col("n_chars")))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/f0u")
      // v2's CoW delete
      f1.where(!(col("doc_id") % 5 === 0))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/f1r")
      import LakeLog.{add, remove}
      val feed = Seq(
        0L -> Seq(add(s"$stage/f0"), add(s"$stage/f1")),
        1L -> Seq(remove(s"$stage/f0"), add(s"$stage/f0u")),
        2L -> Seq(remove(s"$stage/f1"), add(s"$stage/f1r")))
      // FULL-ROW netting: an update's pre/post images differ in the
      // measure, so both survive their anti-join — the key netting
      // q317 uses would cancel them
      consumeFeed(s, root, feed, rowCols) { (v, inserts, deletes) =>
        if (!LakeLog.exists(mv.toString, v)) {
          val prev = Option.when(v > 0)(
            s.read.parquet(LakeLog.firstAdd(s, mv.toString, v - 1)))
          commitFile(s, mv, v, "agg/v", foldChanges(prev, inserts, deletes)
            // a source whose rows all vanished folds to zero — drop
            // it, as the from-scratch rollup would
            .where(col("n_docs") =!= 0L))
        }
      }
      readAggVersions(s, mv)
    }),

    // SNAPSHOT BOOTSTRAP + CHANGE TAIL — Delta's streaming-source
    // `startingVersion` pattern and the way EVERY real replication
    // job starts: a downstream does NOT replay a petabyte table's
    // commit history from v0 — it bootstraps from ONE snapshot read
    // (as-of the boot version) and consumes only the change tail
    // AFTER it. Staged on the q274 log: the consumer materializes
    // its v0 aggregate from the as-of(0) snapshot (a plain pruned
    // read, not a change-feed fold), then ONLY manifests v1 and v2
    // arrive as the stream and fold incrementally (q317's abelian
    // rule). The boundary is exactly where consumers go wrong: one
    // that also replays v0's manifest double-counts the initial load
    // (every v0 row is an 'insert' in its own change set); one that
    // starts the tail at v2 misses the append. Gated: all three
    // maintained versions read back ≡ the from-scratch as-of
    // rollups — q317's oracle VERBATIM, reached through the
    // bootstrap-plus-tail path instead of the full replay. At 100 TB
    // the bootstrap is one snapshot scan (what a backfill costs
    // anyway) and the tail is ∝ changes — history length never
    // enters the cost.
    "q333_stream_bootstrap_tail" -> ((s, dir) => gateRun(s, "q333") { root =>
      val stage = Staged.dir(root, "lake").toString
      val mv = Staged.dir(root, "mv")
      graft.queries.ShapeOpsQueries
        .stageLakeLog(s, dir, stage, withCompaction = false)
      // the BOOTSTRAP: one snapshot read at the boot version — not
      // a change-feed fold
      commitFile(s, mv, 0L, "agg/v",
        roll(s.read.parquet(LakeLog.files(s, stage, 0): _*), 1))
      // the TAIL: only the commits AFTER the boot version arrive
      consumeFeed(s, root, (1 to 2).map(v => v.toLong -> LakeLog.entries(s, stage, v).toSeq),
          Seq("doc_id")) { (v, inserts, deletes) =>
        if (!LakeLog.exists(mv.toString, v))
          commitFile(s, mv, v, "agg/v", foldChanges(
            Some(s.read.parquet(LakeLog.firstAdd(s, mv.toString, v - 1))),
            inserts, deletes))
      }
      readAggVersions(s, mv)
    }),

    // STREAMING CDC APPLY — the downstream face q317/q328 stop short
    // of: they maintain an AGGREGATE replica; a real replication
    // pipeline maintains the TABLE — each upstream commit's change
    // set applied to a downstream lake table with its OWN layout and
    // its OWN log (the Delta-to-Delta CDC-apply shape: change feed in,
    // MERGE out). Upstream commits arrive as a stream (v0 initial
    // load, v1 a CoW UPDATE on ONE granule's key slice, v2 a CoW
    // DELETE on another's); per micro-batch the consumer derives the
    // commit's change set by FULL-ROW netting (q328's rule), then
    // classifies per key — in both sides = update, delete-only =
    // delete, insert-only = insert — and applies it to the downstream
    // table stats-targeted (q321's funnel): only downstream files
    // whose manifest [min,max] overlaps the change keys AND actually
    // contain a match are rewritten; the downstream commit lands
    // atomically per upstream version. The upstream layout is
    // DIFFERENT from the downstream's (two files vs ~granule-count),
    // so file mirroring cannot fake it. Gated at EVERY version:
    // downstream as-of(v) ≡ upstream logical content (rows / chars /
    // key / mix checksums) with the rewrite funnel pinned — the
    // update and delete slices each live in ONE granule, so exactly
    // one downstream file rewrites per change commit however large
    // the table. At 100 TB this is the replication contract: work per
    // commit ∝ change set + files containing it, never table size.
    "q329_stream_cdc_apply" -> ((s, dir) => gateRun(s, "q329") { root =>
      val stage = Staged.dir(root, "lake")
      val down = Staged.dir(root, "down").toString
      val d = graft.queries.Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val chType = d.schema("n_chars").dataType
      val gran = graft.queries.ShapeOpsQueries.lakeGranFor(d.count())
      val updPred = expr(s"doc_id div $gran") === 1L &&
        col("doc_id") % 7 === 3
      val delPred = expr(s"doc_id div $gran") === 3L &&
        col("doc_id") % 5 === 0
      // upstream: a DIFFERENT layout (even/odd halves), CoW commits.
      // All six version-files land in ONE partitioned write (the
      // q301 staging device): six coalesce(1) write jobs — each its
      // own table scan — were ~the whole staging cost; one job with
      // each (half, variant) group repartitioned to a single task
      // writes the same six single-file leaves. Reading a leaf dir
      // directly yields exactly the data columns (partition cols are
      // directory names, not file content), so the staged bytes per
      // logical file are unchanged.
      def upd(df: DataFrame): DataFrame = df.withColumn("n_chars",
        when(updPred, col("n_chars") + lit(500).cast(chType))
          .otherwise(col("n_chars")))
      val dh = d.withColumn("h", col("doc_id") % 2)
      dh.withColumn("variant", lit("b"))
        .unionByName(upd(dh).withColumn("variant", lit("u")))
        .unionByName(upd(dh).where(!delPred)
          .withColumn("variant", lit("d")))
        .repartition(col("h"), col("variant"))
        .write.partitionBy("h", "variant").mode("overwrite")
        .parquet(s"$stage/sv")
      def fp(h: Int, variant: String) =
        s"$stage/sv/h=$h/variant=$variant"
      import LakeLog.{add, remove}
      val feed = Seq(
        0L -> Seq(add(fp(0, "b")), add(fp(1, "b"))),
        1L -> Seq(remove(fp(0, "b")), remove(fp(1, "b")),
          add(fp(0, "u")), add(fp(1, "u"))),
        2L -> Seq(remove(fp(0, "u")), remove(fp(1, "u")),
          add(fp(0, "d")), add(fp(1, "d"))))
      // the downstream table: granule-partitioned layout + manifest
      // log with per-file key stats; one rewrite counter per commit
      val rewrites = scala.collection.mutable.Map.empty[Long, Long]
      // each upstream commit's change set, netted by FULL ROW (q328)
      def applyOne(v: Long, ins: DataFrame, del: DataFrame): Unit = {
        if (LakeLog.exists(down, v)) return
        if (v == 0L) {
          // initial load: granule-partitioned, stats per file
          val load = LakeLog.dataPath(down, "load")
          ins.withColumn("g", expr(s"doc_id div $gran"))
            .repartition(col("g"))
            .write.partitionBy("g").mode("overwrite")
            .parquet(load)
          val st = ins.groupBy(expr(s"doc_id div $gran").as("g"))
            .agg(min(col("doc_id")), max(col("doc_id")))
            .collect()  // manifest-sized
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          LakeLog.commit(s, down, 0L, st.toSeq.map { case (g, mn, mx) =>
            add(s"$load/g=$g", mn, mx) }, Seq(load))
          rewrites(0L) = 0L
        } else {
          // classify per key: both sides = update, delete-only =
          // delete, insert-only = net-new. The change-set frames are
          // CACHED for this version's apply: changeKeys feeds the
          // [min,max] probe, one hit probe per candidate file, and
          // every rewrite's anti-join — uncached, each reference
          // re-ran the full netting joins over the commit's files
          // (guide §5: cache what is reused and expensive to
          // recompute; all three frames are change-set-sized).
          val insK = ins.select(col("doc_id")).distinct()
          val delK = del.select(col("doc_id")).distinct()
          val updK = insK.join(delK, Seq("doc_id"), "left_semi")
          val netNew = ins.join(delK, Seq("doc_id"), "left_anti").cache()
          val gone = delK.join(insK, Seq("doc_id"), "left_anti")
          val changeKeys = updK.unionByName(gone.select("doc_id")).cache()
          val kmm = changeKeys.agg(min(col("doc_id")),
            max(col("doc_id")), count(lit(1))).head()
          val active = LakeLog.asOf(s, down, v - 1)._1
          val (cands, hits) =
            if (kmm.getLong(2) == 0L)
              (Seq.empty[(String, Long, Long)],
                Seq.empty[(String, Long, Long)])
            else {
              val (k0, k1) = (kmm.getLong(0), kmm.getLong(1))
              val c = active.filter { case (_, mn, mx) =>
                mx >= k0 && mn <= k1 }
              // per-candidate hit probe (input_file_name cannot
              // disambiguate in a multi-source join): one bounded
              // semi-join per candidate — the candidate list is
              // already stats-pruned to the key range
              (c, c.filter { case (p, _, _) =>
                s.read.parquet(p)
                  .join(broadcast(changeKeys), Seq("doc_id"),  // hint audit: change-set-bounded (cached keys of one commit)
                    "left_semi")
                  .limit(1).count() > 0 })
            }
          val postImg = ins.join(updK, Seq("doc_id"), "left_semi")
            .cache()
          val rewriteAdds = hits.zipWithIndex.flatMap {
            case ((p, _, _), i) =>
              val rp = LakeLog.dataPath(down, s"rw$v-$i")
              val old = s.read.parquet(p)
              old.join(broadcast(changeKeys), Seq("doc_id"),  // hint audit: change-set-bounded (cached keys of one commit)
                  "left_anti")
                .unionByName(postImg.join(
                  old.select("doc_id"), Seq("doc_id"), "left_semi"))
                .coalesce(1).write.mode("overwrite").parquet(rp)
              val mm = s.read.parquet(rp)
                .agg(min(col("doc_id")), max(col("doc_id")),
                  count(lit(1))).head()
              if (mm.getLong(2) == 0L) None
              else Some(add(rp, mm.getLong(0), mm.getLong(1)))
          }
          // one agg answers emptiness AND the manifest stats
          val mmN = netNew.agg(count(lit(1)), min(col("doc_id")),
            max(col("doc_id"))).head()
          val newAdds =
            if (mmN.getLong(0) == 0L) Seq.empty
            else {
              val np = LakeLog.dataPath(down, s"ins$v")
              netNew.coalesce(1).write.mode("overwrite").parquet(np)
              Seq(add(np, mmN.getLong(1), mmN.getLong(2)))
            }
          LakeLog.commit(s, down, v,
            hits.map { case (p, _, _) => remove(p) } ++ rewriteAdds ++ newAdds,
            (rewriteAdds ++ newAdds).map(_._2))
          rewrites(v) = hits.size.toLong
          // one version's apply is done; its cached change set must
          // not outlive it (the stream applies every version in one
          // foreachBatch)
          changeKeys.unpersist(blocking = false)
          netNew.unpersist(blocking = false)
          postImg.unpersist(blocking = false)
        }
      }
      consumeFeed(s, root, feed, rowCols)(applyOne)
      // gate every downstream version against the upstream logical
      // content
      (0L to 2L).map { v =>
        val files = LakeLog.files(s, down, v)
        s.read.parquet(files: _*)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("n_chars").cast("long")).as("sum_chars"),
            sum(expr(graft.queries.ShapeOpsQueries
              .manifestTerm("doc_id"))).as("key_checksum"),
            sum(col("doc_id") * col("n_chars").cast("long"))
              .as("mix_checksum"))
          .select(lit(v).as("version"),
            lit(files.size.toLong).as("n_files"),
            lit(rewrites(v)).as("n_files_rewritten"),
            col("n_rows"), col("sum_chars"), col("key_checksum"),
            col("mix_checksum"))
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // Streaming rate-anomaly alerting with CROSS-WINDOW state: per
    // event type, each closed 5-minute window's count is compared
    // against the running mean of the type's previously-closed windows
    // (integer cross-multiply — no float division in the rule), the
    // monitoring op a log pipeline pages on. Windowed counting and the
    // prior baseline both live in flatMapGroupsWithState keyed by
    // event type (a windowed agg cannot chain into a stateful map, so
    // the window bucketing is part of the custom state): the data
    // batch accumulates per-window counts order-independently; the
    // event-time timeout fires when the watermark passes the earliest
    // open window end and flushes every ripe window in event-time
    // order, folding each into the baseline as it emits. Emission
    // predicate (window end <= watermark) is exactly q59's, mirrored
    // in the oracle; state is O(open windows) per type, evicted on
    // flush.
    "q130_stream_alerts" -> ((s, dir) => gateRun(s, "q130") { root =>
      import s.implicits._
      val alerts = watermarked(fixtureStream(s, dir, root, "events"))
        .select(col("event_type").as[String],
          unix_micros(col("event_time")).as[Long],
          col("event_time").as[java.sql.Timestamp])
        .groupByKey(_._1)
        .flatMapGroupsWithState[AlertState, AlertOut](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          case (etype, rows, state: GroupState[AlertState]) =>
            if (state.hasTimedOut) {
              val st = state.get
              val wmUs = state.getCurrentWatermarkMs() * 1000L
              val (ripe, open) =
                st.wins.partition { case (w, _) => w + windowUs <= wmUs }
              var (n, sum) = (st.priorN, st.priorSum)
              val outs = ripe.toSeq.sortBy(_._1).map { case (w, c) =>
                val o = AlertOut(w, etype, c, n, sum, c * n > 2 * sum)
                n += 1; sum += c; o
              }
              // remaining windows are beyond the current watermark;
              // a later data batch re-arms the timeout — under
              // AvailableNow's final batch they stay unemitted,
              // exactly like q59's un-closed windows
              if (open.isEmpty) state.remove()
              else state.update(AlertState(open, n, sum))
              outs.iterator
            } else {
              val prev = state.getOption
                .getOrElse(AlertState(Map.empty, 0L, 0L))
              val add = rows.foldLeft(Map.empty[Long, Long]) { (m, r) =>
                val w = r._2 / windowUs * windowUs
                m.updated(w, m.getOrElse(w, 0L) + 1L)
              }
              val merged = (prev.wins.keySet ++ add.keySet).iterator.map(w =>
                w -> (prev.wins.getOrElse(w, 0L) + add.getOrElse(w, 0L)))
                .toMap
              state.update(AlertState(merged, prev.priorN, prev.priorSum))
              // fire when the watermark reaches the earliest open
              // window's end: wm > end-1  <=>  end <= wm (the
              // inclusive emission predicate)
              val minEndMs = merged.keys.min / 1000L + windowUs / 1000L
              state.setTimeoutTimestamp(
                math.max(minEndMs - 1, state.getCurrentWatermarkMs + 1))
              Iterator.empty
            }
        }
      drainToMemory(s, root, alerts.toDF()) { sink =>
        sink.orderBy("window_us", "event_type")
      }
    }),

    // Stream-STREAM interval join, oracle-gated: purchases matched to
    // the same user's clicks within the preceding 30 minutes — the
    // attribution shape. Both sides are independent file-stream
    // sources over the staged fixture, watermarked 10 minutes; the
    // event-time range condition is what lets the join's state store
    // evict rows once the watermark passes them (without it, both
    // sides buffer forever). Inner-join emission is the complete match
    // set — deterministic under the single-batch premise (no row is
    // late relative to a mid-stream watermark). State is partitioned
    // by user_id on both sides; at scale the range bound keeps each
    // side's buffered window to 30 minutes + watermark delay of rows
    // per user.
    "q79_stream_join" -> ((s, dir) => gateRun(s, "q79") { root =>
      val joined = attributionJoin(s, dir, root)
        .select(col("p_user").as("user_id"), col("p_event"), col("c_event"),
          (col("p_us") - col("c_us")).as("delta_us"))
      // a stream-stream join keeps FOUR state stores per shuffle
      // partition (left/right × keyToNumValues/keyWithIndexToValue),
      // each with per-batch open/commit I/O — size the state
      // partitioning to the stream, not the batch default (results
      // are partition-count-independent; the conf is read at stream
      // start and pinned in the checkpoint)
      drainToMemory(s, root, joined) { sink =>
        sink.orderBy("user_id", "p_event", "c_event")
      }
    }),

    // Stream-stream LEFT OUTER interval join, oracle-gated: q79's
    // attribution shape, plus the rows q79 cannot express — purchases
    // with NO click in the preceding 30 minutes. Outer emission is the
    // part of the semantics only the incremental engine exercises: a
    // null-extended row appears when the unmatched left row is EVICTED
    // from the join state, i.e. once the global watermark proves no
    // future click can still match it (c_time <= p_time, so eviction
    // at p_time < wm). Under AvailableNow that happens in the final
    // no-data batch; rows younger than the watermark horizon stay in
    // state and are (correctly) NOT emitted — the oracle mirrors the
    // exact threshold: wm = min over both sides of floor-ms(max event
    // time) minus the 10-minute delay.
    "q146_stream_outer_join" -> ((s, dir) => gateRun(s, "q146") { root =>
      val joined = attributionJoin(s, dir, root, "leftOuter")
        .select(col("p_user").as("user_id"), col("p_event"), col("c_event"),
          (col("p_us") - col("c_us")).as("delta_us"))
      drainToMemory(s, root, joined) { sink =>
        sink.orderBy("user_id", "p_event", "c_event")
      }
    }),

    // Built-in session_window streaming aggregate, oracle-gated — a
    // DIFFERENT stateful operator from q70's flatMapGroupsWithState
    // sessions: the engine's session-MERGING machinery
    // (MergingSessionsExec: per-event [t, t+gap) windows coalesced on
    // overlap inside the state store), not custom state code. Append
    // emission: a merged session leaves the store once the watermark
    // passes its end (= last event + gap), which under AvailableNow is
    // the final no-data batch; trailing sessions younger than the
    // horizon correctly stay in state and are NOT emitted. The oracle
    // rebuilds the same sessions via gaps-and-islands and mirrors the
    // exact emission predicate (end + gap <= floor-ms(max event time)
    // - delay).
    // The GATE is a per-user rollup of the emitted sessions, not the
    // session list itself: the memory sink holds every emitted session,
    // and collecting them all made the gate's cost scale with emission
    // volume (6.6× at the 10× fixture — pure gate cost, not data path).
    // The rollup still proves the Append emission predicate exactly — a
    // session wrongly emitted or wrongly held back changes n_sessions
    // and the order-independent arithmetic fingerprint — while the
    // collect is bounded by |users|. The raw session list stays
    // reachable via [[sessionWindowSessions]] for the q70 cross-spec.
    "q154_stream_session_window" -> ((s, dir) =>
      sessionWindowRun(s, dir) { sinkTable =>
        sinkTable
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            sum(col("end_us") - col("start_us")).as("dur_us"),
            min(col("start_us")).as("first_start_us"),
            max(col("end_us")).as("last_end_us"),
            sum((col("start_us") % 999983L) * 1000000L +
              (col("end_us") % 999983L) + col("n_events")).as("sess_fp"))
          .orderBy("user_id")
      }),

    // E143 oracle-gated: continuous-ingest near-dup screening — the
    // STREAMING face of q138. New documents arrive as a stream; their
    // MinHash signatures and LSH band keys are computed IN the
    // micro-batch (the custom codegen Expressions run inside the
    // incremental engine), and each band key probes the established
    // corpus's banded index via a stream-static equi-join —
    // stateless, Append-mode, no watermark needed (an equi-join
    // against a static side holds no stream state). The gated result
    // is q138's exact per-delta-doc best-match report, assembled
    // post-sink from the emitted candidate rows, so the DuckDB twin
    // (identical SQL to q138's) proves the screen's STREAMING
    // execution is bit-identical to its batch execution. At 100 TB:
    // per-micro-batch work ∝ new docs × bands; the index side is the
    // deployment's persisted artifact (here re-derived from the
    // fixture because the gate must be self-contained).
    "q158_stream_delta_dedup" -> ((s, dir) => gateRun(s, "q158") { root =>
      import graft.functions.TextFunctions.{tokens, minhashK, minhashBands, minhashBandRows}
      val src = Paths.get(s"$dir/documents.parquet")
      def sigOf(df: DataFrame) = df
        .select(col("doc_id"), array_distinct(
          graft.functions.ShingleHash(tokens(col("text")), 3)).as("hs"))
        .select(col("doc_id"),
          graft.functions.MinHashSig(col("hs")).as("sig"))
        .where(col("sig").isNotNull)
      val bandStructs = (0 until minhashBands).map { b =>
        struct(lit(b).as("band"),
          element_at(col("sig"), b * minhashBandRows + 1).as("h1"),
          element_at(col("sig"), b * minhashBandRows + 2).as("h2"))
      }
      def bands(df: DataFrame) = df
        .select(col("doc_id"), col("sig"),
          explode(array(bandStructs: _*)).as("bk"))
        .select(col("doc_id"), col("sig"),
          col("bk.band").as("band"), col("bk.h1").as("h1"),
          col("bk.h2").as("h2"))
      val index = bands(sigOf(s.read.parquet(src.toString))
        .where(!inDelta(col("doc_id"))))
        .select(col("doc_id").as("match_id"), col("sig").as("si"),
          col("band"), col("h1"), col("h2"))
      // UNHINTED join (the q114/q152 rule): the index side is
      // corpus-scaled, so a pinned broadcast() would OOM the driver
      // at 100 TB — size stats broadcast it at gate scale, and a
      // deployment stores the index bucketed on the band key so the
      // per-micro-batch join shuffles only the arriving delta
      val matches = bands(sigOf(
          deltaStream(s, dir, root, "documents", "doc_id")))
        .join(index, Seq("band", "h1", "h2"))
        .select(col("doc_id"), col("match_id"),
          col("sig").as("sd"), col("si"))
      drainToMemory(s, root, matches) { sink =>
        // post-sink: q138's exact scoring over the emitted candidates
        // (distinct across bands, signature-estimate argmax, novel docs
        // NULL-extended from the delta's signature list)
        val cand = sink.distinct()
          .select(col("doc_id"), col("match_id"),
            size(filter(zip_with(col("sd"), col("si"), (x, y) => x === y),
              b => b)).cast("long").as("m"))
        val best = cand
          .withColumn("score", col("m") * lit(10000000L) - col("match_id"))
          .groupBy("doc_id")
          .agg(max_by(col("match_id"), col("score")).as("best_match"),
            (max_by(col("m"), col("score")).cast("double") / minhashK)
              .as("best_est"),
            count(lit(1)).as("n_candidates"))
        sigOf(s.read.parquet(src.toString))
          .where(inDelta(col("doc_id")))
          .select(col("doc_id"))
          .join(broadcast(best), Seq("doc_id"), "left")  // hint audit: delta-bounded (per-delta-doc best match)
          .select(col("doc_id"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
            col("best_match"), col("best_est"))
          .orderBy("doc_id")
      }
    }),

    // E148 oracle-gated: STREAMING index ingest — the streaming face
    // of q163, and the suite's only Complete-mode stateful
    // aggregation (every other gate emits Append): the delta batch's
    // (term, shard) postings aggregate INSIDE the incremental engine
    // (state-store-backed collect_list — Complete emission needs no
    // watermark), then merge post-sink with the persisted old-corpus
    // index exactly as q163 does. Delta doc_ids are disjoint from old
    // ones, so the merged index ≡ the from-scratch index — the oracle
    // is q98's twin verbatim, proving the STREAMING build path
    // bit-identical to both the batch and the incremental-batch
    // paths. At 100 TB: in-stream state ∝ the delta's (term, shard)
    // cardinality, the old index is never re-derived from text.
    // E245 oracle-gated: streaming point-in-time enrichment — ONLINE
    // feature serving: probe observations arrive as a stream and each
    // micro-batch stream-static joins the persisted q74/q256 SCD2
    // interval table (valid_from <= t < valid_to, current rows open) —
    // stateless, Append-mode, no watermark (a static join side holds
    // no stream state). The oracle is q256's twin VERBATIM: the
    // streaming interval lookup and the batch union+window formulation
    // are two different algorithms held to one gated contract, the
    // strongest cross-check in the PIT family. At 100 TB the static
    // side is the feature store's persisted compact history (∝
    // attribute changes, not events), broadcast or bucket-joined per
    // micro-batch; per-batch work ∝ arriving observations.
    "q259_stream_pit" -> ((s, dir) => gateRun(s, "q259") { root =>
      val events = fixtureStream(s, dir, root, "events")
      // the static side IS the q74 gate's history — one definition
      // (scd2Frame), renamed to the serving row's column contract
      val scd2 = graft.queries.PipelineOpsQueries.scd2Frame(s, dir)
        .select(col("user_id"), col("event_type").as("pit_type"),
          col("version").as("pit_version"),
          col("valid_from_us").as("valid_from"),
          col("valid_to_us").as("valid_to"))
      val probes = events
        .where(col("event_id") %
          graft.queries.PipelineOpsQueries.pitProbeMod === 0)
        .select(col("user_id"), col("event_id").as("probe_id"),
          tsUs(events.schema).as("asof_us"))
      val joined = probes.join(scd2,
          probes("user_id") === scd2("user_id") &&
            col("valid_from") <= col("asof_us") &&
            (col("valid_to").isNull || col("asof_us") < col("valid_to")))
        .select(probes("user_id"), col("probe_id"), col("asof_us"),
          col("pit_type"), col("pit_version"))
      drainToMemory(s, root, joined) { sink =>
        sink.orderBy("user_id", "asof_us", "probe_id")
      }
    }),

    "q164_stream_index" -> ((s, dir) => gateRun(s, "q164") { root =>
      val src = Paths.get(s"$dir/documents.parquet")
      // the SHARED index aggregation (CorpusOpsQueries.shardedIndex)
      // applied to the streaming frame — one contract, three build
      // paths
      val deltaIdx = graft.queries.CorpusOpsQueries.shardedIndex(
        deltaStream(s, dir, root, "documents", "doc_id"))
      drainToMemory(s, root, deltaIdx, OutputMode.Complete) { sink =>
        val oldIdx = graft.queries.CorpusOpsQueries.shardedIndex(
          s.read.parquet(src.toString)
            .where(!inDelta(col("doc_id"))))
        oldIdx.union(sink)
          .groupBy("term", "shard")
          .agg(sum(col("df_shard")).as("df_shard"),
            array_join(array_sort(flatten(collect_list(col("postings")))), ",")
              .as("postings"))
          .orderBy("term", "shard")
      }
    }),

    // Update-mode gate — completes the engine's emission-mode triangle
    // (ten Append gates, one Complete gate, and now Update): the
    // events fixture is staged as TWO files processed as TWO
    // micro-batches (maxFilesPerTrigger=1, mtime-ordered halves), so
    // keys present in both halves are emitted TWICE — batch 1 with
    // partial values, batch 2 with the state-accumulated totals.
    // foreachBatch records (batchId, row); the gate pins BOTH facets
    // of Update semantics: the last emission per key must equal the
    // batch aggregate over ALL data (state accumulation across
    // batches), and the emission count per key must equal the number
    // of halves containing the key (re-emission on update, silence
    // otherwise). The oracle derives both from the fixture alone. At
    // 100 TB this is the live-dashboard upsert path: per-batch output
    // ∝ keys touched by the batch, state ∝ distinct keys (a
    // deployment bounds it with a watermark or TTL).
    "q173_stream_update_mode" -> ((s, dir) => gateRun(s, "q173") { root =>
      val src = Paths.get(s"$dir/events.parquet")
      val stage = Staged.dir(root, "src")
      val ckpt = Staged.dir(root, "ckpt")
      val batch = s.read.parquet(src.toString)
      val schema = batch.schema
      def stageHalf(rem: Int, name: String, mtimeMs: Long): Unit =
        landFile(batch.where(col("user_id") % 2 === rem),
          stage.resolve(name), Some(mtimeMs))
      val now = System.currentTimeMillis()
      stageHalf(0, "half0.parquet", now - 120000)
      stageHalf(1, "half1.parquet", now - 60000)
      val agg = fileStream(s, stage, schema, perFile = true)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(dec2)).as("sv"))
      val emitted =
        scala.collection.mutable.ArrayBuffer[(Long, String, Long, java.math.BigDecimal)]()
      agg.writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, id: Long) =>
          val rs = df.collect()
          emitted.synchronized {
            emitted ++= rs.map(r =>
              (id, r.getString(0), r.getLong(1), r.getDecimal(2)))
          }
          ()
        }
        .start()
        .awaitTermination()
      val fin = emitted.synchronized {
        emitted.groupBy(_._2).toSeq.map { case (et, rows) =>
          val last = rows.maxBy(_._1)
          (et, last._3, last._4.doubleValue(), rows.size.toLong)
        }.sortBy(_._1)
      }
      import s.implicits._
      fin.toDF("event_type", "n_events", "sum_value", "n_emissions")
    }),

    // TTL-bounded streaming dedup: `dropDuplicatesWithinWatermark` —
    // the state-BOUNDED variant of q69's key-only dedup (whose state
    // grows with distinct keys forever; this one's is evicted at
    // first_seen + delay, the bound every 100 TB deployment actually
    // configures). The fixture is staged as THREE time-ordered thirds
    // (maxFilesPerTrigger=1) so the gate pins the full semantics
    // StreamDedupTtlSpec discovered on synthetic data: eviction runs
    // at END of batch with that batch's own watermark (floor-ms max −
    // delay) and `expiry <= wm`; lookups are presence-only (an
    // expired-but-not-yet-cleaned key still suppresses); suppressed
    // duplicates do NOT refresh expiry. A key therefore re-emits in
    // batch 3 iff its first third-1 time + delay <= the watermark in
    // effect during batch 2. The oracle derives every emission count
    // from the fixture alone via exactly that rule — valid because
    // the fixture is ts-sorted with distinct timestamps (per-key
    // arrival order = ts order, so state's "first" = min ts) and each
    // staged third is one file → one scan task at gate scale. Per-key
    // state is one (key, expiry) row ∝ keys live inside the delay
    // horizon — the production memory bound.
    "q178_stream_dedup_ttl" -> ((s, dir) => gateRun(s, "q178") { root =>
      val stage = Staged.dir(root, "src")
      val schema = stageTimeThirds(s, dir, stage)
      val dedup = watermarked(fileStream(s, stage, schema, perFile = true),
          s"${ttlDelayUs / 1000000L} seconds")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      drainToMemory(s, root, dedup) { sink =>
        sink.groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n_emissions"))
          .orderBy("user_id", "event_type")
      }
    }),

    // Streaming template EMERGENCE — the reference's "Automated
    // alerting" roadmap item (README.md:254) in its most log-native
    // form, composed from gated parts: q183's template extraction runs
    // INSIDE the micro-batch (scan-stage regexp_replace through the
    // incremental engine), and each arriving line's template is
    // stream-static ANTI-joined against the known-template catalog —
    // templates mined from the history window (the first two
    // time-thirds) with >= 1% line support, the min-support rule every
    // Drain-style catalog applies (low-support masks are noise, not
    // schema). Unknown templates pass the screen and emit Append-mode
    // (stateless — an anti-join against a static side holds no stream
    // state, no watermark needed); the gate rolls up the emitted lines
    // per emergent template. At 100 TB: per-micro-batch work is one
    // scan-stage regex + a broadcast-hash anti-probe against the
    // template-bounded catalog (log formats are finite); the catalog
    // is the deployment's persisted artifact, here re-derived from the
    // fixture because the gate must be self-contained (q158's
    // premise).
    "q188_stream_template_emergence" -> ((s, dir) => gateRun(s, "q188") { root =>
      import graft.queries.LogDomainQueries
      // the screened slice (the most recent third) streams as ONE file
      val (history, recent) = recentThird(s, dir, root)
      // the catalog: history-window templates with >= 1% support
      val histT = history
        .select(LogDomainQueries.Corpus.templateOf(col("line")).as("template"))
        .groupBy("template").agg(count(lit(1)).as("n_lines"))
      val totalHist = histT.agg(sum(col("n_lines"))).head().getLong(0)
      val catalog = histT.where(col("n_lines") * 100L >= totalHist)
        .select("template")
      val emergent = recent
        .select(col("node"), col("event_id"),
          LogDomainQueries.Corpus.templateOf(col("line")).as("template"))
        .join(broadcast(catalog), Seq("template"), "left_anti")  // hint audit: template-catalog-bounded (log formats are finite)
      drainToMemory(s, root, emergent) { sink =>
        sink.groupBy("template")
          .agg(count(lit(1)).as("n_lines"),
            countDistinct(col("node")).as("n_nodes"),
            min(col("event_id")).as("first_event"))
          .orderBy("template")
      }
    }),

    // STREAMING vector ingest — completes the VECTOR tier's build-path
    // triangle exactly as q164 completed the text index's (batch q168
    // / incremental q186 / streaming THIS): delta embeddings arrive as
    // a stream, and the full encode — milli quantization, argmax-
    // cosine cell assignment, per-subspace codeword argmin — runs
    // INSIDE the micro-batch as pure codegen projections (codebook +
    // centroids are frozen driver-side literals, so the map is
    // stateless; Append, no watermark). Post-sink, the emitted
    // (vec_id, cell, packed_code, qerr) rows roll up through the SAME
    // pqCellIndex definition and merge with the persisted old-corpus
    // index exactly as q186 — delta vec_ids disjoint ⇒ merged ≡
    // from-scratch, and the oracle IS q186's from-scratch twin
    // verbatim, proving the STREAMING build path bit-identical to both
    // batch paths. At 100 TB: per-micro-batch work ∝ arriving vectors;
    // the old index is never re-derived from raw embeddings.
    "q204_stream_vec_ingest" -> ((s, dir) => gateRun(s, "q204") { root =>
      import graft.queries.SimilarityQueries
      val deltaCodes = SimilarityQueries.pqCodeRowsFor(s, dir,
        deltaStream(s, dir, root, "embeddings", "vec_id"))
      drainToMemory(s, root, deltaCodes) { sink =>
        val oldIdx = SimilarityQueries.pqCellIndexOf(
          SimilarityQueries.pqCodeRowsFor(s, dir,
            graft.queries.Tables(s, dir, "embeddings")
              .where(!inDelta(col("vec_id")))))
        val deltaIdx = SimilarityQueries.pqCellIndexOf(sink)
        oldIdx.union(deltaIdx)
          .groupBy("cell")
          .agg(sum(col("n_members")).as("n_members"),
            sum(col("sum_qerr")).as("sum_qerr"),
            sum(col("code_fp")).as("code_fp"),
            array_join(array_sort(flatten(collect_list(col("postings")))), ",")
              .as("postings"))
          .orderBy("cell")
      }
    }),

    // STREAMING frontier ingest — completes the CRAWL tier's
    // build-path triangle exactly as q164 completed the text index's
    // and q204 the vector tier's (batch q217 / incremental q219 /
    // streaming THIS): delta documents arrive as a stream, their URLs
    // weave + canonicalize + keep-first-aggregate INSIDE the
    // incremental engine through the SAME shared frontierKeptOf
    // definition (Complete mode — the kept-frame agg is stateful with
    // state ∝ the delta's canonical cardinality, no watermark needed);
    // post-sink the emitted delta kept-frame merges with the persisted
    // old frontier via the SAME frontierMerge and schedules via the
    // SAME frontierSchedule, and the oracle is q217's from-scratch
    // twin VERBATIM — streaming build ≡ incremental ≡ from-scratch.
    "q221_stream_frontier" -> ((s, dir) => gateRun(s, "q221") { root =>
      import graft.queries.CrawlOpsQueries
      val deltaKept = CrawlOpsQueries.frontierKeptOf(
        deltaStream(s, dir, root, "documents", "doc_id"))
      drainToMemory(s, root, deltaKept, OutputMode.Complete) { sink =>
        val old = CrawlOpsQueries.frontierKept(s, dir, !inDelta(col("doc_id")))
        CrawlOpsQueries.frontierSchedule(
            CrawlOpsQueries.frontierMerge(old, sink))
          .orderBy("round", "host", "canonical_url")
      }
    }),

    // STREAMING graph-edge ingest — completes the GRAPH tier's
    // build-path triangle exactly as q164 did the text index's, q204
    // the vector tier's, and q221 the frontier's (batch q231 /
    // incremental q234 / streaming THIS): delta documents arrive as a
    // stream and their woven host→host links aggregate INSIDE the
    // incremental engine through the SAME shared hostEdges definition
    // (Complete mode — the (src, dst) count agg is stateful with state
    // ∝ the delta's edge cardinality, ≤ H², no watermark needed).
    // Post-sink the emitted delta edge list SUM-merges with the
    // persisted old edge list (associativity ⇒ merged ≡ from-scratch
    // exactly, q234's device) and the SAME pagerankFrom iterates the
    // merged graph; the oracle is q231's from-scratch twin VERBATIM —
    // streaming build ≡ incremental ≡ batch, hash-proven. At 100 TB:
    // per-batch cost ∝ arriving docs; the rank refresh was never
    // corpus-scale.
    "q237_stream_edges" -> ((s, dir) => gateRun(s, "q237") { root =>
      import graft.queries.CrawlOpsQueries
      val deltaEdges = CrawlOpsQueries.hostEdges(
        deltaStream(s, dir, root, "documents", "doc_id"))
      drainToMemory(s, root, deltaEdges, OutputMode.Complete) { sink =>
        val oldEdges = CrawlOpsQueries.hostEdges(
          graft.queries.Tables(s, dir, "documents")
            .where(!inDelta(col("doc_id"))))
        val merged = oldEdges.unionByName(sink)
          .groupBy("src", "dst").agg(sum(col("w")).as("w"))
        CrawlOpsQueries.pagerankFrom(merged)
      }
    }),

    // STREAMING moment-matrix ingest — the linear-algebra tier's
    // streaming face (batch q148 / incremental q240 / streaming THIS),
    // the same triangle the graph tier closed with q237: delta
    // embeddings stream in and fold through the SAME momentCells
    // definition — the Gramian TypedImperativeAggregate runs INSIDE
    // the incremental engine (Complete mode; its fixed d(d+1)/2-long
    // buffer IS the streaming state, serialized to the state store via
    // the aggregate's own serialize/merge — the mergeability q111
    // gated for the sketches, exercised here for the moment matrix).
    // Post-sink the emitted delta cells SUM-merge with the persisted
    // matrix (q240's device); oracle = q148's twin VERBATIM —
    // streaming ≡ incremental ≡ batch, hash-proven. At 100 TB: state
    // is ONE ~17 KB buffer regardless of arrival volume.
    "q241_stream_gramian" -> ((s, dir) => gateRun(s, "q241") { root =>
      import graft.queries.ModelOpsQueries
      val deltaCells = ModelOpsQueries.momentCells(
        deltaStream(s, dir, root, "embeddings", "vec_id"))
      drainToMemory(s, root, deltaCells, OutputMode.Complete) { sink =>
        val oldCells = ModelOpsQueries.momentCells(
          graft.queries.Tables(s, dir, "embeddings")
            .where(!inDelta(col("vec_id"))))
        ModelOpsQueries.momentReport(
          oldCells.unionByName(sink)
            .groupBy("i", "j").agg(sum(col("v")).as("v")))
      }
    }),

    // STREAMING semantic decontamination — the q203 screen run LIVE on
    // arriving vectors (the ingest-time guard: a training vector that
    // near-duplicates the benchmark slice should be flagged BEFORE it
    // lands in the corpus, not in a nightly batch): the delta
    // embedding batch streams in (q204's staging), and inside each
    // micro-batch the SAME shared decontamHits frame as the q203 gate
    // runs as a stateless stream-static broadcast screen (eval slice =
    // the static horizon-capped benchmark set), Append — no watermark,
    // no state. Post-sink, the emitted hits roll up through q203's
    // SAME decontamRollup, and the oracle is q203's SQL restricted to
    // the delta ids — the streaming screen proven identical to the
    // batch one. At 100 TB: per-batch cost ∝ arriving vectors × the
    // O(1) eval slice.
    "q218_stream_decontam" -> ((s, dir) => gateRun(s, "q218") { root =>
      import graft.queries.SimilarityQueries
      val hits = SimilarityQueries.decontamHits(s, dir,
        deltaStream(s, dir, root, "embeddings", "vec_id"))
      drainToMemory(s, root, hits) { sink =>
        SimilarityQueries.decontamRollup(sink)
          .orderBy("vec_id")
      }
    }),

    // STREAMING quality drift — corpus-health monitoring run live: the
    // q22/q174 quality score computed scan-stage INSIDE each
    // micro-batch, aggregated into event-time windows per source
    // (Append mode, watermark-gated emission — the q59 contract), then
    // each emitted window probes the bounded per-source baseline the
    // FULL corpus established, and |window mean − baseline mean| in
    // exact integer permille flags the drift a curation operator
    // alerts on (a source whose quality distribution moved = extractor
    // regression or upstream spam wave). Documents stage as THREE
    // doc_id-ordered files (thirds), so windows straddling a third
    // boundary accumulate state ACROSS micro-batches before the
    // watermark closes them — the incremental engine's accumulation
    // path is in the gate, not just single-batch emission. Event time
    // is doc_id seconds (arrival order = event order, so no batch can
    // carry rows late relative to the PREVIOUS batch's watermark —
    // emitted counts are complete; the oracle mirrors emission as
    // window_end <= floor-ms(global max) − delay). At 100 TB: per-batch
    // work is one scan + a (window × source)-keyed partial agg; state
    // ∝ open windows × sources, evicted on watermark advance; the
    // baseline probe is a bounded broadcast.
    "q209_stream_quality_drift" -> ((s, dir) => gateRun(s, "q209") { root =>
      import graft.functions.TextFunctions
      val stage = Staged.dir(root, "src")
      val batch = graft.queries.Tables(s, dir, "documents")
      // quality permille, identical on the batch (baseline) and
      // streaming (per-window) sides — the q174 construction
      def withQp(df: DataFrame): DataFrame = df
        .select(col("doc_id"), col("source"), col("text"),
          TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("source"),
          floor(TextFunctions.qualityScoreFromTokens(col("toks"),
            col("text")) * 1000).cast("long").as("qp"))
      val baseline = withQp(batch).groupBy("source")
        .agg(count(lit(1)).as("bn"), sum(col("qp")).as("bsum"))
        .select(col("source"), expr("bsum div bn").as("base_mean"))
      // three doc_id-ordered thirds, mtime-ordered (q178's staging)
      val schema = stageThirds(batch, col("doc_id"), stage)
      val agg = withQp(fileStream(s, stage, schema, perFile = true))
        .withColumn("event_time",
          timestamp_micros(col("doc_id") * lit(1000000L)))
        .withWatermark("event_time", s"${qualityDriftDelayUs / 1000000L} seconds")
        .groupBy(window(col("event_time"),
          s"${qualityDriftWindowUs / 1000000L} seconds"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("qp")).as("sum_qp"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("source"), col("n_docs"), col("sum_qp"))
      drainToMemory(s, root, agg) { sink =>
        sink.join(broadcast(baseline), Seq("source"))  // hint audit: dimension-bounded (per-source baseline; sources are a bounded set)
          .withColumn("batch_mean", expr("sum_qp div n_docs"))
          .withColumn("drift", col("batch_mean") - col("base_mean"))
          .withColumn("drift_flag",
            abs(col("drift")) > qualityDriftThreshold)
          .select(col("window_us"), col("source"), col("n_docs"),
            col("batch_mean"), col("base_mean"), col("drift"),
            col("drift_flag"))
          .orderBy("window_us", "source")
      }
    }),

    // Streaming slot-anomaly ALERTS — the value face of the alerting
    // roadmap (q188 surfaces unknown TEMPLATES; this fires on known
    // templates whose parameter VALUES leave their historical
    // envelope — q191's screen run live): per micro-batch, each
    // line's digit-run slots probe the broadcast (template, slot) →
    // [min, max] envelope mined from the history window, and
    // out-of-range values emit Append-mode (stateless — a
    // stream-static inner join + filter holds no stream state). The
    // gate rolls up alerts per (template, slot); the oracle replays
    // envelope + screen relationally. At 100 TB: scan-stage regex +
    // posexplode bounded by params/line + one broadcast probe per
    // micro-batch — the cheapest possible alerting path.
    "q199_stream_slot_anomaly" -> ((s, dir) => gateRun(s, "q199") { root =>
      import graft.queries.LogDomainQueries
      val (history, recent) = recentThird(s, dir, root)
      def slots(df: DataFrame) = df.select(
          LogDomainQueries.Corpus.templateOf(col("line")).as("template"),
          posexplode(LogDomainQueries.Corpus.numRuns(col("line")))
            .as(Seq("slot", "v")))
        .select(col("template"), col("slot").cast("long").as("slot"),
          col("v").cast("long").as("v"))
      val envelopes = slots(history)
        .groupBy("template", "slot")
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      val alerts = slots(recent)
        .join(broadcast(envelopes), Seq("template", "slot"))  // hint audit: (template x slot)-bounded (log formats are finite)
        .where(col("v") < col("lo") || col("v") > col("hi"))
        .select(col("template"), col("slot"), col("v"))
      drainToMemory(s, root, alerts) { sink =>
        sink.groupBy("template", "slot")
          .agg(count(lit(1)).as("n_alerts"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"))
          .orderBy("template", "slot")
      }
    }),

    // E39 oracle-gated: stream-static enrichment — the event stream
    // joins a BATCH dimension (nation, keyed by a derived user bucket)
    // inside the micro-batch; the static side broadcasts per batch, no
    // stream state, no stream shuffle. Aggregation happens post-sink
    // (the gated contract is the enriched row set).
    "q71_stream_enrich" -> ((s, dir) => gateRun(s, "q71") { root =>
      val events = fixtureStream(s, dir, root, "events")
      val dim = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_name"))
      val enriched = events
        .withColumn("n_nationkey", col("user_id") % 25)
        .join(broadcast(dim), "n_nationkey")  // hint audit: dimension table (25-row nation)
        .select(col("event_id"), col("n_name"),
          col("value").cast(dec2).as("v"))
      drainToMemory(s, root, enriched) { sink =>
        sink.groupBy("n_name")
          .agg(count(lit(1)).as("n_events"),
            sum(col("v")).cast("double").as("sum_value"))
          .orderBy("n_name")
      }
    }))

  /** The gap-session twin shared by q70 (flatMapGroupsWithState) and
    * q281 (transformWithState): gaps-and-islands sessions plus the
    * streaming emission predicate — matching it from BOTH stateful
    * operators is the operator-equivalence proof.
    */
  private def gapSessionsSql: String =
    s"""WITH t AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS prev_us
       |  FROM events),
       |m AS (
       |  SELECT *, CASE WHEN prev_us IS NULL
       |      OR ts_us - prev_us > $gapUs THEN 1 ELSE 0 END AS ns
       |  FROM t),
       |sess AS (
       |  SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS session_id
       |  FROM m),
       |agg AS (
       |  SELECT user_id, session_id, COUNT(*) AS n_events,
       |    MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
       |  FROM sess GROUP BY user_id, session_id),
       |mx AS (SELECT user_id, MAX(session_id) AS max_sid FROM agg
       |       GROUP BY user_id),
       |wm AS (SELECT MAX(epoch_ms(ts)) - ${delayUs / 1000} AS w FROM events)
       |SELECT a.user_id, a.session_id, a.n_events, a.start_us, a.end_us
       |FROM agg a JOIN mx ON a.user_id = mx.user_id
       |WHERE a.session_id < mx.max_sid
       |   OR (a.end_us // 1000) + $gapMs < (SELECT w FROM wm)
       |ORDER BY a.user_id, a.session_id""".stripMargin

  /** q59's twin, and q292's: the window arithmetic plus the Append-mode
    * emission predicate — the watermark is the ms-floored max event time
    * minus the delay, and only windows whose END has passed it are in
    * the output.
    */
  private def valueWindowsSql: String =
    s"""WITH e AS (SELECT (epoch_us(ts) // $windowUs) * $windowUs AS window_us,
       |                  event_type, value FROM events),
       |wm AS (SELECT MAX(epoch_ms(ts)) * 1000 - $delayUs AS w FROM events)
       |SELECT window_us, event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM e WHERE window_us + $windowUs <= (SELECT w FROM wm)
       |GROUP BY window_us, event_type
       |ORDER BY window_us, event_type""".stripMargin

  /** q287's twin, each version the cumulative time-thirds prefix of the
    * stream; q293 appends its fenced flag as `extra` columns.
    */
  private def ingestVersionsSql(extra: String): String =
    s"""WITH e AS (SELECT epoch_us(ts) AS us, event_id FROM events),
       |mm AS (SELECT MIN(us) AS tmin, MAX(us) AS tmax FROM e),
       |c AS (SELECT tmin + (tmax - tmin) // 3 AS t1,
       |        tmin + (tmax - tmin) * 2 // 3 AS t2 FROM mm),
       |r AS (
       |  SELECT 0 AS version, 1 AS n_files, us, event_id FROM e
       |  WHERE us < (SELECT t1 FROM c)
       |  UNION ALL
       |  SELECT 1, 2, us, event_id FROM e WHERE us < (SELECT t2 FROM c)
       |  UNION ALL
       |  SELECT 2, 3, us, event_id FROM e)
       |SELECT CAST(version AS BIGINT) AS version,
       |  CAST(n_files AS BIGINT) AS n_files,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(${graft.queries.ShapeOpsQueries.manifestTerm("event_id")})
       |    AS BIGINT) AS key_checksum$extra
       |FROM r GROUP BY version, n_files ORDER BY version""".stripMargin

  /** One version's per-source rollup of the documents where `pred`
    * holds, with `chars` as the measure: the row of the change-feed
    * consumers' oracles (q317, q328, q333).
    */
  private def sourceRollupSql(v: Int, chars: String, pred: String): String =
    s"""SELECT CAST($v AS BIGINT) AS version, source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM($chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(${graft.queries.ShapeOpsQueries
               .manifestTerm("doc_id")}) AS BIGINT) AS key_checksum
       |FROM documents WHERE $pred GROUP BY source""".stripMargin

  /** q317's twin, and q333's: every maintained version ≡ the
    * from-scratch as-of rollup, reconstructed from the q274 staging
    * predicates (v0 = the doc_id%3≠2 initial load, v1 = +delta, v2 = the
    * CoW delete) — q299's twin at EVERY version, not just the last.
    */
  private def lakeVersionsSql: String =
    s"""SELECT * FROM (
       |${sourceRollupSql(0, "n_chars", "doc_id % 3 <> 2")}
       |UNION ALL
       |${sourceRollupSql(1, "n_chars", "TRUE")}
       |UNION ALL
       |${sourceRollupSql(2, "n_chars", graft.queries.ShapeOpsQueries.sqlLakeV2Pred)}
       |) ORDER BY version, source""".stripMargin

  def oracle: Map[String, String] = Map(
    // the q163/q186 convention taken one step further: the oracle IS
    // the batch twin's SQL VERBATIM (one definition, zero drift) —
    // the streaming interval join must reproduce the batch
    // union+window PIT bit-for-bit
    "q259_stream_pit" ->
      graft.queries.PipelineOpsQueries.oracle("q256_pit_join"),
    "q59_stream_window" -> valueWindowsSql,
    "q69_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // q138's twin VERBATIM (`ModelOpsQueries.oracle`): streaming
    // execution of the delta screen must be bit-identical to the batch
    // execution
    "q158_stream_delta_dedup" ->
      graft.queries.ModelOpsQueries.oracle("q138_delta_dedup"),
    // the from-scratch twin (shared constant): the streaming-built
    // delta index merged with the old index must equal the full index
    // bit-for-bit (delta doc_ids are disjoint)
    "q164_stream_index" ->
      graft.queries.CorpusOpsQueries.fromScratchIndexSql,
    // q59's emission predicate + q86's sketch construction per window
    "q107_stream_kmv" -> {
      val k = streamKmvK
      val h = graft.functions.TextFunctions.sqlSpreadHash("CAST(user_id AS VARCHAR)")
      val p = graft.functions.TextFunctions.P
      s"""WITH e AS (SELECT (epoch_us(ts) // $windowUs) * $windowUs AS window_us,
         |                  event_type, $h AS h FROM events),
         |wm AS (SELECT MAX(epoch_ms(ts)) * 1000 - $delayUs AS w FROM events),
         |sk AS (SELECT window_us, event_type,
         |         list_sort(list_distinct(list(h)))[:$k] AS sketch
         |       FROM e WHERE window_us + $windowUs <= (SELECT w FROM wm)
         |       GROUP BY 1, 2)
         |SELECT window_us, event_type,
         |  array_to_string(sketch, ',') AS sketch_str,
         |  CASE WHEN len(sketch) >= $k
         |    THEN (${(k - 1).toDouble} * ${p.toDouble})
         |         / CAST(sketch[$k] AS DOUBLE)
         |    ELSE CAST(len(sketch) AS DOUBLE) END AS kmv_estimate
         |FROM sk ORDER BY window_us, event_type""".stripMargin
    },
    // q59's window arithmetic + emission predicate, then the prior
    // baseline as an UNBOUNDED..1-PRECEDING frame per event type —
    // the relational mirror of the state fold (COUNT over an empty
    // frame is 0; SUM is NULL, hence the COALESCE).
    "q130_stream_alerts" ->
      s"""WITH e AS (SELECT (epoch_us(ts) // $windowUs) * $windowUs AS window_us,
         |                  event_type FROM events),
         |wm AS (SELECT MAX(epoch_ms(ts)) * 1000 - $delayUs AS w FROM events),
         |wc AS (SELECT window_us, event_type, CAST(COUNT(*) AS BIGINT)
         |         AS n_events
         |       FROM e WHERE window_us + $windowUs <= (SELECT w FROM wm)
         |       GROUP BY 1, 2),
         |pr AS (SELECT *,
         |        CAST(COUNT(*) OVER p AS BIGINT) AS n_prior,
         |        CAST(COALESCE(SUM(n_events) OVER p, 0) AS BIGINT)
         |          AS sum_prior
         |       FROM wc WINDOW p AS (PARTITION BY event_type
         |         ORDER BY window_us
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT window_us, event_type, n_events, n_prior, sum_prior,
         |  n_events * n_prior > 2 * sum_prior AS is_spike
         |FROM pr ORDER BY window_us, event_type""".stripMargin,
    // q33's gap sessions + the streaming emission predicate: every
    // gap-closed session (session_id < user's max) emits in the data
    // batch; the final open session emits iff its event-time timeout
    // (end_ms + gap) has passed the final watermark (ms-floored max
    // event time minus the delay) — Spark fires the timeout when the
    // watermark advances STRICTLY beyond the set timestamp.
    "q70_stream_sessions" -> gapSessionsSql,
    // q281 is gated against q70's oracle VERBATIM, the one
    // `gapSessionsSql`: transformWithState
    // timers fire under the same strict-< watermark rule as
    // GroupState timeouts, so the two stateful operators must emit
    // the identical session set — the incremental-API cross-proof
    "q281_tws_sessions" -> gapSessionsSql,
    // both engine watermarks mirrored (see the q282 builder comment):
    // wm1 = floor-ms(max MIDDLE-third us) - delay is the late filter
    // the stragglers' batch sees (stats lag one batch behind
    // eviction); wm2 = floor-ms(global max) - delay is the final
    // emission horizon. A first-third (late) row survives iff its
    // window end > wm1; a window emits iff end <= wm2.
    "q282_stream_late_data" ->
      s"""WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
         |mm AS (SELECT MIN(us) AS tmin, MAX(us) AS tmax FROM e),
         |c AS (SELECT tmin + (tmax - tmin) // 3 AS t1,
         |        tmin + (tmax - tmin) * 2 // 3 AS t2, tmax FROM mm),
         |w1 AS (SELECT (MAX(us) // 1000) * 1000 - $delayUs AS wm
         |       FROM e, c WHERE us >= t1 AND us < t2),
         |w2 AS (SELECT (tmax // 1000) * 1000 - $delayUs AS wm FROM c),
         |r AS (SELECT us, event_type,
         |        (us // $windowUs) * $windowUs AS wstart,
         |        us >= (SELECT t1 FROM c) AS on_time FROM e),
         |kept AS (SELECT * FROM r
         |         WHERE on_time
         |            OR wstart + $windowUs > (SELECT wm FROM w1))
         |SELECT wstart AS window_us, event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n_events
         |FROM kept WHERE wstart + $windowUs <= (SELECT wm FROM w2)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the q79 match set rolled into 5-min windows of purchase time;
    // emission mirrors the SIMULATED downstream watermark — the
    // join's output watermark is wm − 30min (the right side's state
    // retention), wm = min over sides of floor-ms(side max) − delay
    "q283_stream_join_agg" ->
      s"""WITH p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events
         |      WHERE event_type = 'click'),
         |m AS (SELECT p.p_us FROM p JOIN c USING (user_id)
         |      WHERE c.c_us BETWEEN p.p_us - 1800000000 AND p.p_us),
         |wm AS (SELECT LEAST(
         |    (SELECT (MAX(p_us) // 1000) * 1000 FROM p),
         |    (SELECT (MAX(c_us) // 1000) * 1000 FROM c))
         |    - $delayUs - 1800000000 AS w)
         |SELECT (p_us // $windowUs) * $windowUs AS window_us,
         |  CAST(COUNT(*) AS BIGINT) AS n_matches
         |FROM m
         |WHERE (p_us // $windowUs) * $windowUs + $windowUs
         |  <= (SELECT w FROM wm)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q287_stream_lake_ingest" -> ingestVersionsSql(""),
    // each version of the materialized view = the cumulative-thirds
    // rollup at the (version, event_type) grain; the fold's decimal
    // exactness is what lets a value SUM hash-gate across three
    // incremental generations
    "q306_stream_matview" ->
      s"""WITH e AS (SELECT epoch_us(ts) AS us, event_type, value
         |           FROM events),
         |mm AS (SELECT MIN(us) AS tmin, MAX(us) AS tmax FROM e),
         |c AS (SELECT tmin + (tmax - tmin) // 3 AS t1,
         |        tmin + (tmax - tmin) * 2 // 3 AS t2 FROM mm),
         |r AS (
         |  SELECT 0 AS version, us, event_type, value FROM e
         |  WHERE us < (SELECT t1 FROM c)
         |  UNION ALL
         |  SELECT 1, us, event_type, value FROM e
         |  WHERE us < (SELECT t2 FROM c)
         |  UNION ALL
         |  SELECT 2, us, event_type, value FROM e)
         |SELECT CAST(version AS BIGINT) AS version, event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  version = 1 AS replay_fenced
         |FROM r GROUP BY version, event_type
         |ORDER BY version, event_type""".stripMargin,
    "q317_stream_cdf_consume" -> lakeVersionsSql,
    // every maintained version reconstructed logically: v1 applies
    // the update (+500 on the even/7≡3 slice — an aggregate a
    // key-netting consumer misses entirely), v2 drops the odd/5≡0
    // slice; counts v0→v1 equal, sums differ
    "q328_stream_cdf_update" -> {
      def row(v: Int, chars: String, pred: String) =
        sourceRollupSql(v, chars, pred)
      val upd = "CASE WHEN doc_id % 2 = 0 AND doc_id % 7 = 3 " +
        "THEN n_chars + 500 ELSE n_chars END"
      s"""SELECT * FROM (
         |${row(0, "n_chars", "TRUE")}
         |UNION ALL
         |${row(1, upd, "TRUE")}
         |UNION ALL
         |${row(2, upd, "NOT (doc_id % 2 = 1 AND doc_id % 5 = 0)")}
         |) ORDER BY version, source""".stripMargin
    },
    // q317's oracle VERBATIM, the one `lakeVersionsSql`: the
    // maintained versions must equal the from-scratch as-of rollups
    // whichever path produced them — bootstrap + tail here, full
    // replay there
    "q333_stream_bootstrap_tail" -> lakeVersionsSql,
    // every downstream version reconstructed logically (update applied
    // at v1, delete at v2); file counts from the granule arithmetic
    // (the downstream layout), rewrites structural — each change
    // commit's keys live in ONE granule
    "q329_stream_cdc_apply" -> {
      val g = graft.queries.ShapeOpsQueries.sqlLakeG
      val updP = s"(doc_id // $g = 1 AND doc_id % 7 = 3)"
      val delP = s"(doc_id // $g = 3 AND doc_id % 5 = 0)"
      val nf = s"(SELECT CAST(COUNT(DISTINCT doc_id // $g) AS BIGINT) " +
        "FROM documents)"
      def row(v: Int, nrw: Int, chars: String, pred: String) =
        s"""SELECT CAST($v AS BIGINT) AS version,
           |  $nf AS n_files,
           |  CAST($nrw AS BIGINT) AS n_files_rewritten,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM($chars) AS BIGINT) AS sum_chars,
           |  CAST(SUM(${graft.queries.ShapeOpsQueries
                 .manifestTerm("doc_id")}) AS BIGINT) AS key_checksum,
           |  CAST(SUM(doc_id * ($chars)) AS BIGINT) AS mix_checksum
           |FROM documents WHERE $pred""".stripMargin
      val upd = s"CASE WHEN $updP THEN n_chars + 500 ELSE n_chars END"
      s"""SELECT * FROM (
         |${row(0, 0, "n_chars", "TRUE")}
         |UNION ALL
         |${row(1, 1, upd, "TRUE")}
         |UNION ALL
         |${row(2, 1, upd, s"NOT $delP")}
         |) ORDER BY version""".stripMargin
    },
    // exactly-once across the resume: the split run's union must be
    // the one-continuous-run result — q59's SQL VERBATIM, the one
    // `valueWindowsSql` (same agg, same emission predicate)
    "q292_stream_restart_recovery" -> valueWindowsSql,
    // q287's cumulative-thirds reconstruction, unchanged by the
    // zombie replay (the fence's whole contract) + the fenced flag
    "q293_stream_sink_fencing" ->
      ingestVersionsSql(",\n  version = 1 AS replay_fenced"),
    "q79_stream_join" ->
      """WITH p AS (SELECT user_id, event_id AS p_event, epoch_us(ts) AS p_us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_event, epoch_us(ts) AS c_us
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.p_event, c.c_event, p.p_us - c.c_us AS delta_us
        |FROM p JOIN c USING (user_id)
        |WHERE c.c_us BETWEEN p.p_us - 1800000000 AND p.p_us
        |ORDER BY user_id, p_event, c_event""".stripMargin,
    // q70's gaps-and-islands sessions + the session_window emission
    // predicate: emitted iff merged end (last + gap) <= watermark
    "q154_stream_session_window" ->
      s"""WITH t AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS prev_us
         |  FROM events),
         |m AS (
         |  SELECT *, CASE WHEN prev_us IS NULL
         |      OR ts_us - prev_us > $gapUs THEN 1 ELSE 0 END AS ns
         |  FROM t),
         |sess AS (
         |  SELECT *, SUM(ns) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM m),
         |agg AS (
         |  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
         |    MIN(ts_us) AS start_us, MAX(ts_us) + $gapUs AS end_us
         |  FROM sess GROUP BY user_id, sid),
         |wm AS (SELECT MAX(epoch_ms(ts)) * 1000 - $delayUs AS w FROM events),
         |emitted AS (
         |  SELECT user_id, start_us, end_us, n_events
         |  FROM agg, wm WHERE end_us <= w)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(SUM(n_events) AS BIGINT) AS n_events,
         |  CAST(SUM(end_us - start_us) AS BIGINT) AS dur_us,
         |  MIN(start_us) AS first_start_us, MAX(end_us) AS last_end_us,
         |  CAST(SUM((start_us % 999983) * 1000000 + (end_us % 999983)
         |    + n_events) AS BIGINT) AS sess_fp
         |FROM emitted GROUP BY user_id
         |ORDER BY user_id""".stripMargin,
    "q146_stream_outer_join" ->
      """WITH p AS (SELECT user_id, event_id AS p_event, epoch_us(ts) AS p_us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_event, epoch_us(ts) AS c_us
        |      FROM events WHERE event_type = 'click'),
        |m AS (SELECT p.user_id, p.p_event, c.c_event,
        |        p.p_us - c.c_us AS delta_us
        |      FROM p JOIN c USING (user_id)
        |      WHERE c.c_us BETWEEN p.p_us - 1800000000 AND p.p_us),
        |wm AS (SELECT (least((SELECT max(p_us) FROM p) // 1000,
        |                     (SELECT max(c_us) FROM c) // 1000)
        |          - 600000) * 1000 AS thr_us)
        |SELECT user_id, p_event, c_event, delta_us FROM m
        |UNION ALL
        |SELECT p.user_id, p.p_event, CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT)
        |FROM p, wm
        |WHERE p.p_us < wm.thr_us
        |  AND NOT EXISTS (SELECT 1 FROM m WHERE m.p_event = p.p_event)
        |ORDER BY user_id, p_event, c_event""".stripMargin,
    "q71_stream_enrich" ->
      """SELECT n.n_name, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    // last-emission values = the full-data aggregate (state
    // accumulates across batches); n_emissions = how many of the two
    // user_id-parity halves contain the key (Update re-emits exactly
    // the updated keys, once per updating batch)
    "q173_stream_update_mode" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id % 2) AS BIGINT) AS n_emissions
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the StreamDedupTtlSpec-pinned rule replayed from the fixture:
    // batch-2 watermark = floor-ms(max third-1 time) − delay; a key
    // re-emits in batch 3 iff first seen in third 1 with
    // first + delay <= that watermark (end-of-batch-2 cleanup), else
    // its only extra emission is a third-2 first occurrence
    // the emergence rule replayed relationally: templates over the
    // whole fixture, history = the first two time-thirds, catalog =
    // history templates with >= 1% line support, emergent = screened-
    // slice templates outside the catalog (the event_id join recovers
    // exact-µs time, which sqlCte's ms-string ts_str cannot)
    "q188_stream_template_emergence" -> {
      s"""${graft.queries.LogDomainQueries.Corpus.sqlCte},
         |tl AS (SELECT l.node, l.event_id,
         |         regexp_replace(l.line, '[0-9]+', '<N>', 'g') AS template,
         |         epoch_us(e.ts) AS us
         |       FROM ev_lines l JOIN events e USING (event_id)),
         |b AS (SELECT MIN(us) + (MAX(us) - MIN(us)) * 2 // 3 AS cut FROM tl),
         |hist AS (SELECT template, COUNT(*) AS n FROM tl
         |         WHERE us < (SELECT cut FROM b) GROUP BY 1),
         |tot AS (SELECT SUM(n) AS t FROM hist),
         |cat AS (SELECT template FROM hist
         |        WHERE n * 100 >= (SELECT t FROM tot))
         |SELECT template, CAST(COUNT(*) AS BIGINT) AS n_lines,
         |  CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes,
         |  MIN(event_id) AS first_event
         |FROM tl WHERE us >= (SELECT cut FROM b)
         |  AND template NOT IN (SELECT template FROM cat)
         |GROUP BY 1 ORDER BY template""".stripMargin
    },

    // q186's from-scratch twin VERBATIM (the q164↔q98 sharing applied
    // to the vector tier): streaming-built delta codes merged with the
    // old index must equal the full-corpus index bit-for-bit
    "q204_stream_vec_ingest" ->
      graft.queries.SimilarityQueries.oracle("q186_pq_delta_index"),

    // q217's from-scratch twin VERBATIM (the q164↔q98 / q204↔q186
    // sharing applied to the crawl tier): the streaming-built frontier
    // must equal full-corpus scheduling
    "q221_stream_frontier" ->
      graft.queries.CrawlOpsQueries.oracle("q217_crawl_frontier"),

    // q231's from-scratch twin VERBATIM (the q164↔q98 / q204↔q186 /
    // q221↔q217 sharing applied to the graph tier): the streaming-built
    // edge list must yield the full-corpus PageRank
    "q237_stream_edges" ->
      graft.queries.CrawlOpsQueries.oracle("q231_host_pagerank"),

    // q148's from-scratch twin VERBATIM: the streaming-built moment
    // matrix must equal the full-corpus one
    "q241_stream_gramian" ->
      graft.queries.ModelOpsQueries.oracle("q148_gramian"),

    // q203's SQL twin restricted to the delta ids: the streaming
    // screen must equal the batch screen on the slice it saw
    "q218_stream_decontam" -> {
      val base = graft.queries.SimilarityQueries.oracle("q203_semantic_decontam")
      val lo = graft.queries.ModelOpsQueries.deltaLo
      val hi = graft.queries.ModelOpsQueries.deltaHi
      s"""WITH q203 AS ($base)
         |SELECT * FROM q203
         |WHERE vec_id >= $lo AND vec_id < $hi
         |ORDER BY vec_id""".stripMargin
    },

    // windowed per-source quality means vs the whole-corpus baseline,
    // with q59's emission predicate (window_end <= floor-ms(max) −
    // delay) deciding which windows the Append stream flushed
    "q209_stream_quality_drift" -> {
      val q = graft.functions.TextFunctions.sqlQualityScore("text")
      val wUs = qualityDriftWindowUs
      s"""WITH q AS (SELECT doc_id, source,
         |    CAST(floor(($q) * 1000) AS BIGINT) AS qp
         |  FROM documents),
         |b AS (SELECT source, CAST(SUM(qp) AS BIGINT) // COUNT(*) AS base_mean
         |      FROM q GROUP BY source),
         |mx AS (SELECT MAX(doc_id) * 1000000 AS max_us FROM q),
         |w AS (SELECT (doc_id * 1000000 // $wUs) * $wUs AS window_us, source,
         |        COUNT(*) AS n_docs, CAST(SUM(qp) AS BIGINT) AS sum_qp
         |      FROM q GROUP BY 1, 2),
         |e AS (SELECT w.* FROM w, mx
         |      WHERE w.window_us + $wUs <=
         |        (mx.max_us // 1000) * 1000 - $qualityDriftDelayUs)
         |SELECT e.window_us, e.source, e.n_docs,
         |  e.sum_qp // e.n_docs AS batch_mean, b.base_mean,
         |  e.sum_qp // e.n_docs - b.base_mean AS drift,
         |  abs(e.sum_qp // e.n_docs - b.base_mean) > $qualityDriftThreshold
         |    AS drift_flag
         |FROM e JOIN b USING (source)
         |ORDER BY window_us, source""".stripMargin
    },

    // q191's envelope + screen replayed relationally, restricted to
    // the out-of-range emissions the stream alerts on
    "q199_stream_slot_anomaly" ->
      s"""${graft.queries.LogDomainQueries.Corpus.sqlCte},
         |tl AS (SELECT l.event_id,
         |         regexp_replace(l.line, '[0-9]+', '<N>', 'g') AS template,
         |         regexp_extract_all(l.line, '[0-9]+') AS vals,
         |         epoch_us(e.ts) AS us
         |       FROM ev_lines l JOIN events e USING (event_id)),
         |b AS (SELECT MIN(us) + (MAX(us) - MIN(us)) * 2 // 3 AS cut FROM tl),
         |sv AS (SELECT template, us,
         |         unnest(list_transform(range(1, len(vals) + 1), i ->
         |           struct_pack(slot := CAST(i - 1 AS BIGINT),
         |             v := CAST(vals[CAST(i AS INT)] AS BIGINT)))) AS u
         |       FROM tl),
         |s2 AS (SELECT template, us, (u).slot AS slot, (u).v AS v FROM sv),
         |hist AS (SELECT template, slot, MIN(v) AS lo, MAX(v) AS hi
         |         FROM s2 WHERE us < (SELECT cut FROM b) GROUP BY 1, 2)
         |SELECT s.template, s.slot, CAST(COUNT(*) AS BIGINT) AS n_alerts,
         |  CAST(MIN(s.v) AS BIGINT) AS min_v, CAST(MAX(s.v) AS BIGINT) AS max_v
         |FROM s2 s JOIN hist h USING (template, slot)
         |WHERE s.us >= (SELECT cut FROM b) AND (s.v < h.lo OR s.v > h.hi)
         |GROUP BY 1, 2 ORDER BY template, slot""".stripMargin,

    "q178_stream_dedup_ttl" ->
      s"""WITH t AS (SELECT user_id, event_type, epoch_us(ts) AS us
         |      FROM events),
         |b AS (SELECT MIN(us) AS tmin, MAX(us) AS tmax FROM t),
         |s AS (SELECT user_id, event_type, us,
         |        CASE WHEN us < tmin + (tmax - tmin) // 3 THEN 0
         |             WHEN us < tmin + (tmax - tmin) * 2 // 3 THEN 1
         |             ELSE 2 END AS third
         |      FROM t, b),
         |wm AS (SELECT MAX(us // 1000) * 1000 - $ttlDelayUs AS w2
         |      FROM s WHERE third = 0),
         |k AS (SELECT user_id, event_type,
         |        MAX(CASE WHEN third = 0 THEN 1 ELSE 0 END) AS in1,
         |        MAX(CASE WHEN third = 1 THEN 1 ELSE 0 END) AS in2,
         |        MAX(CASE WHEN third = 2 THEN 1 ELSE 0 END) AS in3,
         |        MIN(CASE WHEN third = 0 THEN us END) AS first1
         |      FROM s GROUP BY 1, 2)
         |SELECT user_id, event_type,
         |  CAST(in1
         |    + CASE WHEN in2 = 1 AND in1 = 0 THEN 1 ELSE 0 END
         |    + CASE WHEN in3 = 1 AND ((in1 = 0 AND in2 = 0)
         |        OR (in1 = 1 AND first1 + $ttlDelayUs <= (SELECT w2 FROM wm)))
         |      THEN 1 ELSE 0 END AS BIGINT) AS n_emissions
         |FROM k ORDER BY user_id, event_type""".stripMargin)
}
