package graft.util

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

/** The lake tier's manifest log (the Delta Lake design, VLDB 2020) —
  * the only code that knows its on-disk format.
  *
  * '''Layout''' under a table root `<root>`:
  *  - `_log/v<N>`: the manifest of version N, one parquet directory;
  *  - `_log/ckpt-v<N>`: a checkpoint, the resolved active set of
  *    version N (adds only, stats carried);
  *  - `_log/_last_checkpoint`: a text file naming the newest
  *    checkpoint's version (Delta's O(1) discovery pointer);
  *  - `_log/schema-v<N>`: version N's logical → physical column map;
  *  - `_log/stats-v<N>`: side per-file stats a commit records beyond
  *    the key range.
  *
  * '''Entry schema''': `action, path, min_id, max_id, commit_ts`.
  * `action` is `add`, `remove` or `dv` (a deletion-vector sidecar that
  * the file fold ignores); `min_id`/`max_id` are the file's key range,
  * `-1` ([[NoStats]]) on entries without stats (every remove, and adds
  * whose file has no key column); `commit_ts` is [[commitTsOf]] of the
  * version. A manifest may carry further per-file stat columns after
  * `max_id` (q302's multi-column stats); readers address the first
  * four by position, so older four-column manifests read the same.
  *
  * '''Commit''' ([[commit]]) is a put-if-absent: probe the version,
  * stage the manifest in a temp dir beside `_log`, and `ATOMIC_MOVE` it
  * onto `_log/v<N>`. The rename installs the whole manifest or fails
  * because the version exists, so readers never see a partial one and
  * two writers cannot both win a version. The temp dir is always
  * deleted; a loser deletes the data paths it passed in, and only
  * those. Data files are therefore named uniquely per attempt
  * ([[dataPath]]): two writers racing past the probe never touch each
  * other's files, and the loser's cleanup cannot delete the file the
  * winner's manifest points to.
  *
  * '''Reads''' are memoized per manifest directory, keyed by (absolute
  * path, mtime): a gate resolving snapshots re-reads the same immutable
  * manifests many times (an as-of fold at k versions replays v0..vk;
  * conflict analysis re-reads every manifest since a snapshot), and
  * each read was a full Spark job over a KB file. The memo is honest
  * because it is strictly intra-invocation: every gate stages its log
  * into a fresh per-invocation directory, so no entry is ever served
  * across bench passes or verify runs. Manifests are immutable once
  * published; the one in-place rewrite ([[rewritePaths]]) replaces the
  * directory via move, which changes its mtime; a deleted manifest
  * (q312's log retention) throws on the mtime probe, like the Spark
  * read it replaces.
  */
object LakeLog {

  /** One manifest entry: (action, path, min_id, max_id). */
  type Entry = (String, String, Long, Long)

  /** The stats sentinel of an entry without a key range. */
  val NoStats = -1L

  def add(path: String, min: Long = NoStats, max: Long = NoStats): Entry =
    ("add", path, min, max)

  def remove(path: String): Entry = ("remove", path, NoStats, NoStats)

  /** Deterministic per-version commit timestamps (epoch millis), so
    * timestamp time travel (q308) resolves against real metadata.
    * Staged, not wall-clock: strictly increasing (hourly spacing
    * dominates the jitter) and unevenly spaced, so an off-by-one
    * resolution shifts a gated row instead of hiding in a uniform grid.
    */
  def commitTsOf(v: Long): Long =
    1700000000000L + v * 3600000L + (v * 7919L) % 600000L

  private def logDir(root: String): Path = Paths.get(root, "_log")
  private def versionDir(root: String, v: Long): Path =
    logDir(root).resolve(s"v$v")
  private def ckptDir(root: String, v: Long): Path =
    logDir(root).resolve(s"ckpt-v$v")
  private def pointer(root: String): Path =
    logDir(root).resolve("_last_checkpoint")

  /** Whether `p` is a table's log directory (walks over data skip it). */
  def isLogDir(p: Path): Boolean = p.getFileName.toString == "_log"

  /** A fresh data path `<root>/<name>-<nonce>`, unique per attempt. */
  def dataPath(root: String, name: String): String =
    s"$root/$name-${java.util.UUID.randomUUID()}"

  /** Where version `v`'s side stats go. */
  def statsPath(root: String, v: Long): String =
    logDir(root).resolve(s"stats-v$v").toString

  def exists(root: String, v: Long): Boolean = Files.exists(versionDir(root, v))

  /** The contiguous versions v0, v1, … present on disk. */
  def versions(root: String): Seq[Long] =
    Iterator.from(0).map(_.toLong).takeWhile(exists(root, _)).toSeq

  /** Deletes version `v`'s manifest (log retention below a checkpoint). */
  def dropVersion(root: String, v: Long): Unit =
    FileUtils.deleteRecursively(versionDir(root, v))

  /** Copies `from`'s log into `to`'s, every entry or only v0..`upTo`. */
  def copyLog(from: String, to: String, upTo: Option[Long] = None): Unit =
    upTo match {
      case None => FileUtils.copyRecursively(logDir(from), logDir(to))
      case Some(last) => (0L to last).foreach(v =>
        FileUtils.copyRecursively(versionDir(from, v), versionDir(to, v)))
    }

  /** Rewrites the `path` column of every version manifest, `from` → `to`
    * (a log moved with its data).
    */
  def rewritePaths(s: SparkSession, root: String, from: String,
      to: String): Unit =
    FileUtils.listDir(logDir(root))
      .filter(_.getFileName.toString.startsWith("v"))
      .foreach { mdir =>
        val side = mdir.resolveSibling(mdir.getFileName.toString + ".rw")
        s.read.parquet(mdir.toString)
          .withColumn("path", expr(s"replace(path, '$from', '$to')"))
          .coalesce(1).write.mode("overwrite").parquet(side.toString)
        FileUtils.deleteRecursively(mdir)
        Files.move(side, mdir)
      }

  // ---- reads ----

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, (FileTime, Array[Row])]

  /** Collected rows of the manifest-scale parquet directory `dir`. */
  private def rows(s: SparkSession, dir: Path): Array[Row] = {
    val abs = dir.toAbsolutePath
    val key = abs.toString
    // missing path: drop any stale entry and throw like the read would
    val mt =
      try Files.getLastModifiedTime(abs)
      catch {
        case e: java.io.IOException => memo.remove(key); throw e
      }
    val hit = memo.get(key)
    if (hit != null && hit._1 == mt) hit._2
    else {
      val rs = s.read.parquet(key).collect()
      // manifests are metadata-sized; a runaway caller caching data
      // files would defeat the point AND hold rows forever — refuse
      require(rs.length <= 100000,
        s"LakeLog: $key has ${rs.length} rows — not manifest-scale")
      if (memo.size > 8192) memo.clear() // stage dirs are transient
      memo.put(key, (mt, rs))
      rs
    }
  }

  private def entry(r: Row): Entry =
    (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))

  /** Version `v`'s manifest rows, every column (schema attached). */
  def manifest(s: SparkSession, root: String, v: Long): Array[Row] =
    rows(s, versionDir(root, v))

  def entries(s: SparkSession, root: String, v: Long): Array[Entry] =
    manifest(s, root, v).map(entry)

  def commitTs(s: SparkSession, root: String, v: Long): Long =
    manifest(s, root, v).head.getAs[Long]("commit_ts")

  /** Every path added by versions v0..`upTo`, in log order. */
  def adds(s: SparkSession, root: String, upTo: Long): Seq[String] =
    (0L to upTo).flatMap(v =>
      entries(s, root, v).collect { case ("add", p, _, _) => p })

  /** The first path version `v` adds (a one-file version's data). */
  def firstAdd(s: SparkSession, root: String, v: Long): String =
    entries(s, root, v).collectFirst { case ("add", p, _, _) => p }.get

  // ---- folds ----

  /** The as-of(`v`) snapshot: the active (path, min_id, max_id)
    * entries and the number of manifest files read. Resolution starts
    * from the newest checkpoint ≤ v — found O(1) through
    * `_last_checkpoint` when the pointer is not ahead of v, by probing
    * versions backwards otherwise — and replays only the manifest
    * tail after it; with no checkpoint it folds v0..v. The replay is
    * ORDER-AWARE (Delta's semantic): each version's removes apply
    * before its adds, and a later add revives a path an earlier
    * version removed — the fold RESTORE (q326) depends on.
    */
  def asOf(s: SparkSession, root: String, v: Long)
      : (Seq[(String, Long, Long)], Long) = {
    val pointed = lastCheckpoint(root).filter(_ <= v)
    val ckpt = pointed.orElse(
      (v to 0L by -1L).find(c => Files.exists(ckptDir(root, c))))
    val active = scala.collection.mutable.LinkedHashMap.empty[
      String, (Long, Long)]
    ckpt.foreach(c => rows(s, ckptDir(root, c)).map(entry)
      .foreach { case (_, p, mn, mx) => active(p) = (mn, mx) })
    val lo = ckpt.map(_ + 1).getOrElse(0L)
    (lo to v).foreach { i =>
      val es = entries(s, root, i)
      es.foreach { case (a, p, _, _) => if (a == "remove") active.remove(p) }
      es.foreach { case (a, p, mn, mx) => if (a == "add") active(p) = (mn, mx) }
    }
    (active.toSeq.map { case (p, (mn, mx)) => (p, mn, mx) },
      (v - lo + 1) + ckpt.size.toLong)
  }

  /** The as-of(`v`) active file paths. */
  def files(s: SparkSession, root: String, v: Long): Seq[String] =
    asOf(s, root, v)._1.map(_._1)

  /** The reference fold — v0..v, no checkpoint shortcut. A separate
    * implementation on purpose: q301's `ckpt_matches_fold` proof
    * compares [[asOf]] against it, which would be a self-comparison if
    * one called the other.
    */
  def fullFold(s: SparkSession, root: String, v: Long): Seq[String] = {
    val active = scala.collection.mutable.LinkedHashSet.empty[String]
    (0L to v).foreach { i =>
      val es = entries(s, root, i)
      es.foreach { case (a, p, _, _) => if (a == "remove") active -= p }
      es.foreach { case (a, p, _, _) => if (a == "add") active += p }
    }
    active.toSeq
  }

  /** The version `_last_checkpoint` names, if any. */
  def lastCheckpoint(root: String): Option[Long] =
    Some(pointer(root)).filter(Files.exists(_))
      .map(p => Files.readString(p).trim.toLong)

  /** Paths referenced by the checkpoint `_last_checkpoint` names. */
  def checkpointFiles(s: SparkSession, root: String): Set[String] =
    rows(s, ckptDir(root, lastCheckpoint(root).get)).map(_.getString(1)).toSet

  /** Writes the checkpoint of version `v` — its resolved active set,
    * itself resolved through the previous checkpoint so checkpointing
    * never re-folds the whole log — and advances `_last_checkpoint`.
    */
  def checkpoint(s: SparkSession, root: String, v: Long): Unit = {
    val active = asOf(s, root, v)._1.map { case (p, mn, mx) => add(p, mn, mx) }
    frame(s, v, active).coalesce(1).write.mode("overwrite")
      .parquet(ckptDir(root, v).toString)
    Files.writeString(pointer(root), v.toString)
  }

  // ---- schema map ----

  def writeSchema(s: SparkSession, root: String, v: Long,
      mapping: Seq[(String, String)]): Unit = {
    import s.implicits._
    mapping.toDF("logical", "physical").coalesce(1).write.mode("overwrite")
      .parquet(logDir(root).resolve(s"schema-v$v").toString)
  }

  /** Version `v`'s (logical, physical) column pairs. */
  def schemaMap(s: SparkSession, root: String, v: Long): Seq[(String, String)] =
    rows(s, logDir(root).resolve(s"schema-v$v")).toSeq
      .map(r => r.getString(0) -> r.getString(1))

  // ---- commit ----

  private def entryFrame(s: SparkSession, entries: Seq[Entry]): DataFrame = {
    import s.implicits._
    entries.toDF("action", "path", "min_id", "max_id")
  }

  private def stamped(v: Long, manifest: DataFrame): DataFrame =
    manifest.withColumn("commit_ts", lit(commitTsOf(v)))

  /** `entries` as a manifest frame of version `v`. */
  def frame(s: SparkSession, v: Long, entries: Seq[Entry]): DataFrame =
    stamped(v, entryFrame(s, entries))

  /** Put-if-absent of version `v` with `entries`; false when the
    * version already exists or another writer won the rename, in which
    * case the `data` paths are deleted.
    */
  def commit(s: SparkSession, root: String, v: Long, entries: Seq[Entry],
      data: Seq[String] = Nil): Boolean =
    commitFrame(root, v, entryFrame(s, entries), data)

  /** [[commit]] of a manifest frame: the four entry columns, then any
    * extra per-file stats; `commit_ts` is appended.
    */
  def commitFrame(root: String, v: Long, manifest: DataFrame,
      data: Seq[String] = Nil): Boolean = {
    val target = versionDir(root, v)
    val won = !Files.exists(target) && {
      // NIO's atomic move does not create parents
      Files.createDirectories(logDir(root))
      val tmp = Files.createTempDirectory(Paths.get(root), s"commit-v$v-")
      try {
        val staged = tmp.resolve("m")
        stamped(v, manifest).coalesce(1).write.mode("overwrite")
          .parquet(staged.toString)
        try {
          Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
          true
        } catch {
          // lost the race to a concurrent rename
          case _: FileSystemException if Files.exists(target) => false
        }
      } finally FileUtils.deleteRecursively(tmp)
    }
    if (!won) data.foreach(p => FileUtils.deleteRecursively(Paths.get(p)))
    won
  }

  // ---- change set ----

  /** The change set between the rows of the `added` and `removed`
    * files: (inserts, deletes), each a left-anti join of one side
    * against the other on `keyCols`. Netting by the key (`doc_id`)
    * cancels rows a copy-on-write rewrite carries unchanged; netting by
    * the full row keeps an update's pre-image in the deletes and its
    * post-image in the inserts. `added` must be non-empty.
    */
  def changes(s: SparkSession, added: Seq[String], removed: Seq[String],
      keyCols: Seq[String]): (DataFrame, DataFrame) = {
    val a = s.read.parquet(added: _*)
    val r =
      if (removed.nonEmpty) s.read.parquet(removed: _*) else a.where(lit(false))
    def anti(x: DataFrame, y: DataFrame) =
      x.join(y.select(keyCols.map(col): _*), keyCols, "left_anti")
    (anti(a, r), anti(r, a))
  }
}
