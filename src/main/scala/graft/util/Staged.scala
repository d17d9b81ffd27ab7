package graft.util

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The one staging and cleanup policy for files the engine writes
  * outside its inputs. Two kinds exist:
  *
  *  - '''Masters''' ([[memo]]): deterministic artifacts derived from a
  *    corpus and build constants (the structured fixture, stored graph
  *    and k-NN artifacts, the lake master). Each is staged once per
  *    host under `/tmp/<key>` and shared by every later call, so a
  *    gate reads a stored artifact instead of rebuilding it. The key
  *    names every input the content depends on; a corpus path enters
  *    it through [[pathKey]] (the sanitized absolute path, which
  *    collides only with itself, unlike a hash). A master is filled
  *    in a temp dir beside its target (same filesystem, so the rename
  *    is atomic), gets the [[Marker]] file, and is published with one
  *    atomic rename; a writer that loses the rename race deletes its
  *    own copy. A root without the marker is torn (a tmp cleaner or a
  *    writer that died mid-publish) and is rebuilt. Masters are
  *    immutable and never aged out in-process, because a concurrent
  *    Verify/Bench may be reading a sibling: a host reclaims space by
  *    deleting any `/tmp/graft-{struct,structg,knnart,lake}-*` entry,
  *    and the next call restages it.
  *  - '''Scratch''' ([[scratch]]): one private root per gate
  *    invocation under [[scratchBase]] (tmpfs when `/dev/shm` is
  *    writable, since local-disk fsync was ~20 % of a streaming gate's
  *    fixed cost, else `java.io.tmpdir`). A gate that needs several
  *    dirs uses named subdirectories of the root ([[dir]]). The result
  *    is detached into a local relation before the root is deleted, so
  *    nothing a returned frame reads lives in the root; every
  *    `graft-*` entry under the base belongs to a running gate.
  */
object Staged {

  /** The completion marker a published master carries. */
  val Marker = "_staged_ok"

  private val masterBase = Paths.get("/tmp")

  val scratchBase: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
    else Paths.get(sys.props("java.io.tmpdir"))
  }

  /** A corpus (or master) path as a key component. */
  def pathKey(p: String): String =
    Paths.get(p).toAbsolutePath.toString.replaceAll("[^A-Za-z0-9._-]", "-")

  /** The master root for `key`, staged by `fill` (which writes into the
    * dir it is given) unless a complete one is already published. `fill`
    * runs in a temp dir that is renamed onto [[masterRoot]]`(key)`;
    * content that names its own location must name the final root.
    */
  def memo(key: String)(fill: Path => Unit): Path = {
    val root = masterRoot(key)
    val ok = root.resolve(Marker)
    // root first: a publish landing between the two checks then reads
    // as complete, never as torn
    val rootExists = Files.exists(root)
    if (!rootExists || !Files.exists(ok)) {
      if (rootExists) FileUtils.deleteRecursively(root)
      val stage = Files.createTempDirectory(masterBase, s"$key.stage-")
      try {
        fill(stage)
        Files.writeString(stage.resolve(Marker), "ok")
        try Files.move(stage, root, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: FileSystemException if Files.exists(root) => }
      } finally FileUtils.deleteRecursively(stage)
    }
    require(Files.exists(ok),
      s"staged master $root has no $Marker (tmp cleaned mid-run?)")
    root
  }

  def masterRoot(key: String): Path = masterBase.resolve(key)

  /** Runs `body` in a fresh scratch root and returns its result as a
    * local relation; the root is deleted afterwards, also on failure.
    */
  def scratch(s: SparkSession, name: String)(body: Path => DataFrame)
      : DataFrame = {
    val root = Files.createTempDirectory(scratchBase, s"graft-$name-")
    try local(s, body(root))
    finally FileUtils.deleteRecursively(root)
  }

  /** The named subdirectory of a scratch root, created. */
  def dir(root: Path, name: String): Path =
    Files.createDirectories(root.resolve(name))

  /** `df` collected to the driver and re-served as a local relation,
    * detached from every file and view it was computed from (a frame
    * that already is one is returned as it is). `maxRows` bounds the
    * collect for callers whose row count is an invariant rather than a
    * property of the data.
    */
  def local(s: SparkSession, df: DataFrame,
      maxRows: Int = Int.MaxValue): DataFrame =
    df.queryExecution.analyzed match {
      case r: LocalRelation if r.data.length <= maxRows => df
      case _ =>
        val rows = df.collect()
        require(rows.length <= maxRows,
          s"local: ${rows.length} rows exceed the declared bound " +
            s"$maxRows — refusing the driver-side collect")
        s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }
}
