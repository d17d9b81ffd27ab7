package perfbench

import scala.util.Random

/** Size and mix of one generated cluster: `nodes` system.log files of
  * `linesPerNode` lines each. The fractions are per-line draw
  * probabilities for the background mix; the five threshold-rule issue
  * types are planted with seeded totals instead (see [[LogGen.ruleTotals]]).
  */
final case class GenSpec(
    nodes: Int,
    linesPerNode: Int,
    blankFrac: Double = 0.01,
    warnFrac: Double = 0.03,
    errorFrac: Double = 0.006,
    traceFrac: Double = 0.5) {
  def describe: String =
    s"${nodes}x$linesPerNode lines, blank=$blankFrac warn=$warnFrac " +
      s"error=$errorFrac trace=$traceFrac"
}

/** Seeded Cassandra system.log generator. Lines follow the
  * `LEVEL [timestamp] [thread] Class.java:line - message` shape that
  * `graft.parse.LogLineParser.pattern` matches, mixed with blank lines
  * and unparsed stack-trace continuations (`java.lang.X: ...`,
  * `\tat ...`, `Caused by: ...`) after some ERROR heads.
  *
  * Every one of the 14 issue patterns gets hits. The five that
  * `ClusterAnalyzer.rules` thresholds (timeout, oom, tombstone, gc,
  * dropped) are planted with a seeded cluster-wide total drawn on both
  * sides of the rule's threshold, so which recommendations
  * `detect_issues` returns depends on the seed. Background templates are
  * written so that none of them matches one of those five patterns.
  */
object LogGen {

  final case class NodeLog(name: String, content: String, lines: Int)

  /** Seeded cluster-wide hit totals for the threshold rules; each range
    * straddles the rule's strict `>` threshold (10, 0, 5, 5, 10).
    */
  def ruleTotals(rnd: Random): Seq[(String, Int)] = Seq(
    "timeout" -> (4 + rnd.nextInt(15)),
    "oom" -> rnd.nextInt(3),
    "tombstone" -> (1 + rnd.nextInt(10)),
    "gc" -> (1 + rnd.nextInt(10)),
    "dropped" -> (4 + rnd.nextInt(15)))

  private val keyspaces = Vector("app", "metrics", "users_ks", "orders")
  private val tables = Vector("events", "sessions", "profiles", "ledger", "inbox")
  private val threads = Vector("CompactionExecutor:1", "CompactionExecutor:3",
    "MemtableFlushWriter:2", "GossipStage:1", "ReadStage-3", "MutationStage-7",
    "Native-Transport-Requests-4", "ScheduledTasks:1", "main", "HintsDispatcher:2")
  private val pools = Vector("ReadStage", "MutationStage", "CompactionExecutor",
    "MemtableFlushWriter", "GossipStage", "Native-Transport-Requests")

  private def hex(r: Random, n: Int): String =
    Iterator.fill(n)("0123456789abcdef"(r.nextInt(16))).mkString
  private def ip(r: Random): String = s"10.0.${r.nextInt(8)}.${1 + r.nextInt(250)}"
  private def pick[T](r: Random, v: Vector[T]): T = v(r.nextInt(v.size))
  private def kt(r: Random): String = s"${pick(r, keyspaces)}.${pick(r, tables)}"

  private def background(r: Random): (String, String, String) = r.nextInt(9) match {
    case 0 =>
      val n = 2 + r.nextInt(4)
      ("INFO", "CompactionTask.java:241",
        s"Compacted (${hex(r, 8)}) $n sstables to [/var/lib/cassandra/data/" +
          s"${pick(r, keyspaces)}/${pick(r, tables)}-${hex(r, 8)}/nb-${r.nextInt(9000)}-big,] " +
          s"to level=0.  ${100000 + r.nextInt(900000)} bytes to ${50000 + r.nextInt(50000)} " +
          s"(~${40 + r.nextInt(60)}% of original) in ${10 + r.nextInt(4000)}ms.")
    case 1 =>
      ("INFO", "ColumnFamilyStore.java:1186",
        s"Enqueuing flush of ${pick(r, tables)}: ${r.nextInt(64)}.${r.nextInt(1000)}MiB " +
          s"(${r.nextInt(10)}%) on-heap, 0.000KiB (0%) off-heap")
    case 2 =>
      ("INFO", "Memtable.java:456",
        s"Completed flushing /var/lib/cassandra/data/${pick(r, keyspaces)}/" +
          s"${pick(r, tables)}-${hex(r, 8)}/nb-${r.nextInt(9000)}-big-Data.db " +
          s"(${r.nextInt(900)}.${r.nextInt(1000)}KiB) for commitlog position " +
          s"CommitLogPosition(segmentId=${1700000000000L + r.nextInt(1000000)}, " +
          s"position=${r.nextInt(33554432)})")
    case 3 => ("INFO", "Gossiper.java:1047", s"InetAddress /${ip(r)} is now UP")
    case 4 => ("INFO", "OutboundTcpConnection.java:561", s"Handshaking version with /${ip(r)}")
    case 5 =>
      ("DEBUG", "Memtable.java:485",
        s"Writing Memtable-${pick(r, tables)}@${r.nextInt(Int.MaxValue)}" +
          s"(${r.nextInt(900)}KiB serialized bytes, ${r.nextInt(5000)} ops, 0%/0% of on/off-heap limit)")
    case 6 => ("INFO", "ColumnFamilyStore.java:385", s"Initializing ${kt(r)}")
    case 7 =>
      ("DEBUG", "ReadCommand.java:512",
        s"Read ${r.nextInt(5000)} live rows and ${r.nextInt(900)} tombstone cells for query " +
          s"SELECT * FROM ${kt(r)} WHERE id = ${r.nextInt(100000)} LIMIT 5000")
    case _ =>
      ("INFO", "StatusLogger.java:47",
        s"${pick(r, pools)}  ${r.nextInt(8)}  ${r.nextInt(40)}  ${r.nextInt(1000000)}  0  0")
  }

  private def warning(r: Random): (String, String, String) = r.nextInt(6) match {
    case 0 => ("WARN", "GCInspector.java:299",
      s"Heap pressure detected: ${70 + r.nextInt(30)}% used")
    case 1 => ("WARN", "BatchStatement.java:287",
      s"Batch too large for [${kt(r)}]: ${6 + r.nextInt(60)}KiB")
    case 2 => ("WARN", "NoSpamLogger.java:94",
      s"${1 + r.nextInt(20)} slow query operations in the last 5000 msecs")
    case 3 => ("WARN", "ReadCommand.java:569",
      s"Read ${r.nextInt(5000)} live rows and ${1000 + r.nextInt(9000)} tombstone cells for " +
        s"query SELECT * FROM ${kt(r)} LIMIT 5000 (see tombstone_warn_threshold)")
    case 4 => ("WARN", "StreamResultFuture.java:187",
      s"Streaming session ${hex(r, 8)} with /${ip(r)} failed")
    case _ => ("WARN", "BatchStatement.java:301",
      s"Batch for [${kt(r)}] is of size ${6 + r.nextInt(60)}KiB, exceeding specified threshold")
  }

  private def error(r: Random): (String, String, String) = r.nextInt(6) match {
    case 0 => ("ERROR", "OutboundConnection.java:410", s"Connection to /${ip(r)} refused")
    case 1 => ("ERROR", "CompactionManager.java:1092", s"Compaction of ${kt(r)} failed")
    case 2 => ("ERROR", "RepairSession.java:312",
      s"Repair session ${hex(r, 8)}-${hex(r, 4)} for range (${r.nextInt(1000)},${r.nextInt(1000)}] failed with error")
    case 3 => ("ERROR", "StorageProxy.java:1500",
      "UnavailableException: Cannot achieve consistency level QUORUM")
    case 4 => ("ERROR", "StorageProxy.java:1544", s"Request to coordinator /${ip(r)} failed")
    case _ => ("ERROR", "CassandraDaemon.java:228",
      s"Exception in thread Thread[${pick(r, threads)},5,main]")
  }

  private def planted(kind: String, r: Random): (String, String, String) = kind match {
    case "timeout" => ("ERROR", "ReadCallback.java:133",
      s"Operation timed out - received only ${r.nextInt(2)} responses. (${kt(r)})")
    case "oom" => ("ERROR", "JVMStabilityInspector.java:102",
      "java.lang.OutOfMemoryError: Java heap space")
    case "tombstone" => ("WARN", "ReadCommand.java:578",
      s"Scanned over ${100001 + r.nextInt(50000)} tombstones during query on ${kt(r)}; " +
        "tombstone threshold exceeded")
    case "gc" => ("WARN", "GCInspector.java:284",
      s"G1 Old Generation GC pause of ${500 + r.nextInt(5000)}ms")
    case "dropped" => ("INFO", "MessagingService.java:1300",
      s"Dropped ${1 + r.nextInt(500)} MUTATION messages in the last 5000ms")
  }

  private def traceLines(r: Random): Seq[String] = {
    val ex = pick(r, Vector("java.lang.RuntimeException", "java.io.IOException",
      "java.lang.IllegalStateException"))
    val frames = Seq.fill(2 + r.nextInt(5)) {
      val (cls, m) = pick(r, Vector(
        "org.apache.cassandra.db.ColumnFamilyStore" -> "forceBlockingFlush",
        "org.apache.cassandra.io.util.FileUtils" -> "createHardLink",
        "org.apache.cassandra.db.lifecycle.LogTransaction" -> "prepareToCommit",
        "java.util.concurrent.ThreadPoolExecutor" -> "runWorker"))
      s"\tat $cls.$m(${cls.split('.').last}.java:${10 + r.nextInt(2000)})"
    }
    val cause =
      if (r.nextBoolean()) Seq(s"Caused by: java.io.IOException: No space left on device")
      else Seq.empty
    (s"$ex: Tried to hard link to file that does not exist ${hex(r, 8)}" +: frames) ++ cause
  }

  private def fmt(level: String, ts: Long, thread: String, where: String, msg: String): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(ts / 1000, ((ts % 1000) * 1000000).toInt,
      java.time.ZoneOffset.UTC)
    f"$level%-5s [${t.toLocalDate} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d," +
      f"${ts % 1000}%03d] [$thread] $where - $msg"
  }

  /** `nodes` node logs named `<prefix>NN` (zero-padded, so load order
    * equals name order), each ending with a newline like a real file.
    * Same seed and spec give byte-identical output.
    */
  def generate(seed: Long, spec: GenSpec, prefix: String = "node"): Seq[NodeLog] = {
    import scala.collection.parallel.CollectionConverters._
    val master = new Random(seed)
    val totals = ruleTotals(master)
    // cluster-wide planted hits: (node, kind) pairs, drawn up front
    val plants = totals.flatMap { case (k, n) => Seq.fill(n)(master.nextInt(spec.nodes) -> k) }
      .groupBy(_._1).map { case (node, ks) => node -> ks.map(_._2) }
    // each node from its own stream, so nodes can be made in parallel
    val nodeSeeds = Seq.fill(spec.nodes)(master.nextLong())
    (0 until spec.nodes).par.map { ni =>
      val r = new Random(nodeSeeds(ni))
      val lines = new scala.collection.mutable.ArrayBuffer[String](spec.linesPerNode + 8)
      val bgSlots = new scala.collection.mutable.ArrayBuffer[Int]
      var ts = 1709280000000L + r.nextInt(3600000)
      while (lines.size < spec.linesPerNode - 1) {
        ts += 1 + r.nextInt(80)
        val u = r.nextDouble()
        if (u < spec.blankFrac) lines += ""
        else if (u < spec.blankFrac + spec.errorFrac) {
          val (lv, w, m) = error(r)
          lines += fmt(lv, ts, pick(r, threads), w, m)
          if (r.nextDouble() < spec.traceFrac) lines ++= traceLines(r)
        } else if (u < spec.blankFrac + spec.errorFrac + spec.warnFrac) {
          val (lv, w, m) = warning(r)
          lines += fmt(lv, ts, pick(r, threads), w, m)
        } else {
          val (lv, w, m) = background(r)
          bgSlots += lines.size
          lines += fmt(lv, ts, pick(r, threads), w, m)
        }
      }
      lines.remove(spec.linesPerNode - 1, lines.size - (spec.linesPerNode - 1))
      val slots = r.shuffle(bgSlots.filter(_ < lines.size).toSeq)
      plants.getOrElse(ni, Seq.empty).zip(slots).foreach { case (kind, slot) =>
        val (lv, w, m) = planted(kind, r)
        val old = lines(slot)
        val stamp = old.substring(old.indexOf('[') + 1, old.indexOf(']'))
        lines(slot) = f"$lv%-5s [$stamp] [${pick(r, threads)}] $w - $m"
      }
      lines += "" // trailing newline: split('\n', -1) yields one empty last line
      NodeLog(f"$prefix${ni + 1}%02d", lines.mkString("\n"), lines.size)
    }.seq
  }
}
