package graft.ingest

import java.nio.charset.CodingErrorAction
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** Remote log retrieval — the engine's version of the reference's SSH
  * layer (`cassandra_log_analyzer.py:75-167`). This is driver-side
  * INGESTION, not a Spark plan (SURVEY.md §2.1 S1/S5): fetched content
  * lands in [[LogCatalog.loadInline]]/staging and Spark reads from
  * there. At the 100 TB tier logs arrive via object storage and this
  * layer disappears (SURVEY.md §3.3).
  *
  * Reference semantics preserved:
  *  - command shape: `tail -n N {path}` when a tail limit is given,
  *    else `cat {path}` — the reference's ONE optimization, limit
  *    pushdown to the source (`cassandra_log_analyzer.py:136-140`);
  *  - stderr containing "No such file" → file-not-found error
  *    (`:146-150`);
  *  - output decoded UTF-8 with replacement, never thrown (`:143`);
  *  - connections pooled per `user@host:port` and reused
  *    (`:84-90`);
  *  - `ls -1` over the `*.log` glob in the log directory; any failure
  *    → empty list (`:156-167`).
  */
object RemoteFetch {

  /** How to execute a command "on the node" — process-backed `ssh` for
    * real use, a local shell for tests/staging. (The reference's
    * paramiko channel, abstracted.)
    */
  trait CommandRunner {
    /** @return (stdout bytes, stderr text, exit code) */
    def run(command: String): (Array[Byte], String, Int)
  }

  /** Spawn a subprocess and return (raw stdout bytes, stderr text, exit
    * code). Stdout is read as RAW BYTES — a line-based ProcessLogger
    * would re-append '\n' per line (inventing a trailing newline files
    * without one never had, inflating `total_lines` by a phantom empty
    * element), strip '\r', and pre-decode with the JVM charset before
    * the documented errors='replace' step.
    */
  private def execRaw(cmd: Seq[String],
      extraEnv: Map[String, String] = Map.empty): (Array[Byte], String, Int) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pb = new java.lang.ProcessBuilder(cmd: _*)
    extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    p.getOutputStream.close()
    // drain stderr concurrently so neither pipe buffer can deadlock
    val errF = Future(new String(p.getErrorStream.readAllBytes(), UTF_8))(
      ExecutionContext.global)
    val out = p.getInputStream.readAllBytes()
    val err = Await.result(errF, Duration.Inf)
    val code = p.waitFor()
    (out, err, code)
  }

  /** Runs the command through a local shell — the test/staging runner,
    * and the degenerate "node is this machine" case.
    */
  final class LocalShellRunner extends CommandRunner {
    override def run(command: String): (Array[Byte], String, Int) =
      execRaw(Seq("/bin/sh", "-c", command))
  }

  /** Shared argv-injection defense: the destination is caller-
    * controlled (MCP `configure_ssh_node` arguments), and ssh parses
    * its argv — a username like `-oProxyCommand=...` would otherwise be
    * read as an OPTION, turning a tool argument into local command
    * execution (the reference's paramiko API has no argv surface to
    * attack). Defense is layered: reject option-shaped or `@`-bearing
    * parts up front, and terminate option parsing with `--` before the
    * destination regardless.
    */
  private def requireSafeDestination(host: String, user: String,
      keyFile: Option[String]): Unit = {
    require(host.nonEmpty && user.nonEmpty, "empty ssh host/username")
    require(!host.startsWith("-") && !user.startsWith("-"),
      s"ssh host/username may not start with '-' (option injection): $user@$host")
    require(!user.contains("@") && !host.contains("@"),
      s"ssh host/username may not contain '@': $user@$host")
    keyFile.foreach(k => require(k.nonEmpty && !k.startsWith("-"),
      s"ssh key path may not start with '-' (option injection): $k"))
  }

  /** batch=true → key/agent mode (BatchMode forbids prompts);
    * batch=false → password mode (one prompt, answered by sshpass).
    */
  private def sshArgs(host: String, user: String, port: Int,
      keyFile: Option[String], batch: Boolean): Seq[String] =
    Seq("ssh", "-p", port.toString,
      "-o", "ConnectTimeout=30") ++ // reference default, CLA:59-66
      (if (batch) Seq("-o", "BatchMode=yes")
       else Seq("-o", "NumberOfPasswordPrompts=1")) ++
      keyFile.toSeq.flatMap(k => Seq("-i", k)) ++
      Seq("--", s"$user@$host")

  /** `ssh`-subprocess runner — key/agent auth (`-i` when an explicit
    * key file is configured, the agent/default keys otherwise).
    * BatchMode keeps the non-interactive contract (no password prompt
    * can hang the pool).
    */
  final class SshProcessRunner(host: String, user: String, port: Int = 22,
      keyFile: Option[String] = None)
      extends CommandRunner {
    requireSafeDestination(host, user, keyFile)
    /** exposed so specs can pin the exact command line without sshd */
    private[graft] def argv(command: String): Seq[String] =
      sshArgs(host, user, port, keyFile, batch = true) :+ command
    override def run(command: String): (Array[Byte], String, Int) =
      execRaw(argv(command))
  }

  /** Password-auth runner — the reference's paramiko password fallback
    * (`cassandra_log_analyzer.py:101-117`), realized as `sshpass -e
    * ssh ...`: the password travels in the child's SSHPASS environment
    * variable, NEVER argv (argv is world-readable in /proc). Requires
    * the standard `sshpass` binary on the driver host; a missing binary
    * surfaces as the spawn failure of the first fetch. BatchMode is
    * OFF here (it would disable password auth); NumberOfPasswordPrompts=1
    * keeps a wrong password from retry-hanging the pool.
    */
  final class SshPasswordRunner(host: String, user: String,
      password: String, port: Int = 22)
      extends CommandRunner {
    requireSafeDestination(host, user, None)
    require(password.nonEmpty, "empty ssh password")
    /** exposed so specs can pin the exact command line without sshd */
    private[graft] def argv(command: String): Seq[String] =
      Seq("sshpass", "-e") ++
        sshArgs(host, user, port, None, batch = false) :+ command
    override def run(command: String): (Array[Byte], String, Int) =
      execRaw(argv(command), extraEnv = Map("SSHPASS" -> password))
  }

  /** POSIX single-quote escaping: safe interpolation of a path operand
    * into an `sh -c` / ssh command line (spaces, globs, `;`, `$`, ...).
    */
  def shellQuote(s: String): String =
    "'" + s.replace("'", "'\\''") + "'"

  /** Auth selection mirrors the reference's paramiko fallback chain
    * (key file → agent/default keys → password,
    * `cassandra_log_analyzer.py:101-117`): an explicit key file rides
    * `-i`, a password selects the sshpass runner, neither = agent.
    */
  final case class NodeConfig(
      host: String,
      username: String,
      port: Int = 22,
      logDirectory: String = "/var/log/cassandra",
      keyFile: Option[String] = None,
      password: Option[String] = None)

  /** The production runner-factory wiring: localhost bypasses ssh, a
    * configured password selects the sshpass runner, otherwise
    * key/agent. (Factored out of the MCP main so specs can pin it.)
    */
  def defaultRunner(cfg: NodeConfig): CommandRunner =
    if (cfg.host == "localhost" || cfg.host == "127.0.0.1")
      new LocalShellRunner
    else cfg.password match {
      case Some(pw) =>
        new SshPasswordRunner(cfg.host, cfg.username, pw, cfg.port)
      case None =>
        new SshProcessRunner(cfg.host, cfg.username, cfg.port, cfg.keyFile)
    }

  sealed trait FetchError { def message: String }
  final case class FileNotFound(path: String) extends FetchError {
    def message = s"Log file not found: $path"
  }
  final case class CommandFailed(detail: String) extends FetchError {
    def message = s"Command failed: $detail"
  }
  /** The fetched log is above the catalog's load bound; nothing was loaded. */
  final case class TooLarge(message: String) extends FetchError
}

/** Pooled fetcher over a runner factory (injectable for tests). */
final class RemoteFetcher(
    runnerFactory: RemoteFetch.NodeConfig => RemoteFetch.CommandRunner) {
  import RemoteFetch._

  private val pool = mutable.Map.empty[String, CommandRunner]

  /** Connection reuse per `user@host:port` (`cassandra_log_analyzer.py:84-90`). */
  private def runner(cfg: NodeConfig): CommandRunner = synchronized {
    pool.getOrElseUpdate(s"${cfg.username}@${cfg.host}:${cfg.port}",
      runnerFactory(cfg))
  }

  /** Decode bytes as UTF-8 with replacement — `errors='replace'` parity
    * (`cassandra_log_analyzer.py:143`).
    */
  private def decodeReplace(bytes: Array[Byte]): String = {
    val dec = UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
  }

  /** `read_log_file` (`cassandra_log_analyzer.py:131-154`): whole file
    * via `cat`, or the LAST N lines via a source-side `tail -n N` — the
    * limit executes on the node, so only O(N) bytes cross the wire.
    */
  def readLogFile(cfg: NodeConfig, path: String,
      tailLines: Option[Int] = None): Either[FetchError, String] = {
    val cmd = tailLines match {
      case Some(n) => s"tail -n $n ${shellQuote(path)}" // CLA:136-137
      case None => s"cat ${shellQuote(path)}" // CLA:140
    }
    val (out, err, code) = runner(cfg).run(cmd)
    if (err.contains("No such file")) Left(FileNotFound(path)) // CLA:146-150
    else if (code != 0) Left(CommandFailed(err.trim))
    else Right(decodeReplace(out))
  }

  /** `configure_ssh_node`'s remote directory probe
    * (`cassandra_log_analyzer.py:607-612`): `test -d {dir} && echo
    * 'exists'`, true iff stdout says so.
    */
  def testDirectory(cfg: NodeConfig): Boolean = {
    val (out, _, _) = runner(cfg)
      .run(s"test -d ${shellQuote(cfg.logDirectory)} && echo 'exists'")
    decodeReplace(out).trim == "exists"
  }

  /** `list_log_files` (`cassandra_log_analyzer.py:156-167`): `ls -1`
    * glob; ANY failure yields an empty list, never an error.
    */
  def listLogFiles(cfg: NodeConfig): Seq[String] = {
    try {
      // directory quoted; the *.log glob stays OUTSIDE the quotes so
      // the remote shell still expands it
      val (out, _, code) = runner(cfg)
        .run(s"ls -1 ${shellQuote(cfg.logDirectory)}/*.log")
      if (code != 0) Seq.empty
      else decodeReplace(out).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    } catch { case _: Exception => Seq.empty }
  }

  /** `{logDirectory}/{type}.log` — the one place the remote path is
    * built (`cassandra_log_analyzer.py:658`).
    */
  private def logPath(cfg: NodeConfig, logType: String): String =
    s"${cfg.logDirectory}/$logType.log"

  /** SSH loads key `{node}_{type}`; only manual loads key bare (CLA:729). */
  private def nodeKey(nodeName: String, logType: String): String =
    s"${nodeName}_$logType"

  /** A fetched log into the catalog under `{node}_{type}`. A log above
    * the catalog's bound is that log's error alone, so the logs before
    * and after it still load.
    */
  private def insert(catalog: LogCatalog, nodeName: String, logType: String,
      fetched: Either[FetchError, String]): Either[FetchError, (Long, Int)] =
    fetched.flatMap { content =>
      try Right(catalog.loadContent(nodeKey(nodeName, logType), content))
      catch { case e: LogCatalog.LoadTooLarge => Left(TooLarge(e.getMessage)) }
    }

  /** Fetch + load — the `load_logs_from_ssh` pipeline
    * (`cassandra_log_analyzer.py:632-689`) minus the transport.
    */
  def loadNode(catalog: LogCatalog, cfg: NodeConfig, nodeName: String,
      logType: String = "system",
      tailLines: Option[Int] = None): Either[FetchError, (Long, Int)] =
    insert(catalog, nodeName, logType, readLogFile(cfg, logPath(cfg, logType), tailLines))

  /** `load_logs_from_all_nodes` — but PARALLEL. The reference awaits
    * nodes one at a time (`cassandra_log_analyzer.py:704-714`, SURVEY
    * §2.10), so a 100-node fetch pays 100 sequential round-trips; here
    * every (node, type) pair fetches concurrently and results keep the
    * caller's node order. One log's failure (expected Left OR a thrown
    * transport exception) never loses the others' results. Catalog
    * insertion runs node-major (`node1_system, node1_debug,
    * node2_system, ...`) — the reference loads types per node inside
    * its node loop (`cassandra_log_analyzer.py:704-714`), and key
    * insertion order is a load-bearing report-ordering semantic.
    */
  def loadAllTypes(catalog: LogCatalog,
      nodes: Seq[(String, NodeConfig)],
      logTypes: Seq[String],
      tailLines: Option[Int] = None,
      timeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(10, "min"))
      : Seq[(String, String, Either[FetchError, (Long, Int)])] = {
    import scala.concurrent.{blocking, Await, ExecutionContext, Future}
    import scala.util.Try
    implicit val ec: ExecutionContext = ExecutionContext.global
    // fetch concurrently; INSERT sequentially in caller order — node-key
    // insertion order is a load-bearing output semantic (the reference's
    // dict order drives report ordering, SURVEY §7.4.3). `blocking`
    // tells the global pool these threads sit in subprocess I/O, so
    // concurrency isn't capped at CPU count; Try keeps a thrown
    // transport error per-node instead of failing the whole batch, and
    // a node still hanging at the deadline becomes ITS OWN timed-out
    // Left — completed nodes are never discarded.
    val futures = for {
      (name, cfg) <- nodes
      logType <- logTypes
    } yield (name, logType, Future(Try(blocking {
      readLogFile(cfg, logPath(cfg, logType), tailLines)
    }).fold(e => Left(CommandFailed(e.toString)), identity)))
    Try(Await.ready(Future.sequence(futures.map(_._3)), timeout))
    futures.map { case (name, logType, f) =>
      val res = f.value match {
        case Some(scala.util.Success(r)) => r
        case Some(scala.util.Failure(e)) => Left(CommandFailed(e.toString))
        case None => Left(CommandFailed(s"fetch timed out after $timeout"))
      }
      (name, logType, insert(catalog, name, logType, res))
    }
  }
}
