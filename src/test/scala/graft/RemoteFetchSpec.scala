package graft

import graft.ingest.{LogCatalog, RemoteFetcher}
import graft.ingest.RemoteFetch._
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** SSH-layer semantics via the local shell runner: tail limit pushdown,
  * split('\n') line counting parity, file-not-found detection, empty-on-
  * error listing, and per-endpoint connection pooling.
  */
class RemoteFetchSpec extends SparkSuite with org.scalatest.BeforeAndAfterAll {

  private val root = Files.createTempDirectory("graft-fetch")

  override def afterAll(): Unit =
    try graft.util.FileUtils.deleteRecursively(root) finally super.afterAll()

  private lazy val dir = {
    val d = Files.createDirectories(root.resolve("logs"))
    Files.writeString(d.resolve("system.log"),
      (1 to 100).map(i => s"line$i").mkString("", "\n", "\n"))
    Files.writeString(d.resolve("debug.log"), "d1\nd2\n")
    Files.writeString(d.resolve("notes.txt"), "not a log\n")
    d.toString
  }

  private def cfg = NodeConfig("localhost", "tester", logDirectory = dir)

  private def fetcher = new RemoteFetcher(_ => new LocalShellRunner)

  test("cat reads the whole file; tail -n N pushes the limit to the source") {
    val f = fetcher
    val full = f.readLogFile(cfg, s"$dir/system.log").toOption.get
    assert(full.split("\n", -1).length === 101) // 100 lines + trailing empty
    val tail = f.readLogFile(cfg, s"$dir/system.log", Some(10)).toOption.get
    // tail output still ends with '\n' => 10 content lines + trailing
    // empty, exactly the reference's reported count (CLA:136-137,662)
    assert(tail.split("\n", -1).length === 11)
    assert(tail.startsWith("line91"))
  }

  test("byte fidelity: no invented trailing newline, CR preserved") {
    val d = Files.createDirectories(root.resolve("raw"))
    Files.writeString(d.resolve("system.log"), "a\nb") // NO trailing \n
    Files.write(d.resolve("crlf.log"), "x\r\ny\r\n".getBytes("UTF-8"))
    val f = fetcher
    val c = NodeConfig("localhost", "tester", logDirectory = d.toString)
    // reference: content.split('\n') of 'a\nb' -> 2 lines, not 3
    assert(f.readLogFile(c, s"$d/system.log").toOption.get === "a\nb")
    // CRLF bytes survive the fetch verbatim
    assert(f.readLogFile(c, s"$d/crlf.log").toOption.get === "x\r\ny\r\n")
  }

  test("missing file yields FileNotFound, not an exception") {
    assert(fetcher.readLogFile(cfg, s"$dir/ghost.log")
      === Left(FileNotFound(s"$dir/ghost.log")))
  }

  test("ls -1 *.log lists logs only; failure yields empty list") {
    val names = fetcher.listLogFiles(cfg).map(_.split("/").last).sorted
    assert(names === Seq("debug.log", "system.log"))
    assert(fetcher.listLogFiles(cfg.copy(logDirectory = "/no/such/dir")) === Seq.empty)
  }

  test("connections pool per user@host:port (runner built once per endpoint)") {
    var built = 0
    val f = new RemoteFetcher(_ => { built += 1; new LocalShellRunner })
    f.readLogFile(cfg, s"$dir/system.log")
    f.readLogFile(cfg, s"$dir/debug.log")
    f.listLogFiles(cfg)
    assert(built === 1)
    f.readLogFile(cfg.copy(port = 2222), s"$dir/system.log")
    assert(built === 2)
  }

  test("loadNode lands content in the catalog under {node}_{type}") {
    val catalog = new LogCatalog(spark)
    val r = fetcher.loadNode(catalog, cfg, "node1", "system", Some(5))
    assert(r === Right((6L, 1))) // 5 tail lines + trailing empty
    assert(catalog.nodeKeys === Seq("node1_system"))
    assert(catalog.raw.where(col("node") === "node1_system").count() === 6)
  }

  test("password auth: sshpass command shape, env-only password, injection guards") {
    val r = new SshPasswordRunner("db1", "cass", "s3cret", 2222)
    // password mode: sshpass -e (env password), ONE prompt, NO
    // BatchMode (it would disable password auth), options terminated
    // with -- before the caller-controlled destination
    assert(r.argv("cat x") === Seq("sshpass", "-e", "ssh", "-p", "2222",
      "-o", "ConnectTimeout=30", "-o", "NumberOfPasswordPrompts=1",
      "--", "cass@db1", "cat x"))
    // the password must never appear in argv
    assert(!r.argv("cat x").exists(_.contains("s3cret")))
    intercept[IllegalArgumentException](
      new SshPasswordRunner("-oProxyCommand=evil", "u", "pw"))
    intercept[IllegalArgumentException](new SshPasswordRunner("h", "u", ""))
  }

  test("key/agent auth: explicit key file rides -i; BatchMode stays on") {
    val k = new SshProcessRunner("db1", "cass", 22, Some("/keys/id_ed25519"))
    assert(k.argv("ls") === Seq("ssh", "-p", "22",
      "-o", "ConnectTimeout=30", "-o", "BatchMode=yes",
      "-i", "/keys/id_ed25519", "--", "cass@db1", "ls"))
    intercept[IllegalArgumentException](
      new SshProcessRunner("h", "u", 22, Some("-F/evil")))
  }

  test("defaultRunner picks the auth mode from the node's credentials") {
    assert(defaultRunner(NodeConfig("localhost", "u"))
      .isInstanceOf[LocalShellRunner])
    assert(defaultRunner(NodeConfig("db1", "u", password = Some("pw")))
      .isInstanceOf[SshPasswordRunner])
    assert(defaultRunner(NodeConfig("db1", "u", keyFile = Some("/k")))
      .isInstanceOf[SshProcessRunner])
    assert(defaultRunner(NodeConfig("db1", "u"))
      .isInstanceOf[SshProcessRunner])
  }

  test("loadAll fetches concurrently but keeps caller node order; bad nodes error per-node") {
    val catalog = new LogCatalog(spark)
    val nodes = Seq(
      "nodeB" -> cfg,
      "nodeA" -> cfg,
      "ghost" -> cfg.copy(logDirectory = "/no/such/dir"),
      "nodeC" -> cfg)
    val results = fetcher.loadAllTypes(catalog, nodes, Seq("system"), Some(3))
      .map { case (name, _, res) => name -> res }
    assert(results.map(_._1) === Seq("nodeB", "nodeA", "ghost", "nodeC"))
    // catalog insertion order == caller order (reference dict-order
    // semantics), with the failed node absent
    assert(catalog.nodeKeys === Seq("nodeB_system", "nodeA_system", "nodeC_system"))
    assert(results.collect { case (n, Left(_)) => n } === Seq("ghost"))
    assert(results.collect { case (_, Right((lines, _))) => lines }
      === Seq(4L, 4L, 4L)) // 3 tail lines + trailing empty each
  }
}
