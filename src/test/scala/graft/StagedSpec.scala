package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.util.{FileUtils, Staged}

/** The staging protocol's guarantees, on throwaway keys: racing
  * writers of one master agree on one published root and leave no
  * stage dir behind, a torn master is rebuilt, and a scratch root is
  * gone after its gate — on success and on failure — while the frame
  * the gate returned stays readable.
  */
class StagedSpec extends SparkSuite {

  private def key(tag: String) =
    s"graft-stagedspec-$tag-${java.util.UUID.randomUUID()}"

  private def stageDirs(k: String): Seq[Path] =
    FileUtils.listDir(Paths.get("/tmp"))
      .filter(_.getFileName.toString.startsWith(s"$k.stage-"))

  test("two writers racing memo on one key publish one root and clean up") {
    val k = key("race")
    val fills = new AtomicInteger(0)
    // both fills must be running before either may publish, so the
    // rename race really happens
    val barrier = new CyclicBarrier(2)
    def stage(): Path = Staged.memo(k) { dir =>
      Files.writeString(dir.resolve("data"), s"writer ${fills.incrementAndGet()}")
      barrier.await(60, TimeUnit.SECONDS)
    }
    try {
      val results = new Array[Path](2)
      val threads = (0 to 1).map(i => new Thread(() => results(i) = stage()))
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(fills.get === 2)
      assert(results(0) != null && results(0) === results(1))
      assert(Files.exists(results(0).resolve(Staged.Marker)))
      assert(Files.exists(results(0).resolve("data")))
      assert(stageDirs(k).isEmpty, "a losing writer left its stage dir")
    } finally FileUtils.deleteRecursively(Staged.masterRoot(k))
  }

  test("a root without the marker is torn and gets rebuilt") {
    val k = key("torn")
    val root = Staged.masterRoot(k)
    try {
      Files.createDirectories(root)
      Files.writeString(root.resolve("partial"), "left by a dead writer")
      val got = Staged.memo(k)(dir => Files.writeString(dir.resolve("data"), "ok"))
      assert(got === root)
      assert(Files.exists(root.resolve(Staged.Marker)))
      assert(Files.exists(root.resolve("data")))
      assert(!Files.exists(root.resolve("partial")))
      // a complete master is served as it is: no second fill
      Staged.memo(k)(_ => fail("a complete master was rebuilt"))
      assert(stageDirs(k).isEmpty)
    } finally FileUtils.deleteRecursively(root)
  }

  test("scratch deletes its root on success and on failure, and the " +
      "returned frame outlives it") {
    import spark.implicits._
    var seen: Path = null
    val out = Staged.scratch(spark, "stagedspec") { root =>
      seen = root
      Seq(1L, 2L, 3L).toDF("x").write.parquet(s"$root/t")
      spark.read.parquet(s"$root/t").orderBy("x")
    }
    assert(seen.getParent === Staged.scratchBase)
    assert(!Files.exists(seen))
    assert(out.as[Long].collect().toSeq === Seq(1L, 2L, 3L))

    intercept[IllegalStateException] {
      Staged.scratch(spark, "stagedspec") { root =>
        seen = root
        Files.writeString(Staged.dir(root, "src").resolve("f"), "x")
        throw new IllegalStateException("gate failed")
      }
    }
    assert(!Files.exists(seen))
  }
}
