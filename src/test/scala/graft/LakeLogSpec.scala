package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import graft.util.{FileUtils, LakeLog, Staged}
import graft.util.LakeLog.{add, remove}
import org.apache.spark.sql.functions.udf

/** The manifest log's protocol on tiny hand-built logs: the
  * put-if-absent commit under a real race, the order-aware as-of fold
  * against the reference fold on a revived path, and the add listings.
  */
class LakeLogSpec extends SparkSuite {

  private def inScratch(body: Path => Unit): Unit =
    Staged.scratch(spark, "lakelogspec") { root =>
      body(root)
      spark.emptyDataFrame
    }

  private def paths(root: Path, names: String*): Seq[String] =
    names.map(n => root.resolve(n).toString)

  test("two writers racing one version: exactly one wins, its data " +
      "reads back, the loser's data path and staging dir are gone") {
    import spark.implicits._
    inScratch { dir =>
      val root = dir.toString
      // both manifests are being written — each writer is past the
      // probe — before either may publish, so the rename race happens
      val gate = udf(() => LakeLogSpec.barrier.await(60, TimeUnit.SECONDS) >= 0)
        .asNondeterministic()
      def writer(x: Long): (String, Boolean) = {
        val data = LakeLog.dataPath(root, "d")
        Seq(x).toDF("x").coalesce(1).write.parquet(data)
        val manifest = Seq(add(data)).toDF("action", "path", "min_id", "max_id")
          .where(gate())
        (data, LakeLog.commitFrame(root, 0, manifest, Seq(data)))
      }
      val results = new Array[(String, Boolean)](2)
      val threads = (0 to 1).map(i =>
        new Thread(() => results(i) = writer(i.toLong + 1)))
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(results.forall(_ != null))
      assert(results.count(_._2) === 1, results.toSeq)
      val (winner, _) = results.find(_._2).get
      val (loser, _) = results.find(!_._2).get
      assert(LakeLog.firstAdd(spark, root, 0) === winner)
      assert(spark.read.parquet(winner).as[Long].collect().toSeq ===
        Seq(results.indexWhere(_._2).toLong + 1))
      assert(!Files.exists(java.nio.file.Paths.get(loser)))
      assert(!FileUtils.listDir(dir)
        .exists(_.getFileName.toString.startsWith("commit-")))
    }
  }

  test("a remove followed by a re-add (RESTORE's revive): as-of equals " +
      "the reference fold, with and without a checkpoint") {
    inScratch { dir =>
      val root = dir.toString
      val Seq(f0, f1, f2) = paths(dir, "f0", "f1", "f2")
      assert(LakeLog.commit(spark, root, 0, Seq(add(f0, 0, 9), add(f1, 10, 19))))
      assert(LakeLog.commit(spark, root, 1, Seq(remove(f0), add(f2, 20, 29))))
      assert(LakeLog.commit(spark, root, 2, Seq(add(f0, 0, 9))))
      assert(!LakeLog.commit(spark, root, 2, Seq(add(f1))),
        "a committed version was overwritten")
      assert(LakeLog.files(spark, root, 1).toSet === Set(f1, f2))
      assert(LakeLog.fullFold(spark, root, 2).toSet === Set(f0, f1, f2))
      assert(LakeLog.files(spark, root, 2).toSet ===
        LakeLog.fullFold(spark, root, 2).toSet)
      LakeLog.checkpoint(spark, root, 1)
      val (active, nReads) = LakeLog.asOf(spark, root, 2)
      assert(nReads === 2L) // ckpt-v1 + v2
      assert(active.toSet === Set((f0, 0L, 9L), (f1, 10L, 19L), (f2, 20L, 29L)))
      assert(LakeLog.files(spark, root, 0).toSet === Set(f0, f1))
    }
  }

  test("adds and firstAdd list a hand-built log in log order") {
    inScratch { dir =>
      val root = dir.toString
      val Seq(a, b, c) = paths(dir, "a", "b", "c")
      assert(LakeLog.commit(spark, root, 0, Seq(add(a), add(b))))
      assert(LakeLog.commit(spark, root, 1, Seq(remove(a), add(c))))
      assert(LakeLog.adds(spark, root, 0) === Seq(a, b))
      assert(LakeLog.adds(spark, root, 1) === Seq(a, b, c))
      assert(LakeLog.firstAdd(spark, root, 0) === a)
      assert(LakeLog.firstAdd(spark, root, 1) === c)
      assert(LakeLog.versions(root) === Seq(0L, 1L))
      assert(LakeLog.commitTs(spark, root, 1) === LakeLog.commitTsOf(1))
    }
  }

  test("changes: key netting cancels a carried row, full-row netting " +
      "keeps an update's pre- and post-image") {
    import spark.implicits._
    inScratch { dir =>
      val Seq(before, after) = paths(dir, "before", "after")
      Seq((1L, "s", 10L), (2L, "s", 20L)).toDF("doc_id", "source", "n_chars")
        .write.parquet(before)
      Seq((1L, "s", 10L), (2L, "s", 25L), (3L, "s", 30L))
        .toDF("doc_id", "source", "n_chars").write.parquet(after)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").as[Long].collect().toSet
      val (insK, delK) =
        LakeLog.changes(spark, Seq(after), Seq(before), Seq("doc_id"))
      assert(ids(insK) === Set(3L) && ids(delK) === Set.empty[Long])
      val (insR, delR) = LakeLog.changes(spark, Seq(after), Seq(before),
        Seq("doc_id", "source", "n_chars"))
      assert(ids(insR) === Set(2L, 3L) && ids(delR) === Set(2L))
    }
  }
}

object LakeLogSpec {
  private val barrier = new CyclicBarrier(2)
}
