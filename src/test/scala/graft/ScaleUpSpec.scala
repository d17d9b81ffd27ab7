package graft

import java.nio.file.Files

/** ScaleUp contract: facts replicate ×factor with shifted keys, dims
  * copy verbatim, join multiplicities stay linear, and cross-copy
  * document text diverges (so LSH pair counts can't blow up
  * quadratically in the scaled fixture).
  */
class ScaleUpSpec extends SparkSuite with org.scalatest.BeforeAndAfterAll {

  private val destRoot = Files.createTempDirectory("graft-scaleup-spec")

  override def afterAll(): Unit =
    try graft.util.FileUtils.deleteRecursively(destRoot) finally super.afterAll()

  private lazy val dest = {
    val d = destRoot.toString
    graft.tools.ScaleUp.main(Array("/root/testdata/sf0.001", d, "3"))
    d
  }

  private def n(dir: String, t: String): Long =
    spark.read.parquet(s"$dir/$t.parquet").count()

  test("running the tool inside the suite leaves the suite session's config alone") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    dest
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("facts replicate xfactor, dims copy verbatim") {
    for (t <- Seq("orders", "lineitem", "events", "documents", "embeddings"))
      assert(n(dest, t) === 3 * n("/root/testdata/sf0.001", t), t)
    for (t <- Seq("region", "nation", "customer"))
      assert(n(dest, t) === n("/root/testdata/sf0.001", t), t)
  }

  test("ids stay unique and the orders-lineitem join scales linearly, not quadratically") {
    val o = spark.read.parquet(s"$dest/orders.parquet")
    assert(o.select("o_orderkey").distinct().count() === o.count())
    val l = spark.read.parquet(s"$dest/lineitem.parquet")
    val joined = l.join(o, l("l_orderkey") === o("o_orderkey")).count()
    val o0 = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val l0 = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val joined0 = l0.join(o0, l0("l_orderkey") === o0("o_orderkey")).count()
    assert(joined === 3 * joined0)
  }

  test("cross-copy document text diverges; within-copy dup structure survives") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$dest/documents.parquet")
    val d0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val shift = d0.agg(max(col("doc_id"))).head.getLong(0) + 1
    // copy 1 of doc 0 must differ from doc 0 (scrambled), but exact
    // dup groups within copy 1 must be as numerous as in copy 0
    val base = d.where(col("doc_id") === 0).head.getAs[String]("text")
    val copy1 = d.where(col("doc_id") === shift).head.getAs[String]("text")
    assert(base !== copy1, "copy-1 text identical to base — quadratic LSH pairs")
    def dupGroups(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("text").count().where(col("count") > 1).count()
    assert(dupGroups(d.where(col("doc_id") >= shift && col("doc_id") < 2 * shift))
      === dupGroups(d0))
  }
}
