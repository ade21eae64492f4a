package graft

import org.apache.spark.sql.functions._

import graft.engine.{CacheScope, Ckpt}
import graft.operators.Graph

/** The r15 checkpoint device: reliable-mode equivalence (the cluster
  * durability switch must not change any result) and deterministic
  * lifecycle (barriers register with CacheScope; drain releases them).
  */
class CkptSpec extends SparkSpec {

  import spark.implicits._

  private val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    .toDF("src", "dst")

  test("SPARK_GRAFT_CKPT=reliable mode computes identical results") {
    // pageRank exercises the full device surface: setup barriers,
    // per-round barriers, per-round free of the superseded round
    val local = Graph.pageRank(edges, "src", "dst", iters = 3)
      .as[(Long, Double)].collect().toMap
    CacheScope.drain()
    sys.props("graft.ckpt") = "reliable"
    try {
      assert(Ckpt.reliable, "system-property override must engage")
      val before = rddDirs()
      val reliable = Graph.pageRank(edges, "src", "dst", iters = 3)
        .as[(Long, Double)].collect().toMap
      assert(reliable == local,
        s"reliable checkpoint changed pageRank: $reliable vs $local")
      val written = rddDirs() -- before
      assert(written.nonEmpty, "reliable barriers must write checkpoint files")
      CacheScope.drain()
      assert(written.forall(!_.exists()),
        s"drain must delete the barriers' checkpoint directories: ${written.filter(_.exists())}")
    } finally {
      sys.props.remove("graft.ckpt")
      CacheScope.drain()
    }
    assert(!Ckpt.reliable)
  }

  /** The `rdd-<id>` directories under the session's checkpoint dir. */
  private def rddDirs(): Set[java.io.File] =
    spark.sparkContext.getCheckpointDir.toSeq
      .flatMap(d => Option(new java.io.File(new java.net.URI(d)).listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("rdd-")).toSet

  test("reliable mode refuses the tmpdir fallback on a non-local default filesystem") {
    assume(sys.env.get("SPARK_GRAFT_CKPT_DIR").isEmpty,
      "the fallback only applies without SPARK_GRAFT_CKPT_DIR")
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Option(conf.get("fs.defaultFS"))
    sys.props("graft.ckpt") = "reliable"
    // a scheme with no FileSystem behind it: nothing may be contacted
    conf.set("fs.defaultFS", "graftcluster://namenode/")
    try {
      val e = intercept[IllegalStateException](Ckpt(edges))
      assert(e.getMessage.contains("SPARK_GRAFT_CKPT_DIR"), e.getMessage)
    } finally {
      saved.fold(conf.unset("fs.defaultFS"))(conf.set("fs.defaultFS", _))
      sys.props.remove("graft.ckpt")
      CacheScope.drain()
    }
  }

  test("barriers register their RDDs and drain releases them") {
    CacheScope.drain()
    val before = CacheScope.trackedRddCount
    val df = Ckpt(edges.select(col("src").as("u"), col("dst").as("v")))
    assert(CacheScope.trackedRddCount == before + 1,
      "a barrier must register its backing RDD for the per-query drain")
    assert(df.count() == 5)
    CacheScope.drain()
    assert(CacheScope.trackedRddCount == before,
      "drain must release registered checkpoint RDDs")
  }

  test("free releases a superseded round's blocks without touching results") {
    val a = Ckpt(edges.select(col("src")))
    val b = Ckpt(a.select((col("src") * 2).as("s")))
    Ckpt.free(a) // a is dead: b has materialized from it
    assert(b.as[Long].collect().sorted.toSeq == Seq(2L, 2L, 4L, 6L, 8L))
    CacheScope.drain()
  }
}
