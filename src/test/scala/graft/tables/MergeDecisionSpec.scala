package graft.tables

import java.nio.file.Files

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Each merge strategy switch, driven by input shape: every case asserts
  * the decision the commit recorded in `operationMetrics` AND the table
  * contents, which no strategy may change. */
class MergeDecisionSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def target(rows: (String, Int)*): VersionedTable =
    VersionedTable.create(spark, rows.toDF("key", "val"),
      Files.createTempDirectory("graft-md").toString + "/t")

  private def contents(t: VersionedTable): Seq[(String, Int)] =
    t.read.orderBy("key", "val").as[(String, Int)].collect().toSeq

  private def update(t: VersionedTable, src: DataFrame, col: String): Map[String, String] =
    t.alias("e").merge(src.alias("s"), "e.key = s.key")
      .whenMatchedUpdate(set = Map("val" -> s"s.$col")).execute()

  private def persistedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("execute() returns exactly the metrics history() shows for the commit") {
    val t = target("k1" -> 1, "k2" -> 2)
    val m = update(t, Seq("k1" -> 10).toDF("key", "v"), "v")
    assert(m == t.history(1).select("operationMetrics").as[Map[String, String]].head())
    Seq("sourcePersisted", "sourceBroadcast", "cardinalityCheck", "rewriteJoinType",
      "numTargetRowsUpdated", "numTargetFilesRemoved").foreach(k => assert(m.contains(k), k))
  }

  test("a projection over a persisted window frame is replayed, not persisted again") {
    val t = target("k1" -> 1, "k2" -> 2, "k3" -> 3)
    val framed = Seq(("k1", 10, "a"), ("k4", 40, "b")).toDF("key", "v", "grp")
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
      .persist()
    try {
      val src = framed.select(col("key"), (col("v") + col("n")).as("nv"))
      // the analyzed plan still shows the Window under the cache
      assert(src.queryExecution.analyzed.exists(_.isInstanceOf[LWindow]))
      val m = t.alias("e").merge(src.alias("s"), "e.key = s.key")
        .whenMatchedUpdate(set = Map("val" -> "s.nv"))
        .whenNotMatchedInsert(values = Map("key" -> "s.key", "val" -> "s.nv"))
        .execute()
      assert(m("sourcePersisted") == "false")
      assert(contents(t) == Seq("k1" -> 11, "k2" -> 2, "k3" -> 3, "k4" -> 41))
    } finally framed.unpersist()
  }

  test("a source grouped by the key is persisted and unique by plan") {
    val t = target("k1" -> 1, "k2" -> 2, "k3" -> 3)
    val src = Seq("k1" -> 10, "k1" -> 7, "k3" -> 30).toDF("key", "v")
      .groupBy("key").agg(min("v").as("minv"))
    val m = update(t, src, "minv")
    assert(m("sourcePersisted") == "true")
    assert(m("cardinalityCheck") == "plan")
    // the merge's own cache is small: the probe and rewrite broadcast it
    assert(m("sourceBroadcast") == "true")
    assert(contents(t) == Seq("k1" -> 7, "k2" -> 2, "k3" -> 30))
  }

  test("duplicate source keys on a pure equi update are measured; two hits on one row throw") {
    val t = target("k2" -> 2, "k3" -> 3)
    // k1 repeats but matches no target row: the measured check finds the
    // duplicate, the probe's exact check finds no violation
    val m = update(t, Seq("k1" -> 10, "k1" -> 11, "k2" -> 20).toDF("key", "v"), "v")
    assert(m("cardinalityCheck") == "measured")
    assert(contents(t) == Seq("k2" -> 20, "k3" -> 3))
    val e = intercept[IllegalStateException] {
      update(t, Seq("k2" -> 21, "k2" -> 22).toDF("key", "v"), "v")
    }
    assert(e.getMessage.contains("multiple source rows"))
    assert(contents(t) == Seq("k2" -> 20, "k3" -> 3))
  }

  test("a non-equi (OR) condition leaves the cardinality check to the probe") {
    val t = target("k1" -> 1, "k2" -> 2, "k3" -> 3)
    val m = t.alias("e")
      .merge(Seq(("k1", "zz", 10)).toDF("key", "alt", "v").alias("s"),
        "e.key = s.key OR e.key = s.alt")
      .whenMatchedUpdate(set = Map("val" -> "s.v")).execute()
    assert(m("cardinalityCheck") == "probe")
    assert(contents(t) == Seq("k1" -> 10, "k2" -> 2, "k3" -> 3))
  }

  test("an insert-only merge needs no cardinality check and rewrites nothing") {
    val t = target("k1" -> 1, "k2" -> 2)
    val m = t.alias("e").merge(Seq("k2" -> 20, "k5" -> 50).toDF("key", "v").alias("s"),
        "e.key = s.key")
      .whenNotMatchedInsert(values = Map("key" -> "s.key", "val" -> "s.v")).execute()
    assert(m("cardinalityCheck") == "none")
    assert(m("insertOnly") == "true")
    assert(m("sourceBroadcast") == "false")
    assert(!m.contains("rewriteJoinType"))
    assert(m("numTargetRowsInserted") == "1")
    assert(contents(t) == Seq("k1" -> 1, "k2" -> 2, "k5" -> 50))
  }

  test("a persisted small source is broadcast; a cheap unpersisted one is not") {
    val t = target("k1" -> 1, "k2" -> 2, "k3" -> 3)
    val cached = Seq("k1" -> 10).toDF("key", "v").persist()
    try {
      val m = update(t, cached, "v")
      assert(m("sourcePersisted") == "false", "the caller's cache is reused")
      assert(m("sourceBroadcast") == "true")
    } finally cached.unpersist()
    val m = update(t, Seq("k2" -> 20).toDF("key", "v"), "v")
    assert(m("sourcePersisted") == "false")
    assert(m("sourceBroadcast") == "false")
    assert(contents(t) == Seq("k1" -> 10, "k2" -> 20, "k3" -> 3))
  }

  test("update-only merges rewrite through a left join, update+insert through a full join") {
    val t = target("k1" -> 1, "k2" -> 2)
    assert(update(t, Seq("k1" -> 10).toDF("key", "v"), "v")("rewriteJoinType") == "left_outer")
    val m = t.alias("e").merge(Seq("k2" -> 20, "k3" -> 30).toDF("key", "v").alias("s"),
        "e.key = s.key")
      .whenMatchedUpdate(set = Map("val" -> "s.v"))
      .whenNotMatchedInsert(values = Map("key" -> "s.key", "val" -> "s.v")).execute()
    assert(m("rewriteJoinType") == "full_outer")
    assert(contents(t) == Seq("k1" -> 10, "k2" -> 20, "k3" -> 30))
  }

  test("a merge releases the source it persisted, on success and on a cardinality throw") {
    val t = target("k1" -> 1, "k2" -> 2)
    val before = persistedRdds
    val m = update(t, Seq("k1" -> 10).toDF("key", "v").groupBy("key").agg(max("v").as("v")), "v")
    assert(m("sourcePersisted") == "true")
    assert(persistedRdds == before)
    // grouped by (key, v): an aggregate, so persisted, but not unique on key
    val dup = Seq("k2" -> 20, "k2" -> 21).toDF("key", "v").groupBy("key", "v").agg(count(lit(1)))
    intercept[IllegalStateException](update(t, dup, "v"))
    assert(persistedRdds == before)
    assert(contents(t) == Seq("k1" -> 10, "k2" -> 2))
  }
}
