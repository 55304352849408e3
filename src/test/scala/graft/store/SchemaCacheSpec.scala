package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkJobs}

/** Reads take their schema from the cached [[TableStore.tableSchema]]
  * instead of inferring it per frame, so the cache must never serve a
  * schema the table no longer has: an entry is valid only while the
  * table directory's stamp is unchanged, and a swap — by this instance or
  * by another one on the same root — replaces the directory.
  */
class SchemaCacheSpec extends AnyFunSuite with SharedSpark {

  private def twoStores(prefix: String): (TableStore, TableStore) = {
    val root = tmpDir(prefix)
    (new TableStore(spark, root), new TableStore(spark, root))
  }

  test("a foreign overwrite with new columns is served, never the stale schema") {
    import spark.implicits._
    val (a, b) = twoStores("schema-cache-swap")
    b.append("t", (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    b.append("t", (51L to 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    assert(a.read("t").columns.toSeq == Seq("id", "v"))
    assert(a.readRange("t", "id", 60L, 60L).columns.toSeq == Seq("id", "v"))
    b.overwriteAtomic("t",
      (1L to 100L).map(i => (i, i * 2.0, s"L$i")).toDF("id", "score", "lang")
        .repartition(2))
    assert(a.read("t").columns.toSeq == Seq("id", "score", "lang"))
    assert(a.read("t").filter(col("id") === 7L).select("score", "lang")
      .collect().map(r => (r.getDouble(0), r.getString(1))).toSeq == Seq((14.0, "L7")))
    val ranged = a.readRange("t", "id", 60L, 61L)
    assert(ranged.columns.toSeq == Seq("id", "score", "lang"))
    assert(ranged.orderBy("id").select("lang").as[String].collect().toSeq ==
      Seq("L60", "L61"))
    // and back to a narrower schema: a dropped column must not reappear
    b.overwriteAtomic("t", (1L to 10L).map(i => Tuple1(i)).toDF("id"))
    assert(a.read("t").columns.toSeq == Seq("id"))
    assert(a.readRange("t", "id", 1L, 3L).count() == 3L)
  }

  test("an evolved declaration still wins over the cached inference") {
    import spark.implicits._
    val (a, b) = twoStores("schema-cache-evolve")
    a.append("t", (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    assert(a.read("t").columns.toSeq == Seq("id", "v")) // cached inference
    b.evolveSchema("t", "score DOUBLE")
    assert(a.read("t").columns.toSeq == Seq("id", "v", "score"))
    assert(a.readRange("t", "id", 5L, 5L).select("score").head().isNullAt(0))
    assert(a.tableSchema("t").map(_.fieldNames.toSeq).contains(Seq("id", "v", "score")))
  }

  test("a table with no data files falls back to inference, and is not cached") {
    import spark.implicits._
    val (a, b) = twoStores("schema-cache-empty")
    b.setTableProp("t", "note", "created before any data") // dir, no data files
    assert(a.exists("t") && a.tableSchema("t").isEmpty)
    intercept[org.apache.spark.sql.AnalysisException](a.read("t").collect())
    b.append("t", Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    assert(a.tableSchema("t").map(_.fieldNames.toSeq).contains(Seq("id", "v")))
    assert(a.read("t").count() == 2L)
  }

  test("own appends keep the cached schema; frames build with no job") {
    import spark.implicits._
    val (a, b) = twoStores("schema-cache-own")
    a.append("t", (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    a.read("t")
    a.append("t", (21L to 40L).map(i => (i, s"v$i")).toDF("id", "v"))
    a.setTableProp("t", "note", "sidecar writes move the stamp too")
    val (df, jobs) = SparkJobs.during(spark)(a.read("t"))
    assert(jobs == 0, s"an own append cost $jobs re-inference job(s)")
    assert(df.count() == 40L)
    // a foreign append moves the stamp: one re-inference, same schema
    b.append("t", Seq((41L, "v41")).toDF("id", "v"))
    assert(a.read("t").count() == 41L)
    val (_, again) = SparkJobs.during(spark)(a.readRange("t", "id", 41L, 41L))
    assert(again == 0)
  }
}
