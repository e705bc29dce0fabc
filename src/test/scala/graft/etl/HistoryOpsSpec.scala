package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DESCRIBE HISTORY's `operation` column: every commit stamps its own
  * label (load / delete / compact / rollback / row-op ...), carried
  * props can never leak a stale one, and the key is engine-owned. */
class HistoryOpsSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse = tmpDir("ghops")
  spark.conf.set("spark.sql.catalog.ghops",
    classOf[graft.sources.GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.ghops.dir", warehouse)
  private val lib = new Catalog(spark, warehouse)

  test("each commit names its own operation") {
    spark.sql("CREATE TABLE ghops.default.t (k BIGINT, v DOUBLE)")     // v1
    spark.sql("INSERT INTO ghops.default.t SELECT id, id*1.0 FROM range(0, 100)") // v2
    spark.sql("UPDATE ghops.default.t SET v = -1.0 WHERE k = 5")       // v3
    spark.sql("DELETE FROM ghops.default.t WHERE k < 3")               // v4
    spark.sql("CALL ghops.system.rollback('t', 3)")                    // v5
    VersionedTable.load(lib, "t",
      Seq((200L, 1.0)).toDF("k", "v"))                                 // v6
    val ops = VersionedTable.history(lib, "t")
      .select("version", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(1L) == "load" && ops(2L) == "load", ops.toString)  // CREATE/INSERT
    assert(ops(3L) == "row-op (copy-on-write)", ops.toString)     // UPDATE
    assert(ops(4L) == "delete", ops.toString)                     // DELETE routes via SupportsDelete
    assert(ops(5L) == "rollback", ops.toString)
    assert(ops(6L) == "load", ops.toString)
    // the MOR twin labels its delta commits
    spark.sql("CREATE TABLE ghops.default.m (k BIGINT) " +
      "TBLPROPERTIES ('write.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO ghops.default.m VALUES (1), (2), (3)")
    spark.sql("UPDATE ghops.default.m SET k = 9 WHERE k = 1")
    val mops = VersionedTable.history(lib, "m")
      .select("version", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(mops(3L) == "row-op (merge-on-read)", mops.toString)
    // the label is engine-owned: SET TBLPROPERTIES refuses it
    intercept[Exception](spark.sql(
      "ALTER TABLE ghops.default.t SET TBLPROPERTIES ('operation'='x')"))
  }

  test("a manifest without a recorded commit time fails history and time travel, naming its version") {
    val c = new Catalog(spark, tmpDir("ghops-ts"))
    VersionedTable.load(c, "t", Seq((1L, 1.0)).toDF("k", "v")) // v1: a root manifest
    val f = new java.io.File(s"${c.dirPath("t")}.__vmeta/v1.manifest.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(f)
    root.get("props").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove(VersionedTable.CommitTsProp)
    mapper.writeValue(f, root)
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    for (read <- Seq[() => Any](
      () => VersionedTable.history(c, "t").collect(),
      () => VersionedTable.versionAt(c, "t", Long.MaxValue))) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("version 1 of 't' records no commit time"),
        e.getMessage)
    }
  }
}
