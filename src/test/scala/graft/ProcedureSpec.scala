package graft

import graft.sources.GraftVersions
import graft.ops.Scratch

/** Round-13 wave 10: SQL-callable maintenance procedures —
  * `CALL cat.system.{optimize,restore,vacuum}` over the versioned
  * warehouse tables, via Spark 4's DSv2 ProcedureCatalog. */
class ProcedureSpec extends SparkSpec {

  private def docsRange(rows: Int) =
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", rows.toString).load()

  test("CALL system.optimize / system.restore / system.vacuum run the " +
      "maintenance cycle from SQL with audited result rows") {
    Scratch.withCatalog(spark, "proc_cycle") { (cat, wh) =>
      docsRange(40).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 30") // v2 (metadata)
      val dir = wh.resolve("t")

      // optimize: the metadata delete dropped 2 of the CTAS's 8 files
      // ([30,34] and [35,39]); compact the remaining 6 into 2
      // range-clustered files
      val opt = spark.sql(
        s"CALL $cat.system.optimize('t', 2, 'doc_id')").head()
      assert(opt.getLong(0) == 6 && opt.getLong(1) == 2 &&
        opt.getLong(2) == 3, s"optimize audit row: $opt")
      assert(GraftVersions.latest(dir).get.op == "compact")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0) == 30)

      // restore: back to v1 (all 40 rows live again)
      val res = spark.sql(s"CALL $cat.system.restore('t', 1)").head()
      assert(res.getLong(0) == 1 && res.getLong(1) == 4, s"restore: $res")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0) == 40)

      // vacuum: keep the newest 1 snapshot; older versions gone, live
      // data intact, disk = live manifest exactly
      val vac = spark.sql(s"CALL $cat.system.vacuum('t', 1)").head()
      assert(vac.getLong(0) == 4 && vac.getLong(2) == 4, s"vacuum: $vac")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0) == 40)
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").collect()
      }

      // unknown procedure and unknown table fail loudly
      intercept[Exception] { spark.sql(s"CALL $cat.system.frobnicate('t')") }
      intercept[Exception] { spark.sql(s"CALL $cat.system.vacuum('nope', 1)") }
    }
  }
}
