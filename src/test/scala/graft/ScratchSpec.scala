package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.ops.Scratch

/** Failure paths of the scratch-fixture lifecycle: a drain that
  * outlives its bound, and an MV-rewrite switch the caller had already
  * turned off. */
class ScratchSpec extends SparkSpec {

  test("a drain past its bound stops the stream before it throws") {
    Scratch.withCatalog(spark, "scr_slow") { (_, wh) =>
      val src = Scratch.dir(wh, "src").resolve("p").toString
      spark.range(3).write.parquet(src)
      val q = spark.readStream.schema("id LONG").parquet(src)
        .writeStream
        .option("checkpointLocation", Scratch.dir(wh, "ckpt").toString)
        .foreachBatch { (_: DataFrame, _: Long) => Thread.sleep(60000) }
        .trigger(Trigger.AvailableNow())
        .start()
      val e = intercept[IllegalStateException] {
        Scratch.drain(q, "slow", 500L)
      }
      assert(e.getMessage.contains("slow drain did not terminate"))
      assert(!q.isActive, "a timed-out drain must not leave its stream running")
    }
  }

  test("q277 hands back a caller's own MV-rewrite off switch") {
    Scratch.withoutMvRewrite(spark) {
      SparkEntry.queries("q277_mv_rewrite")(spark, sf).collect()
      assert(spark.conf.getOption(Scratch.MvRewriteKey).contains("false"),
        "q277 must restore the caller's setting, not unset it")
    }
    assert(spark.conf.getOption(Scratch.MvRewriteKey).isEmpty)
  }

  test("the MV-rewrite switch is restored when its body throws") {
    intercept[IllegalStateException] {
      Scratch.withoutMvRewrite(spark) { throw new IllegalStateException("x") }
    }
    assert(spark.conf.getOption(Scratch.MvRewriteKey).isEmpty)
  }
}
