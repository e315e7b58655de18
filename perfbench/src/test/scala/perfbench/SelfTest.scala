package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Checks of the benchmark's own metric logic; no Spark session needed.
  * Run with `python3 perfbench/selftest.py`. Exits non-zero on failure. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // Tail percentile: the highest one with at least ten samples beyond it.
    val hundred = (1 to 100).map(_.toDouble)
    check("tail of 100 samples is p90 with 10 beyond") {
      val t = Stats.tail(hundred)
      t.percentile == 90.0 && t.value == 90.0 && t.beyond == 10 && t.samples == 100
    }
    check("tail of 1000 samples is p99 with 10 beyond") {
      val t = Stats.tail((1 to 1000).map(_.toDouble))
      t.percentile == 99.0 && t.value == 990.0 && t.beyond == 10
    }
    check("tail of 32 samples keeps 10 beyond") {
      val t = Stats.tail((1 to 32).map(_.toDouble).reverse)
      t.beyond == 10 && t.value == 22.0 && t.samples == 32
    }
    check("tail of too few samples falls back to the median") {
      val t = Stats.tail(Seq(4.0, 1.0, 3.0, 2.0))
      t.percentile == 50.0 && t.value == 2.5 && t.beyond == 2 && t.samples == 4
    }
    check("tail of 19 samples is still the median, of 20 the median with 10 beyond") {
      val t19 = Stats.tail((1 to 19).map(_.toDouble))
      val t20 = Stats.tail((1 to 20).map(_.toDouble))
      t19.percentile == 50.0 && t19.value == 10.0 && t19.beyond == 9 &&
        t20.percentile == 50.0 && t20.value == 10.0 && t20.beyond == 10
    }
    check("median of even and odd counts") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0
    }

    // Driver gap and self time under overlapping children.
    check("overlapping job intervals are counted once") {
      // Query 0..100; jobs 10..40 and 30..60 overlap, 80..90 apart.
      Stats.selfTime(0, 100, Seq((10.0, 40.0), (30.0, 60.0), (80.0, 90.0))) == 40.0
    }
    check("nested and identical intervals are counted once") {
      Stats.covered(0, 100, Seq((10.0, 50.0), (20.0, 30.0), (10.0, 50.0))) == 40.0
    }
    check("children are clipped to the parent span") {
      Stats.selfTime(20, 50, Seq((0.0, 30.0), (45.0, 90.0))) == 15.0
    }
    check("touching intervals merge without a gap") {
      Stats.covered(0, 10, Seq((0.0, 5.0), (5.0, 10.0))) == 10.0
    }
    check("a span with no children is all self time") {
      Stats.selfTime(1.5, 4.0, Nil) == 2.5
    }

    // Codegen compile time: new compilations × the sampled mean after them.
    check("compile time counts only the new compilations") {
      val d = Counters.delta(
        Map("codegen.compiles" -> 5000.0, "codegen.compile_mean_s" -> 0.004),
        Map("codegen.compiles" -> 5003.0, "codegen.compile_mean_s" -> 0.002))
      math.abs(d("codegen.compile_s") - 0.006) < 1e-12 &&
        !d.contains("codegen.compiles") && !d.contains("codegen.compile_mean_s")
    }
    check("compile time is zero without new compilations") {
      val d = Counters.delta(
        Map("codegen.compiles" -> 7.0, "codegen.compile_mean_s" -> 0.004),
        Map("codegen.compiles" -> 7.0, "codegen.compile_mean_s" -> 0.001))
      d("codegen.compile_s") == 0.0
    }

    // Digest: order-independent, duplicate-sensitive, stable under rounding.
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("x", DoubleType), StructField("a", ArrayType(FloatType)),
      StructField("d", DecimalType(12, 2))))
    def r(k: Long, s: String, x: java.lang.Double, a: Seq[Float]): InternalRow =
      InternalRow(k, UTF8String.fromString(s), x, new GenericArrayData(a.toArray[Any]),
        org.apache.spark.sql.types.Decimal(BigDecimal(k) / 4, 12, 2))
    val rows = Seq(r(1, "a", 0.1 + 0.2, Seq(1.5f)), r(2, "b", null, Nil),
      r(3, "c", -0.0, Seq(2f, 3f)), r(4, null, 1e300, Seq(0.25f)))
    val base = Digest.rows(rows, schema)
    check("digest counts rows") { base.rows == 4 }
    check("digest ignores row order") {
      Seq(rows.reverse, rows.tail :+ rows.head, scala.util.Random.shuffle(rows))
        .forall(p => Digest.rows(p, schema) == base)
    }
    check("digest sees a duplicated row") { Digest.rows(rows :+ rows.head, schema) != base }
    check("digest sees a changed value") {
      Digest.rows(rows.updated(1, r(2, "b", 1.0, Nil)), schema) != base
    }
    check("digest rounds away summation-order noise") {
      Digest.rows(rows.updated(0, r(1, "a", 0.3, Seq(1.5f))), schema) == base
    }
    check("digest keeps differences above its precision") {
      Digest.rows(rows.updated(0, r(1, "a", 0.3000001, Seq(1.5f))), schema) != base
    }
    check("digest hashes -0.0 as 0.0") {
      Digest.rows(rows.updated(2, r(3, "c", 0.0, Seq(2f, 3f))), schema) == base
    }
    check("digest keeps column order within a row") {
      val two = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
      Digest.rows(Seq(InternalRow(1L, 2L)), two) != Digest.rows(Seq(InternalRow(2L, 1L)), two)
    }
    check("canonical floats use the stated significant digits") {
      Digest.canonical(1234567.891234567) == "1234567.891" &&
        Digest.canonical(Double.NaN) == "NaN" && Digest.canonical(-0.0) == "0"
    }

    println(if (failures == 0) "all checks passed" else s"$failures checks failed")
    if (failures != 0) sys.exit(1)
  }
}
