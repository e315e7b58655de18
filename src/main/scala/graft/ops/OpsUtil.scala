package graft.ops

import scala.collection.immutable.ArraySeq
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for oracle-parity-safe aggregation.
  *
  * Doubles summed in different orders differ in the last ulp between Spark
  * and DuckDB, which breaks hash-compared correctness (SURVEY.md §7.3 risk
  * item 1). Money columns in the test data carry ≤2 decimals, so casting to
  * DECIMAL before summing makes the aggregate exact and order-independent
  * on both engines; the final cast back to DOUBLE is then deterministic.
  */
object OpsUtil {
  type Q = (SparkSession, String) => DataFrame

  /** Exact money representation (values have ≤2 fractional digits). */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Order-independent SUM of a ≤2-decimal double column, returned as double. */
  def dsum(c: Column): Column = sum(money(c)).cast("double")

  /** Matching DuckDB fragment for [[dsum]]. */
  def dsumSql(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(12,2))) AS DOUBLE)"

  /** Exact per-row revenue l_extendedprice * (1 - l_discount): decimal×decimal
    * stays exact (scale 4), so the sum is order-independent. */
  def revenueExpr: Column =
    money(col("l_extendedprice")) * (lit(1) - money(col("l_discount")))

  val revenueSql: String =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"

  /** Fixed-SIZE hash-bottom-k sample: the k rows with the smallest
    * content hash (first 15 hex chars of md5 over `hashOn`, as an exact
    * long in column "h"), ties broken by `tie`. The physical plan is
    * TakeOrderedAndProject — each partition keeps its local k, the
    * driver merges k·partitions candidate rows — so the sample is
    * corpus-size-INDEPENDENT, which is what makes a downstream pair
    * join over it bounded (a fixed sample *rate* bounds nothing: the
    * pair count still grows quadratically with the corpus). Membership
    * is a pure function of content (the q85/q110 rule): re-sharding,
    * re-runs, and retries all pick the same rows, and union+re-take-k
    * over shards equals the global bottom-k (mergeable). DuckDB mirror:
    * `ORDER BY CAST(('0x' || substr(md5(...), 1, 15)) AS BIGINT), tie
    * LIMIT k`. */
  def bottomKByHash(df: DataFrame, hashOn: Seq[Column], tie: Column,
      k: Int): DataFrame =
    df.withColumn("h",
        conv(substring(md5(concat_ws(":", hashOn: _*)), 1, 15), 16, 10)
          .cast("long"))
      .orderBy(col("h"), tie)
      .limit(k)

  /** Multiset equality of two BOUNDED frames, decided on the driver.
    *
    * For the lakehouse/MV fixture audits both sides are tiny BY
    * CONSTRUCTION at any data scale — view-grain aggregates (≤ the
    * group count, 6–12 rows) or constant-size fixture tables (≤ ~50
    * rows from GraftDocsSource): the frames never grow with the input
    * dir, so two collects are scale-safe, while a distributed
    * multiset test (`a.exceptAll(b)` and `b.exceptAll(a)`, each
    * shuffling both inputs) paid ~6 query-stage jobs of pure
    * scheduling per audit at bench SF (guide §1.2). Rows are counted
    * under their [[canonicalRow]] key, so the verdict is exceptAll's
    * for any schema. A comparison whose inputs scale with the corpus
    * must use exceptAll instead. */
  def sameRowsLocal(a: DataFrame, b: DataFrame): Boolean = {
    val ca = a.collect(); val cb = b.collect()
    ca.length == cb.length && {
      val counts = scala.collection.mutable.HashMap.empty[Row, Int]
      ca.foreach { r =>
        val k = canonicalRow(r); counts.update(k, counts.getOrElse(k, 0) + 1)
      }
      cb.forall { r =>
        val k = canonicalRow(r)
        counts.get(k) match {
          case Some(n) if n > 0 => counts.update(k, n - 1); true
          case _ => false
        }
      }
    }
  }

  /** `r` as a hash key whose equality is exceptAll's row equality.
    * Row.equals compares binary by content and decimals by value, but
    * Row.hashCode hashes a byte array by identity and a decimal by its
    * scale, so equal rows could land in different buckets: binary
    * becomes an ArraySeq, decimals drop trailing zeros, and -0.0
    * becomes 0.0 (exceptAll normalizes it), nested values included.
    * NaN needs nothing: Row.equals and `##` already treat NaNs alike. */
  private def canonicalRow(r: Row): Row =
    Row.fromSeq(r.toSeq.map(canonical))

  private def canonical(v: Any): Any = v match {
    case r: Row => canonicalRow(r)
    case b: Array[Byte] => ArraySeq.unsafeWrapArray(b)
    case d: java.math.BigDecimal => d.stripTrailingZeros
    case d: Double if d == 0.0 => 0.0
    case f: Float if f == 0.0f => 0.0f
    case s: scala.collection.Seq[_] => s.map(canonical)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canonical(k) -> canonical(x) }
    case x => x
  }

  /** Materialize a SMALL (≤ a few hundred rows — profile/audit-sized)
    * result on the driver and rebuild it as a local DataFrame with the
    * identical schema. Lets a query unpersist its corpus-sized caches
    * before returning, so no cached blocks survive the call (the q131
    * self-containment rule); the caller must unpersist between collect
    * and return. Values and schema are bit-identical to the distributed
    * result, so oracle hashes are unchanged. */
  def driverLiteral(df: DataFrame): DataFrame = {
    // Dev hook (plan evidence): a driverLiteral query's DECLARED frame
    // is a LocalRelation, so `Explain` can't show the pipeline that
    // computed it — with SPARK_GRAFT_EXPLAIN_INNER=1 the inner frame's
    // formatted plan is printed before collection.
    if (sys.env.get("SPARK_GRAFT_EXPLAIN_INNER").contains("1"))
      println("[inner-plan]\n" + df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }
}
