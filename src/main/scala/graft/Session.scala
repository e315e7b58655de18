package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe of the engine's mains (Bench, Verify, Profile,
  * Explain): `local[cpus]` with the confs below, so every main plans the
  * queries the same way. `perfbench/` mirrors these confs so the
  * benchmark measures the same plans. The specs keep their own smaller
  * session (`SparkSpec`). */
object Session {
  def apply(cpus: String, logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Let AQE size reduce stages by bytes instead of flooring them at
      // defaultParallelism: at small SF a 32-task reduce over a few MB is
      // pure per-task overhead (measured 2-4x per-stage inflation), and on
      // a real cluster data-sized reduce stages are what you want anyway.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // 71 queries × ~10 codegen units far exceeds the default 100-entry
      // compiled-class cache; once it thrashes, janino recompiles inside
      // EVERY task (jstack showed 32 tasks serialized on CodeGenerator
      // .compile). One compile is ~100 ms of driver CPU; recompiling per
      // task per stage dominated small-SF stage time.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Tungsten page size is derived from heap/cores (~10-20 MB here);
      // every small hash-aggregate task then allocates (and zeroes) a
      // multi-MB long[] page it barely fills — profiled as
      // BytesToBytesMap.allocate hot frames + young-gen churn. 2 MB pages
      // fit this profile; a cluster job with big partitions would keep
      // the default.
      .config("spark.buffer.pageSize", "2m")
      // Pin the tz so events epoch arithmetic can't drift with the host
      // (the specs pin it too: every main measures the plans they verify).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
