package graft.core

import org.apache.spark.sql.SparkSession

/** Standard session factory for the engine.
  *
  * Local testing runs `local[N]`; on a real cluster the same conf block
  * applies minus the master. Shuffle partitions default to the local core
  * count (not Spark's 200) and AQE is on so skewed dedup keys / joins are
  * re-planned at runtime — see SURVEY.md §4.
  *
  * The `file` scheme is pinned to the engine's own local filesystem
  * ([[graft.io.LocalFs]]), in both of Hadoop's forms: `fs.file.impl`
  * (`FileSystem`, every parquet and metrics write) and
  * `fs.AbstractFileSystem.file.impl` (`FileContext`, Structured
  * Streaming's checkpoint files). Spark's jars ship no native
  * `libhadoop`, so Hadoop's stock local filesystem runs one `chmod`
  * process per file, `.crc` file and directory it creates, and one
  * `readlink` process per end of every `FileContext` rename. Unpinned,
  * the `file` scheme would also go to Hive's `ProxyLocalFileSystem`,
  * whose `FileSystem` service entry in hive-exec wins by classpath
  * order. HDFS, S3 and every other scheme are untouched.
  *
  * Caveat: Hadoop caches `FileSystem` instances by scheme, authority
  * and user, not by class. A JVM that calls `FileSystem.get` on a
  * `file:` URI with a plain `Configuration` before this session is
  * built keeps the class it got then, for every later `file:` access
  * through the cache (ProcessSpawnSpec checks the shared test session).
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    builder(master, shufflePartitions, codegenCacheEntries = 1000)

  /** `codegenCacheEntries` sizes the generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark default 100). The cache
    * is JVM-global, read ONCE at CodeGenerator init, and holds STRONG
    * references — so the bound is a real metaspace/heap commitment for
    * the life of the JVM (ADVICE r14). The default here (1000) is sized
    * for a many-operator production pipeline without pinning 10k classes
    * in every long-lived session; the gate-suite drivers (Bench, Verify,
    * the test JVM) pass 10000 explicitly — 223 queries × several codegen
    * units each evict constantly at smaller bounds and re-COMPILE per
    * invocation (~100-300 ms/query; measured 146.4 → 113.9 s on the
    * interleaved bench).
    */
  def builder(master: String, shufflePartitions: Int,
      codegenCacheEntries: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // kernel SQL functions + the opt-in vector-cartesian guard rule
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries INT64(TIMESTAMP_NANOS) which Spark's reader
      // rejects; read nanos as long and convert explicitly (Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.LocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.LocalFs.Checksummed].getName)
}
