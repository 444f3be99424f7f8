package graft.spark

import org.apache.spark.sql.SparkSession

/** One place for engine session config so Verify / Bench / tests agree.
  *
  * Scale notes (100 TB design intent, tested on local[32]):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join
  *    splitting replaces hand-tuned partition counts per query.
  *  - `shuffle.partitions` defaults to the local core count; on a real
  *    cluster this is overridden (or AQE's coalescing makes it moot).
  *  - `parquet.nanosAsLong`: a TIMESTAMP(NANOS) `events` file surfaces
  *    as an ns-epoch long (Spark would otherwise refuse NANOS). The
  *    engine's canonical `ts` is int64 nanoseconds (exact, tz-free);
  *    `Tables.tsNanos` normalizes whatever physical type the file
  *    actually carries (the driver's testdata has shipped both NANOS
  *    and MICROS), relying on `session.timeZone=UTC` below for the
  *    TIMESTAMP_NTZ reinterpretation to be epoch-exact.
  *  - `codegen.cache.maxEntries` = [[CodegenCacheEntries]]: see there.
  */
object Sessions {

  /** Entries of Spark's generated-code cache (`CodeGenerator`'s cache
    * of compiled classes; Spark's default is 100). Measured with
    * `CodegenMetrics` on a 200-printer fleet refresh (4 cores, seed 1):
    *  - a refresh uses about 130 generated classes (enrichment, both
    *    device walks, the cartridge parse, merge, snapshot, upsert, both
    *    writes, the read-back and the helpdesk lookups); a fresh JVM's
    *    input generation and first refresh compile 137 at 50 or 200
    *    printers and 141 at 600, so the count grows with the refresh's
    *    stages, not with its printers;
    *  - at 100 entries each class is evicted before the next refresh asks
    *    for it again, so a warm refresh recompiles about 128 of them in
    *    Janino, about 20 ms each; at 200, 500 or 5000 entries it
    *    compiles 3;
    *  - a compiled entry carries about 6 KB of generated bytecode
    *    (`CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE`, class and
    *    inner classes), so a refresh's working set holds under 1 MB
    *    and a full cache of 500 about 3 MB.
    *
    * `curation_dedup` uses about 70 classes. The cache evicts
    * least-recently-used entries per segment (a quarter of the entries
    * each), so a working set below the limit can already lose entries:
    * at 100 entries a warm `curation_dedup` job recompiles 2, at 500 none.
    * 500 holds a session that refreshes, serves lookups and curates, with
    * room to spare.
    *
    * It is a static conf, read once per JVM when `CodeGenerator` builds
    * its cache at the first code generation, so it must be set when the
    * first session is built; setting it later changes nothing. The gain
    * needs a JVM that runs the same plans more than once (repeated
    * refreshes, or a refresh and then helpdesk lookups); a one-shot
    * refresh in a fresh JVM compiles every class once either way. */
  val CodegenCacheEntries = 500

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      // the engine's custom expressions (generators, long_dot, bloom)
      // install at session build — the idiomatic cluster deployment of
      // spark.sql.extensions, so every session (Verify/Bench/tests)
      // sees the same SQL surface
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Standard local session for mains/tests. */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
