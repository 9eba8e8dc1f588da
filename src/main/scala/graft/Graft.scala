package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared session + table helpers for the graft engine.
  *
  * The engine is DataFrame-first (SURVEY.md §7.1): every operator is a pure
  * `DataFrame => DataFrame` function so Catalyst owns optimization (pushdown,
  * pruning, AQE) and so each operator is expressible as the ANSI SQL the
  * DuckDB oracle needs.
  */
object Graft {

  /** The one local session every main starts from: `cores` local
    * threads and as many shuffle partitions, sessions in UTC (normalizeTs
    * casts TIMESTAMP_NTZ under the session zone, so a bare `java -cp`
    * launch on a non-UTC host would shift event instants), nanos
    * timestamps read as long, and no UI. Each main sets its own log level.
    */
  def session(cores: Int): SparkSession =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Cached inferred schema per (sfDir, table) — METADATA, never data:
    * without it every `table()` call pays a driver-side parquet footer
    * read for schema inference, a fixed ~20–50 ms tax on all ~150 bench
    * keys per pass (r19 verdict #5/#7: the per-key floor). The fixture
    * files are immutable for a given path (the [[tableStream]] schema
    * peek has made the same assumption since round 13), and the cached
    * schema IS the inferred one, so reads are bit-identical. The bench
    * drains it at every PASS boundary ([[dropTableSchemaCache]]) so no
    * pass benefits from a previous pass's metadata work — within a pass
    * keys share footer reads exactly as a long-lived production session
    * would (Spark's own catalog caches file listings the same way,
    * guide §6).
    */
  private val tableSchemaCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String), org.apache.spark.sql.types.StructType]

  /** Drop every cached table schema (bench pass-boundary hook). */
  def dropTableSchemaCache(): Unit = tableSchemaCache.clear()

  /** Load one of the driver testdata tables from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // the events fixture carries TIMESTAMP(NANOS), which Spark's reader
    // rejects unless nanos are surfaced as long
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val schema = tableSchemaCache.getOrElseUpdate((sfDir, name),
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** The events table with `ts` normalized to a TIMESTAMP column. The
    * driver has shipped the fixture in two shapes across rounds —
    * TIMESTAMP(NANOS) (read as long nanos under the legacy flag) and
    * timestamp[us] with no timezone (read as TIMESTAMP_NTZ) — and
    * watermarks / `unix_micros` both require plain TIMESTAMP, so every
    * shape funnels to one type here rather than in each operator.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(table(spark, sfDir, "events"))

  private def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        // integer division — `/` is double division and long→double loses
        // precision above 2^53, shifting ~12% of nanos timestamps by 1µs
        // vs DuckDB's integer truncation
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // sessions run UTC, so the naive wall-clock micros carry over
        // unchanged — same instants DuckDB reads from the same file
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Cached per-(sfDir, table) state for [[tableStream]]: the schema
    * peek (file streams need an explicit schema, one batch
    * parquet-footer read) and the stream directory — cached so a
    * stream–stream self-join (two source instances) pays each once, not
    * per side.
    */
  private val tableStreamCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String), (org.apache.spark.sql.types.StructType, String)]

  /** Temp symlink dirs created by [[tableStream]] (with the linked table
    * name), deleted on JVM exit (cache hits skip creation, so the set
    * also covers dirs orphaned by a racing first call — see below).
    */
  private val tableStreamTempDirs =
    java.util.concurrent.ConcurrentHashMap
      .newKeySet[(java.nio.file.Path, String)]()

  private lazy val tableStreamCleanupHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tableStreamTempDirs.forEach { case (dir, name) =>
        try {
          java.nio.file.Files.deleteIfExists(dir.resolve(s"$name.parquet"))
          java.nio.file.Files.deleteIfExists(dir)
        } catch { case _: Exception => () } // best-effort hygiene
      }))
  }

  /** Any fixture table as a file-source STREAM (schema from a cached
    * batch peek at the same path) — the generic core of
    * [[eventsStream]]; see there for the symlink-directory rationale.
    * Each call returns an independent source instance.
    */
  def tableStream(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val (schema, streamDir) =
      tableStreamCache.getOrElseUpdate((sfDir, name), {
        tableStreamCleanupHook // register the shutdown hook once
        val dir = java.nio.file.Files.createTempDirectory(s"graft_${name}_stream")
        tableStreamTempDirs.add((dir, name))
        java.nio.file.Files.createSymbolicLink(
          dir.resolve(s"$name.parquet"),
          // absolute: a symlink target is resolved relative to the LINK's
          // directory, so a relative sfDir would dangle under /tmp
          java.nio.file.Paths.get(sfDir, s"$name.parquet")
            .toAbsolutePath.normalize())
        (table(spark, sfDir, name).schema, dir.toString)
      })
    spark.readStream.schema(schema).parquet(streamDir)
  }

  /** The events table as a file-source STREAM with the same `ts`
    * normalization as [[events]] (schema from a cached batch peek at the
    * same path). Each call returns an independent source instance, so a
    * self-join reads two clean scans.
    *
    * The fixture is a single FILE, but `FileStreamSource` needs a
    * DIRECTORY source: with a non-glob path it force-sets the inner
    * scan's `basePath` to the source path itself, which must then be a
    * directory (so neither a direct file path nor a user `basePath`
    * option can work, and a glob trick is fragile against metachars in
    * the fixture path). Instead the source reads a cached temp directory
    * holding one symlink to the fixture file — directory-shaped for the
    * stream, zero data copied.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    // unconditionally, not inside the cached thunk: on a cache hit the
    // batch peek (which sets it via table()) is skipped, and an ad-hoc
    // session that never read events as a batch would fail at stream-read
    // time on the TIMESTAMP(NANOS) fixture
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(tableStream(spark, sfDir, "events"))
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped, so a tab or CR in the text cannot break
    * a reader's parse. Used by Verify's `oracle_sql.json` and Bench's
    * failure causes.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
