package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory for the graft engine.
  *
  * The reference (amazon-science/bears) has no session concept — execution is
  * delegated to pandas/Dask kernels per layout
  * (`src/bears/core/frame/ScalableDataFrame.py:84`). On Spark the session IS
  * the engine; we pin the settings every oracle comparison depends on
  * (UTC timestamps) and the local-mode scale knobs (shuffle partitions =
  * cores, AQE on). Spark 4's default ANSI mode stays ON: pandas-flavored
  * NaN/null semantics on degenerate input are provided by explicit guards at
  * each site instead (e.g. [[graft.sdf.SCol.safeCorr]], zero-norm-safe
  * cosine, lazily-branched pct_change) — disabling ANSI would also silence
  * real overflow/cast errors the engine WANTS loud at 100 TB.
  */
object GraftSession {

  /** The core count the driver mains run `local[n]` with: `SPARK_GRAFT_CPUS`
    * when set, else the machine's core count.
    */
  def configuredCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Create (or reuse) a local session sized for `local[cpus]`.
    *
    * At cluster scale the same builder settings apply, except
    * `shuffle.partitions` should be ~2-3x total executor cores and AQE
    * coalescing takes care of the rest.
    */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = engineBuilder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The engine's session conf, independent of execution mode — the only
    * session builder in the program, so a conf added here reaches `local`,
    * `multiJvm` and every driver main alike. `parallelism` sizes
    * `shuffle.partitions` (cores locally; ~2-3× total executor cores on a
    * real cluster, AQE coalescing the rest).
    */
  private def engineBuilder(master: String, parallelism: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // 100 TB knobs, as relevant locally as on a cluster: AQE converts
      // oversized SMJ partitions into skew splits, and the runtime bloom
      // filter semi-prunes the probe side of selective joins BEFORE the
      // shuffle (row-group level on parquet) — both free correctness-wise
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Multi-JVM session (`local-cluster[n,cores,mem]` or a `spark://` master):
    * the SAME engine confs as [[local]], plus the executor-side plumbing a
    * forked-executor deployment needs — the application jar(s) shipped via
    * `spark.jars` (executors fetch them from the driver's file server; the
    * driver classpath alone never reaches a forked JVM), JDK-17 module
    * opens for the executor JVMs (spark-submit injects these for the driver
    * only; standalone `ExecutorRunner` forks a bare `java`), and an explicit
    * executor memory matching the worker grant.
    *
    * This is the validation path for everything `local[n]` structurally
    * cannot test: task/closure serialization, broadcast transfer over the
    * BlockManager, conf capture into executor-side Hadoop access, and
    * codegen class loading from a fetched jar.
    */
  def multiJvm(master: String, parallelism: Int, jars: Seq[String],
      executorMem: String = "4g"): SparkSession = {
    require(jars.nonEmpty, "multiJvm needs the application jar for executors " +
      "(sbt package → target/scala-2.13/*.jar)")
    val spark = engineBuilder(master, parallelism)
      .config("spark.jars", jars.mkString(","))
      .config("spark.executor.memory", executorMem)
      .config("spark.executor.extraJavaOptions",
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions() +
          " -Dio.netty.tryReflectiveSetAccessible=true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one of the standard test tables (`TESTDATA.md`):
    * `region nation customer supplier part orders lineitem events documents
    * embeddings`, each a single parquet at `dir/name.parquet`.
    *
    * `events.ts` has changed physical encoding across fixture generations
    * (parquet `timestamp[ns]` in one, `timestamp[us]` in another), so the
    * read is schema-adaptive rather than type-assuming: a footer probe
    * ([[parquetTsIsNanos]]) detects an ns file, and only then is the
    * nanosAsLong legacy conf (SPARK-40819) set so it loads at all (as long);
    * [[normalizeEventTs]] then dispatches on the type the reader actually
    * produced. Either encoding lands on the same session-TZ µs timestamps —
    * the truncation DuckDB applies too, so oracle comparisons agree.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name != "events") spark.read.parquet(s"$dir/$name.parquet")
    else {
      val path = s"$dir/events.parquet"
      // Footer-probe BEFORE touching session state: the legacy conf changes
      // how EVERY later parquet read in the session decodes ns timestamps
      // (TimestampNTZ → raw-nanos Long, silently), so it must only be set
      // when this file actually stores TIMESTAMP(NANOS) — and then it must
      // STAY set, because the scan consults it at action time, after this
      // call returns. For a µs fixture the session is left untouched.
      if (parquetTsIsNanos(spark, path))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(spark.read.parquet(path))
    }
  }

  /** Driver-side parquet-footer probe: does `file`'s `ts` column store
    * TIMESTAMP(NANOS)? Reads ONE footer through parquet-hadoop directly, so
    * it works regardless of the nanosAsLong conf (a `spark.read` probe of an
    * ns file would throw "Illegal Parquet type" until the conf is set — the
    * chicken-and-egg this helper exists to break). Directories (multi-file
    * Spark sinks) probe their first part file.
    */
  def parquetTsIsNanos(spark: SparkSession, file: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val hConf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(hConf)
    val target =
      if (fs.getFileStatus(p).isDirectory) {
        val parts = fs.listStatus(p).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        require(parts.nonEmpty, s"no parquet files under $file")
        parts.head
      } else p
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(target, hConf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      schema.containsField("ts") && {
        val t = schema.getType(schema.getFieldIndex("ts"))
        t.isPrimitive && (t.asPrimitiveType.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        })
      }
    } finally reader.close()
  }

  /** Normalize an events frame's `ts` to session-TZ `TimestampType` (µs)
    * regardless of how the parquet stored it:
    *   - `LongType`        → ns-as-long under the legacy conf; integer-DIV
    *                         truncate to µs (`/` would route through double
    *                         and lose µs above 2^53)
    *   - `TimestampNTZType`→ µs file without UTC adjustment; reinterpret the
    *                         wall clock in the session TZ (pinned UTC)
    *   - `TimestampType`   → already session-TZ µs; pass through
    * Anything else is a fixture regression worth failing loudly on.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts stored as unsupported type $other; expected ns-as-long, timestamp_ntz or timestamp")
    }
  }
}
