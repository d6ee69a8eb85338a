package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.expr

/** Table registry: name -> parquet path under a scale-factor directory.
  *
  * The reference keeps its catalog implicit in Airflow Variables
  * (`tables_to_extract`, reference `start.sh:20-23`) and Postgres schemas;
  * here the catalog is an explicit registry so sources stay declarative and
  * Catalyst sees a plain parquet relation (filter/column pushdown for free).
  */
object Tables {
  /** Driver-generated tables (see /root/repo/TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Scan a registered table. Schema comes from the parquet footer —
    * deterministic (driver-written), so no inference ambiguity to pin.
    *
    * Memoized per (session, table path, [[CorpusArtifact.pathFingerprint]]):
    * opening a parquet table runs a one-task schema-inference job, which
    * a warm lane call would otherwise pay on every open. A rewritten table
    * has a new fingerprint and so opens afresh, with no
    * [[SessionMemo.reset]]. A missing table is not memoized: the read
    * raises Spark's own path-not-found error.
    *
    * `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects (`PARQUET_TYPE_ILLEGAL`). We read it as a
    * raw long (`nanosAsLong`) and convert to micro-precision
    * TimestampType with integer `DIV` (a double division would lose
    * precision: epoch-nanos ~1.7e18 exceeds 2^53). DuckDB applies the
    * same nanos->micros truncation when it reads the file, so oracle
    * comparisons stay exact. The conf fallback and the footer check run
    * inside the memoized open, so once per table state.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    memoized(spark, dir, name, split = false)(open(spark, path(dir, name), name))

  private val scans = SessionMemo[(String, String, Boolean), DataFrame]("Tables.scan")

  /** `build` memoized per (session, table path, fingerprint, split). */
  private def memoized(spark: SparkSession, dir: String, name: String,
      split: Boolean)(build: => DataFrame): DataFrame = {
    val p = path(dir, name)
    val fp = try Some(CorpusArtifact.pathFingerprint(spark, p))
      catch { case _: java.io.FileNotFoundException => None }
    fp.fold(build)(f => scans(spark, (p, f, split))(build))
  }

  private def open(spark: SparkSession, p: String, name: String): DataFrame =
    if (name == "events") {
      // Sessions should set this at construction (Verify/Bench/SparkSpec
      // builders do); this is a fallback for ad-hoc sessions. It is
      // checked first so an already-configured session is never mutated
      // mid-flight (the set is visible session-wide, not per-read).
      if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(p)
      // TIMESTAMP(NANOS) arrives as a long under nanosAsLong and needs
      // the DIV-1000 truncation; a rewritten corpus (e.g. the 10x
      // scaling clone, written by DuckDB as micros) arrives as a native
      // timestamp already at oracle precision — accept both spellings.
      // The long case is footer-verified, not assumed: a raw INT64 ts
      // (e.g. micros-as-INT64, a common parquet spelling) would be
      // silently mis-scaled 1000x by the DIV, so the parquet logical-
      // type annotation must actually say TIMESTAMP(NANOS).
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          assertTsIsNanos(spark, p)
          raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // An arrow-written corpus (isAdjustedToUTC=false micros) arrives
          // as timestamp_ntz under Spark's NTZ inference. Every session
          // here pins spark.sql.session.timeZone=UTC, so the NTZ->TZ cast
          // is value-preserving (the wall-clock instant IS the UTC
          // instant) and keeps downstream typed access (Row.getTimestamp,
          // Dataset[T] with java.sql.Timestamp fields) and the DuckDB
          // twins exact. Normalizing at the read boundary keeps one
          // canonical ts type for all 190+ queries regardless of which
          // writer produced the fixture (nanos-INT64, micros-NTZ, or
          // micros-UTC).
          raw.withColumn("ts",
            raw.col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else spark.read.parquet(p)

  /** The table scan split to at least the session's parallelism — for
    * CPU-AMPLIFYING consumers (token/gram explodes over `documents`
    * multiply the scanned bytes ~50x in work). Test fixtures arrive as
    * ONE parquet row group, which is unsplittable however small
    * `maxPartitionBytes` goes, so the whole explode otherwise runs on
    * one core (measured 10x: 30+ s single-threaded gram passes).
    * CONDITIONAL on purpose: a production corpus scan already has
    * >= cores partitions and must NOT pay a full-text shuffle — this
    * is then the identity. Memoized like [[apply]]; the partition count
    * comes from the scan's own physical plan, so deciding plans no
    * second query.
    */
  def split(spark: SparkSession, dir: String, name: String): DataFrame =
    memoized(spark, dir, name, split = true) {
      val df = apply(spark, dir, name)
      val p = spark.sparkContext.defaultParallelism
      val parts = df.queryExecution.sparkPlan.collectFirst {
        case scan: FileSourceScanExec => scan.inputRDD.getNumPartitions
      }.get
      if (parts >= p) df else df.repartition(p)
    }

  /** The scan rule of the corpus lanes: `documents` and `embeddings` are
    * bytes-small single-row-group files whose consumers amplify CPU
    * (token/gram explodes, d^2 products), so they go through [[split]];
    * every other table is the plain scan.
    */
  def splitCorpus(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "documents" || name == "embeddings") split(spark, dir, name)
    else apply(spark, dir, name)

  /** Fail unless the INT64 `ts` of the table at `p` is annotated
    * TIMESTAMP(NANOS) in its parquet footer.
    */
  private def assertTsIsNanos(spark: SparkSession, p: String): Unit = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val fsPath = new org.apache.hadoop.fs.Path(p)
    val fs = fsPath.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(fsPath).isDirectory)
        fs.listStatus(fsPath).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).head
      else fsPath
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val ann =
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        schema.getType(schema.getFieldIndex("ts"))
          .asPrimitiveType().getLogicalTypeAnnotation
      }
      finally reader.close()
    ann match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS => ()
      case other => throw new IllegalStateException(
        s"$p: ts is INT64 but its parquet logical type is " +
          s"${Option(other).getOrElse("<none>")}, not TIMESTAMP(NANOS) — " +
          "refusing the nanos->micros DIV 1000 (a micros-as-INT64 " +
          "column would be silently mis-scaled 1000x)")
    }
  }
}
