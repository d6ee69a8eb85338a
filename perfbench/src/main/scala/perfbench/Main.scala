package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._

import graft.engine.{Incremental, Sinks, SnapshotSet, Sources}
import graft.flights.{Fixtures, Pipeline, PipelineConfig, ScaleFixture, StarSchema}

/** The benchmark's JVM side: drives one workload through the engine's
  * public entry points from a single client thread (closed loop) and
  * writes raw samples to `<work>/result.json` (plus `spans.jsonl` when
  * traced). `run.py` builds, generates inputs, checks oracles and turns
  * the samples into metrics.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace, work,
  * corpus, lanes, thin, source, source_dir, expect, dump,
  * inject_fail.
  */
object Main {
  type Lane = (SparkSession, String) => DataFrame

  final class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  /** Samples and checks of one run. An operation that throws or returns
    * the wrong content is failed and contributes no time.
    */
  final class Record {
    val setupS = ArrayBuffer.empty[Double]
    val unitS = ArrayBuffer.empty[Double]
    val opS = ArrayBuffer.empty[Double]
    val tracedUnitS = ArrayBuffer.empty[Double]
    val failures = ArrayBuffer.empty[String]
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val layers = ArrayBuffer.empty[(String, Double, String)]
    var attempted, ok = 0L
    var timedS = 0.0

    /** Time `body` as one operation; `check` validates its result. */
    def op[T](name: String)(body: => T)(check: T => Option[String]): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      val res = try Right(body) catch { case e: Throwable => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      timedS += secs
      val err = res match {
        case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        case Right(v) => check(v)
      }
      note(f"$name%-32s $secs%8.3f s${err.fold("")(" FAILED " + _)}")
      err match {
        case Some(msg) => failures += s"$name: $msg"; None
        case None => ok += 1; Some(secs)
      }
    }

    /** The digest of `key` must equal the expected one; the first digest
      * seen becomes the expectation when none was given.
      */
    def expect(key: String, d: String): Option[String] = digests.get(key) match {
      case Some(e) if e != d => Some(s"content $d != expected $e")
      case Some(_) => None
      case None => digests(key) = d; None
    }
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    val work = Paths.get(o("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(work, cpus)
    val traced = o("trace") == "1"
    val tracer = new Tracer(traced, s"${o("workload")}-${o("seed")}")
    val counters = new SparkCounters
    if (traced) spark.sparkContext.addSparkListener(counters)
    val rec = new Record
    o.get("expect", "") match {
      case "" =>
      case f => Files.readAllLines(Paths.get(f)).asScala.filter(_.contains('\t'))
          .foreach { l => val Array(k, v) = l.split('\t'); rec.digests(k) = v }
    }
    val bench = new Workloads(spark, o, work, rec, tracer, counters)
    o("workload") match {
      case "pipeline_daily" => bench.pipeline()
      case "lanes_serve" => bench.lanes()
      case w => sys.error(s"unknown workload $w")
    }
    val storage = spark.sparkContext.getRDDStorageInfo
    rec.layers += (("spark.cached_mb",
      storage.map(i => i.memSize + i.diskSize).sum / 1048576.0, "MB"))
    rec.layers += (("spark.cached_rdds", storage.length.toDouble, "count"))
    // live heap: full collections until Spark's cleaner has let go
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    Files.write(work.resolve("spans.jsonl"), tracer.jsonLines.toSeq.asJava)
    val json = Json.obj(Seq(
      "setup_s" -> Json.arr(rec.setupS),
      "unit_s" -> Json.arr(rec.unitS),
      "traced_unit_s" -> Json.arr(rec.tracedUnitS),
      "op_s" -> Json.arr(rec.opS),
      "timed_s" -> Json.num(rec.timedS),
      "attempted" -> rec.attempted.toString,
      "ok" -> rec.ok.toString,
      "failures" -> rec.failures.map(Json.str).mkString("[", ",", "]"),
      "heap_mb" -> Json.num(heapMb),
      "digests" -> Json.obj(rec.digests.map { case (k, v) => k -> Json.str(v) }),
      "layers" -> Json.obj(rec.layers.map { case (k, v, u) =>
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" })))
    Files.writeString(work.resolve("result.json"), json)
    spark.stop()
  }

  /** Session settings of `graft.Bench`, with every scratch location
    * (tmpdir, artifacts, warehouse, Spark local dir) inside `work`.
    */
  private def session(work: Path, cpus: Int): SparkSession = {
    val wh = Files.createDirectories(work.resolve("warehouse"))
    val local = Files.createDirectories(work.resolve("spark-local"))
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
  }

  /** Order-insensitive content digests "<rows>:<hash>" of several results,
    * from one job over their `toRdd`s (every row projected to its unsafe
    * form, whose hash covers all column bytes).
    */
  def digests(dfs: Seq[(String, DataFrame)]): Map[String, String] = {
    val parts = dfs.map { case (key, df) =>
      val schema = df.queryExecution.executedPlan.schema
      df.queryExecution.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r: InternalRow =>
          val u = r match { case u: UnsafeRow => u; case other => proj(other) }
          n += 1
          h += mix(u.hashCode)
        }
        Iterator((key, n, h))
      }
    }
    val sums = dfs.map { case (k, _) => k -> (0L, 0L) }.toMap ++
      dfs.head._2.sparkSession.sparkContext.union(parts).collect()
        .groupMapReduce(_._1)(r => (r._2, r._3)) { case ((a, b), (c, d)) => (a + c, b + d) }
    sums.map { case (k, (n, h)) => k -> s"$n:${java.lang.Long.toHexString(h)}" }
  }

  def digest(df: DataFrame): String = digests(Seq("" -> df))("")

  private def mix(x: Int): Long = {
    var z = x.toLong * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z ^ (z >>> 31)
  }

  private val t0 = System.nanoTime()

  /** Progress on stderr, which the runner keeps in the run's log. */
  def note(msg: String): Unit =
    System.err.println(f"[${(System.nanoTime() - t0) / 1e9}%7.1f] $msg")

  /** Seeded shuffle, identical on every JVM. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] =
    if (seed == 0L) xs else new scala.util.Random(seed).shuffle(xs)
}

final class Workloads(spark: SparkSession, o: Main.Opts, work: Path,
    rec: Main.Record, tracer: Tracer, counters: SparkCounters) {
  import Main._

  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble

  /** Run units until the measured time reaches `seconds`. A traced run
    * traces every other unit and runs at least three (untraced, traced,
    * untraced), so the tracing overhead is read off one run.
    */
  private def measure(unit: Boolean => Option[Double]): Unit = {
    var cgN = 0L
    var cgMs = 0.0
    var i = 0
    val minUnits = if (tracer.enabled) 3 else 1
    while (rec.timedS < seconds || i < minUnits) {
      val traceThis = tracer.enabled && i % 2 == 1
      val c0 = Codegen.count
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      counters.active = traceThis
      tracer.active = traceThis
      val wall = unit(traceThis)
      note(s"unit $i ${if (traceThis) "traced " else ""}wall $wall")
      tracer.active = false
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      counters.active = false
      if (traceThis) {
        val dn = Codegen.count - c0
        cgN += dn
        cgMs += dn * Codegen.meanMs
      }
      wall.foreach(w => if (traceThis) rec.tracedUnitS += w else rec.unitS += w)
      i += 1
    }
    if (tracer.enabled) {
      val k = rec.tracedUnitS.size.max(1).toDouble
      rec.layers += (("spark.codegen_compiles", cgN / k, "count"))
      rec.layers += (("spark.codegen_compile_s", cgMs / 1e3 / k, "s"))
      counters.metrics(spark.sparkContext).foreach { case (n, v, u) =>
        rec.layers += ((n, if (u == "ratio") v else v / k, u))
      }
    }
  }

  // ---------------------------------------------------------------- lanes

  private val groups: Seq[(String, Map[String, Lane])] = Seq(
    "ops" -> (graft.ops.Relational.queries ++ graft.ops.Scalars.queries ++
      graft.ops.Sketches.queries ++ graft.ops.Graph.queries),
    "ext.Linkage" -> graft.ext.Linkage.queries,
    "ext.Dedup" -> graft.ext.Dedup.queries,
    "ext.TextAnalysis" -> graft.ext.TextAnalysis.queries,
    "ext.Retrieval" -> graft.ext.Retrieval.queries,
    "ext.Similarity" -> graft.ext.Similarity.queries,
    "ext.Clustering" -> graft.ext.Clustering.queries,
    "ext.NnGraph" -> graft.ext.NnGraph.queries,
    "ext.SuffixDedup" -> graft.ext.SuffixDedup.queries,
    "ext.Multimodal" -> graft.ext.Multimodal.queries,
    "streaming" -> (graft.streaming.EventStream.queries ++
      graft.streaming.SuffixScrubIngest.queries ++ graft.streaming.ContaminationIngest.queries),
    "engine" -> (graft.engine.SnapshotSet.queries ++ graft.engine.Cdc.queries),
    "plans" -> (graft.plans.TopKPerKey.queries ++ graft.plans.MvQueries.queries),
    "sources" -> graft.sources.VecShardQueries.queries)

  private def group(lane: String): String =
    groups.collectFirst { case (g, m) if m.contains(lane) => g }.getOrElse("selftest")

  private lazy val laneNames: Seq[String] = o("lanes").split(',').toSeq.filter(_.nonEmpty) ++
    (if (o.get("inject_fail", "0") == "1") Seq("selftest_throw") else Nil)

  private def laneFn(name: String): Lane =
    if (name == "selftest_throw") (_, _) => throw new IllegalStateException("injected failure")
    else graft.SparkEntry.queries(name)

  /** One lane call: build the frame, plan it, execute it to a digest. */
  private def callLane(name: String, dir: String): String = {
    val g = group(name)
    tracer(s"lane.$name") {
      val df = tracer(s"$g.build")(laneFn(name)(spark, dir))
      tracer(s"$g.plan")(df.queryExecution.executedPlan)
      tracer(s"$g.exec")(digest(df))
    }
  }

  /** The corpus copied into the run's scratch dir, so that artifacts and
    * memos keyed by its path are this run's own.
    */
  private def copyCorpus(): String = {
    val src = Paths.get(o("corpus"))
    val dst = Files.createDirectories(work.resolve("corpus"))
    Files.list(src).iterator.asScala.foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
    dst.toString
  }

  /** One pass over the lanes in a seeded order (0: list order), each
    * lane's time going to `samples`; the pass wall is the sum of its
    * lanes' times, or None when a lane failed.
    */
  private def pass(dir: String, order: Long, samples: ArrayBuffer[Double]): Option[Double] = {
    var wall = 0.0
    var allOk = true
    shuffled(laneNames, order).foreach { name =>
      tracer.newOp()
      rec.op(name)(callLane(name, dir))(d => rec.expect(name, d)) match {
        case Some(s) => wall += s; samples += s
        case None => allOk = false
      }
    }
    if (allOk) Some(wall) else None
  }

  /** Lane serving. Set-up is the session's first pass, in list order over
    * a copy of the corpus: it compiles every lane (the warm-up
    * `graft.Bench` does), builds its memos and fixes the expected digests;
    * each lane's first call is one set-up sample. The timed passes then
    * repeat the lanes, in seeded orders, on the same session and corpus.
    */
  def lanes(): Unit = {
    val dir = copyCorpus()
    pass(dir, 0L, rec.setupS)
    note("session warmed")
    rec.timedS = 0.0
    val untimed = ArrayBuffer.empty[Double]
    var p = 0
    measure { traced =>
      p += 1
      pass(dir, seed * 104729 + p, if (traced) untimed else rec.opS)
    }
    if (o.get("dump", "0") == "1") dumpLanes(dir)
  }

  /** Outside any measurement: write each lane's result for the DuckDB
    * oracle, checking it still has the digest the timed calls returned.
    */
  private def dumpLanes(dir: String): Unit = {
    val out = Files.createDirectories(work.resolve("dump"))
    laneNames.filterNot(_ == "selftest_throw").foreach { name =>
      try {
        val df = laneFn(name)(spark, dir)
        rec.expect(name, digest(df)).foreach(e => rec.failures += s"$name (dump): $e")
        df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
      } catch { case e: Throwable => rec.failures += s"$name (dump): ${e.getMessage}" }
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => laneNames.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }))
  }

  // ------------------------------------------------------------- pipeline

  private val days = Seq("2024-06-10", "2024-06-11", "2024-06-12")
  private val cfg = PipelineConfig(csvEdge = true)

  /** The source tables the daily runs extract from: `ScaleFixture.staging`
    * thinned by whole bookings (a booking is kept when its id is a multiple
    * of `thin`, with its tickets, their ticket_flights and boarding passes,
    * so every foreign key still resolves; aircrafts, airports, seats and
    * flights are kept whole), stored once as parquet under `source_dir`.
    * With source=fixtures, the golden `Fixtures` instead.
    */
  private def staging(): Map[String, DataFrame] =
    if (o.get("source", "scale") == "fixtures") Fixtures.stg(spark)
    else {
      val dir = o("source_dir")
      if (!Files.exists(Paths.get(dir, "_SUCCESS"))) {
        val thin = o("thin").toInt
        val keepTicket = (t: org.apache.spark.sql.Column) => pmod(t % 262788, lit(thin)) === 0
        ScaleFixture.staging(spark).foreach { case (n, df) =>
          val kept = n match {
            case "bookings" => df.filter(pmod(col("id"), lit(thin)) === 0)
            case "tickets" => df.filter(keepTicket(col("id")))
            case "ticket_flights" | "boarding_passes" =>
              df.filter(keepTicket((col("id") / 3).cast("int")))
            case _ => df
          }
          kept.write.mode("overwrite").parquet(s"$dir/$n")
        }
        Files.createFile(Paths.get(dir, "_SUCCESS"))
      }
      Pipeline.FkOrder.map(t => t -> spark.read.parquet(s"$dir/$t")).toMap
    }

  private def stgPath(wh: String, t: String) = s"$wh/stg/$t"

  /** `Pipeline.runFor` spelled out in the public calls it makes, each
    * inside a span: extract, CSV edge write and read, idempotent load,
    * then the 8 star transforms.
    */
  private def tracedRunFor(src: Map[String, DataFrame], wh: String, ds: String): Unit =
    tracer("flights.Pipeline.runFor") {
      Pipeline.FkOrder.foreach { table =>
        val (pinned, rows) = tracer("engine.Incremental.extract") {
          val p = Incremental.dayWindow(src(table), cfg.tsCol, ds).persist()
          (p, p.count())
        }
        try if (rows > 0) {
          val edge = s"$wh/edge/$table"
          tracer("engine.Sources.csv_write")(Sources.writeCsv(pinned, edge))
          val loaded = Sources.readCsv(spark, pinned.schema, edge)
          tracer("engine.Sinks.load")(Sinks.overwriteDayPartitions(loaded, cfg.tsCol, stgPath(wh, table)))
          tracer("engine.Sources.csv_read")(loaded.count())
        } finally pinned.unpersist()
      }
      val stg = Pipeline.FkOrder.map(t => t -> spark.read.parquet(stgPath(wh, t))).toMap
      StarSchema.transforms.foreach { case (name, fn) =>
        tracer(s"flights.StarSchema.$name")(Sinks.truncateLoad(fn(stg), s"$wh/$name"))
      }
    }

  private def stagingDigests(wh: String): Map[String, String] =
    digests(Pipeline.FkOrder.map(t => t -> spark.read.parquet(stgPath(wh, t))))

  def pipeline(): Unit = {
    val src = staging()
    // set-up: one throwaway warm-up day, the session's first
    val t0 = System.nanoTime()
    Pipeline.runFor(spark, src, work.resolve("wh-setup").toString, days.head, cfg)
    rec.setupS += (System.nanoTime() - t0) / 1e9
    note(f"set-up ${rec.setupS.last}%.3f s")
    // the reference the published star must equal: a non-incremental
    // full load of every staging table, then the same 8 transforms
    if (!StarSchema.transforms.forall { case (n, _) => rec.digests.contains(s"star:$n") }) {
      val ref = work.resolve("wh-full").toString
      Pipeline.runFor(spark, src, ref, days.head, PipelineConfig(incremental = false))
      digests(StarSchema.transforms.map { case (n, _) => s"star:$n" -> spark.read.parquet(s"$ref/$n") })
        .foreach { case (k, d) => rec.digests(k) = d }
    }
    val replay = days(new scala.util.Random(seed).nextInt(days.size))
    var u = 0
    var lastWh = ""
    measure { traced =>
      val wh = work.resolve(s"wh-$u").toString
      u += 1
      var wall = 0.0
      var allOk = true
      def day(name: String, ds: String)(check: => Option[String]): Unit = {
        tracer.newOp()
        rec.op(name)(
          if (traced) tracedRunFor(src, wh, ds) else Pipeline.runFor(spark, src, wh, ds, cfg)
        )(_ => check) match {
          case Some(s) => wall += s; if (!traced) rec.opS += s
          case None => allOk = false
        }
      }
      days.foreach(ds => day(s"day $ds", ds)(None))
      val before = stagingDigests(wh)
      day(s"replay $replay", replay) {
        if (stagingDigests(wh) == before) None else Some("staging changed")
      }
      tracer.newOp()
      rec.op("publish")(tracer("engine.SnapshotSet.publish")(Pipeline.transformAtomic(spark, wh))) {
        case Some(_) =>
          val got = digests(StarSchema.transforms.map { case (n, _) =>
            s"star:$n" -> SnapshotSet.readTable(spark, s"$wh/star", n) })
          got.toSeq.sorted.collectFirst(Function.unlift { case (k, d) =>
            rec.expect(k, d).map(e => s"$k: $e") })
        case None => Some("staging incomplete, nothing published")
      } match {
        case Some(s) => wall += s
        case None => allOk = false
      }
      if (traced) lastWh = wh
      if (allOk) Some(wall) else None
    }
    if (lastWh.nonEmpty) {
      // what the loads left on disk, from the last traced unit
      val fs = new org.apache.hadoop.fs.Path(lastWh)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = Pipeline.FkOrder.flatMap { t =>
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(stgPath(lastWh, t)), true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      }
      val rows = Pipeline.FkOrder.map(t => spark.read.parquet(stgPath(lastWh, t)).count()).sum
      rec.layers += (("engine.Sinks.files_written", files.size.toDouble, "count"))
      rec.layers += (("engine.Sinks.bytes_per_row",
        files.map(_.getLen).sum.toDouble / rows.max(1), "B"))
    }
  }
}
