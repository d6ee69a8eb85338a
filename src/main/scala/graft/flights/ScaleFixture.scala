package graft.flights

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Demo-scale staging tables — the row counts the reference actually
  * ingests (its MinIO listing, `images/miniobucket.png`, matches the
  * public PostgresPro demo-small database): 9 aircraft, 104 airports,
  * 1,339 seats, 33,121 flights, 262,788 bookings, 366,733 tickets,
  * ~1.05 M ticket_flights, ~580 K boarding_passes.
  *
  * Everything derives arithmetically from `spark.range` ids — fully
  * distributed generation (no driver-side rows), deterministic with no
  * RNG, schema-identical to [[Fixtures]] (same column names, int ids,
  * decimal(10,2) money, timestamp audit columns), and referentially
  * consistent: every ticket's book_ref exists, every ticket_flight's
  * flight exists with 2-3 flights per ticket, every boarding pass is a
  * ticket_flight subset (~5/9) whose seat_no is valid for ANY aircraft
  * (seat ordinals are generated mod 148, the minimum cabin size).
  * Edge semantics carried over from the golden fixtures: cancelled and
  * not-yet-departed flights have NULL actuals, ~1/3 of passengers lack
  * the email key, passengers repeat across tickets (dedup coverage).
  *
  * Used by [[ScaleBench]] to time the reference pipeline shape
  * (extract -> load -> 8 transforms) at the reference's own data scale.
  */
object ScaleFixture {

  private val Codes = Seq("320", "321", "733", "763", "773", "CR2", "CN1", "SU9", "319")

  private def codeCol(idMod: org.apache.spark.sql.Column) =
    element_at(array(Codes.map(lit): _*), (idMod % 9).cast("int") + 1)

  private def audit(df: DataFrame): DataFrame = df
    .withColumn("created_at", expr("timestamp'2024-05-01 00:00:00'"))
    .withColumn("updated_at", expr(
      "timestamp'2024-06-10 00:00:00' + make_interval(0, 0, 0, 0, cast(id % 72 as int), 0, 0)"))

  private def seatNo(ordinal: org.apache.spark.sql.Column) =
    concat((ordinal.cast("int") / 6 + 1).cast("int").cast("string"),
      element_at(array(Seq("A", "B", "C", "D", "E", "F").map(lit): _*),
        (ordinal % 6).cast("int") + 1))

  def staging(s: SparkSession): Map[String, DataFrame] = {
    val aircrafts = audit(s.range(9).toDF("id"))
      .select(col("id").cast("int").as("id"), codeCol(col("id")).as("aircraft_code"),
        format_string("{\"en\": \"Model %s\", \"xx\": \"M%s\"}",
          codeCol(col("id")), col("id")).as("model"),
        (lit(2000) + col("id").cast("int") * 700).as("aircraft_range"),
        col("created_at"), col("updated_at"))

    val airports = audit(s.range(104).toDF("id"))
      .select(col("id").cast("int").as("id"),
        when(col("id") < 100, format_string("X%02d", col("id")))
          .otherwise(format_string("Y%02d", col("id") - 100)).as("airport_code"),
        format_string("{\"en\": \"Airport %d\"}", col("id")).as("airport_name"),
        format_string("{\"en\": \"City %d\"}", col("id") % 60).as("city"),
        format_string("(%s,%s)",
          round(lit(-179.5) + col("id") * 3.35, 6).cast("string"),
          round(lit(-59.5) + (col("id") % 50) * 2.15, 6).cast("string")).as("coordinates"),
        lit("Etc/UTC").as("timezone"), col("created_at"), col("updated_at"))

    // 1,339 seats: aircraft 0-6 get 149, 7-8 get 148 (ordinal = id / 9)
    val seats = audit(s.range(1339).toDF("id"))
      .select(col("id").cast("int").as("id"), codeCol(col("id")).as("aircraft_code"),
        seatNo(col("id") / 9).as("seat_no"),
        when(col("id") / 9 < 12, "Business")
          .when(col("id") / 9 < 30, "Comfort")
          .otherwise("Economy").as("fare_conditions"),
        col("created_at"), col("updated_at"))

    val depArr = s.range(33121).toDF("id")
      .withColumn("dep", (col("id") % 104).cast("int"))
      .withColumn("arr0", ((col("id") * 7 + 13) % 104).cast("int"))
      .withColumn("arr", when(col("arr0") === col("dep"),
        (col("arr0") + 1) % 104).otherwise(col("arr0")).cast("int"))
    def apCode(c: org.apache.spark.sql.Column) =
      when(c < 100, format_string("X%02d", c)).otherwise(format_string("Y%02d", c - 100))
    val flights = audit(depArr)
      .withColumn("sched_dep", expr(
        "timestamp'2024-06-01 00:00:00' + make_interval(0, 0, 0, cast(id % 30 as int), cast(id % 24 as int), 0, 0)"))
      .withColumn("sched_arr", expr(
        "sched_dep + make_interval(0, 0, 0, 0, cast(2 + id % 5 as int), cast(id % 60 as int), 0)"))
      .withColumn("status",
        when(col("id") % 11 === 0, "Cancelled")
          .when(col("id") % 13 === 1, "Scheduled")
          .otherwise("Arrived"))
      .select(col("id").cast("int").as("id"), (col("id") + 1).cast("int").as("flight_id"),
        format_string("PG%04d", col("id") % 9999).as("flight_no"),
        col("sched_dep").as("scheduled_departure"),
        col("sched_arr").as("scheduled_arrival"),
        apCode(col("dep")).as("departure_airport"),
        apCode(col("arr")).as("arrival_airport"),
        col("status"), codeCol(col("id")).as("aircraft_code"),
        when(col("status") === "Arrived", expr(
          "sched_dep + make_interval(0, 0, 0, 0, 0, cast(id % 40 as int), 0)"))
          .as("actual_departure"),
        when(col("status") === "Arrived", expr(
          "sched_arr + make_interval(0, 0, 0, 0, 0, cast(id % 55 as int), 0)"))
          .as("actual_arrival"),
        col("created_at"), col("updated_at"))

    val bookings = audit(s.range(262788).toDF("id"))
      .select(col("id").cast("int").as("id"),
        lpad(upper(conv(col("id").cast("string"), 10, 36)), 6, "0").as("book_ref"),
        expr("timestamp'2024-05-02 00:00:00' + make_interval(0, 0, 0, cast(id % 39 as int), cast(id % 24 as int), 0, 0)")
          .as("book_date"),
        (lit(100) + (col("id") % 900)).cast("decimal(10,2)").as("total_amount"),
        col("created_at"), col("updated_at"))

    // passenger base repeats across tickets (366,733 tickets over 300,000
    // passengers) — the dim_passenger dedup path at scale
    val tickets = audit(s.range(366733).toDF("id"))
      .withColumn("pax", (col("id") % 300000).cast("int"))
      .select(col("id").cast("int").as("id"),
        format_string("00055%08d", col("id")).as("ticket_no"),
        lpad(upper(conv((col("id") % 262788).cast("string"), 10, 36)), 6, "0").as("book_ref"),
        format_string("%04d %06d", col("pax") % 10000, col("pax")).as("passenger_id"),
        format_string("PASSENGER %d", col("pax")).as("passenger_name"),
        when(col("pax") % 3 === 0,
          format_string("{\"phone\": \"+7%010d\"}", col("pax")))
          .otherwise(format_string(
            "{\"phone\": \"+7%010d\", \"email\": \"p%d@example.org\"}",
            col("pax"), col("pax"))).as("contact_data"),
        col("created_at"), col("updated_at"))

    // 2-3 flights per ticket (3 unless t % 7 == 6) -> 1,047,809 rows;
    // distinct flights per ticket by construction (7919 and 15838 are
    // distinct nonzero residues mod 33121)
    val tf = s.range(366733L * 3).toDF("rid")
      .withColumn("t", (col("rid") / 3).cast("int"))
      .withColumn("k", (col("rid") % 3).cast("int"))
      .filter(!(col("k") === 2 && col("t") % 7 === 6))
    val ticketFlights = audit(tf.withColumn("id", col("rid").cast("int")))
      .select(col("id"),
        format_string("00055%08d", col("t")).as("ticket_no"),
        (((col("t") * 13 + col("k") * 7919) % 33121) + 1).cast("int").as("flight_id"),
        when(col("k") === 2, "Business")
          .when((col("t") + col("k")) % 5 === 0, "Comfort")
          .otherwise("Economy").as("fare_conditions"),
        (lit(50) + (col("t") % 200) * 25 + col("k") * 1000).cast("decimal(10,2)").as("amount"),
        col("created_at"), col("updated_at"))

    // ~5/9 of ticket_flights board (582 K); seat ordinal mod 148 is valid
    // on every aircraft
    val boardingPasses = audit(tf
      .filter((col("t") + col("k") * 3) % 9 < 5)
      .withColumn("id", col("rid").cast("int")))
      .select(col("id"),
        format_string("00055%08d", col("t")).as("ticket_no"),
        (((col("t") * 13 + col("k") * 7919) % 33121) + 1).cast("int").as("flight_id"),
        ((col("t") % 200) + 1).cast("int").as("boarding_no"),
        seatNo((col("t") * 31 + col("k")) % 148).as("seat_no"),
        col("created_at"), col("updated_at"))

    Map(
      "aircrafts_data" -> aircrafts, "airports_data" -> airports,
      "seats" -> seats, "flights" -> flights, "bookings" -> bookings,
      "tickets" -> tickets, "ticket_flights" -> ticketFlights,
      "boarding_passes" -> boardingPasses)
  }
}

/** Times the reference pipeline at the reference's data scale through
  * the real code path: one `Pipeline.runFor` (full extract -> CSV edge ->
  * load of the 8 staging tables, then the 8 star transforms) and one
  * `Pipeline.transformAtomic` (the atomic star publish), one wall-time
  * line per call plus their total, comparable against the reference's
  * Airflow Gantt (`images/DAGSdiagram.png`, <= ~22 s per task). Usage:
  *   sbt "runMain graft.flights.ScaleBench [warehouseDir]"
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val wh = if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("graft_scalebench").toString
    val spark = graft.GraftSession.local("scalebench", graft.GraftSession.cpus(32))
    def timed(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $name%-16s $secs%7.2f s")
      secs
    }
    val src = ScaleFixture.staging(spark)
    val total = timed("runFor") {
      val loaded = Pipeline.runFor(spark, src, wh, "2024-06-10",
        PipelineConfig(incremental = false, csvEdge = true))
      require(loaded.size == Pipeline.FkOrder.size, s"not every table loaded: $loaded")
    } + timed("transformAtomic") {
      require(Pipeline.transformAtomic(spark, wh).isDefined, "star publish skipped")
    }
    println(f"[scale] TOTAL $total%.2f s (reference Gantt: <= ~22 s/task)")
    spark.stop()
  }
}
