package graft.taxi

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic raw-schema taxi frames synthesized from the `events`
  * gate table — pure integer arithmetic over (event_id, user_id, ts), so
  * a SQL oracle can regenerate the identical rows and pin the whole
  * raw → canonical → clean → analytics path (SchemaNormalizer detection,
  * the FHV `PUlocationID`/`dropOff_datetime` traps, FHVHV fare
  * reconstruction, and every cleaning constant in [[Cleaning]]).
  *
  * The value ranges deliberately straddle each cleaning bound
  * (`utils.py:54-72` semantics): durations 0..1499 min (0 fails the
  * dropoff>pickup sanity, 1440+ fails the <1440 cap), distances
  * -10..609 (≤0 and ≥500 dropped), fares -10..199 (negatives dropped),
  * with periodic NULLs (kept by the engine's null-tolerant clean — the
  * generalization that lets FHV rows, which have no fare/distance at
  * all, survive the shared pipeline).
  */
object TaxiFixture {

  /** Boroughs in `LocationID % 6` order — mirrored by the x6 oracle's
    * DuckDB list literal (1-based index there, 0-based here). */
  private val boroughs =
    Seq("EWR", "Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island")

  /** Write a deterministic `taxi_zone_lookup.csv` twin (LocationID →
    * Borough/Zone/service_zone, reference
    * `scripts/generate_notebooks_auto.py:383-430`) and return its path.
    * Pure arithmetic per row, so the SQL oracle regenerates the same
    * dimension from `range(1, 266)` — this is what lets the
    * CSV-scan → broadcast-join path be oracle-pinned end to end. */
  def zoneLookupCsv(): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val path = dir.resolve("graft_taxi_zone_lookup.csv")
    val rows = (1 to 265).map { id =>
      val b = boroughs(id % 6)
      val sz = if (id % 6 == 0) "EWR" else "Boro Zone"
      s"$id,$b,Zone $id,$sz"
    }
    val csv = ("LocationID,Borough,Zone,service_zone" +: rows).mkString("", "\n", "\n")
    // write-to-temp + atomic move: a plain truncate-then-write would race
    // a concurrent reader (another session scanning while Verify
    // rewrites) into seeing a half-written zone table
    val tmp = Files.createTempFile(dir, "graft_taxi_zone_lookup", ".tmp")
    Files.write(tmp, csv.getBytes("UTF-8"))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    path.toString
  }

  private def durMin: Column = (col("event_id") % 1500).cast("int")
  private def dropoffTs: Column =
    col("ts") + make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), durMin, lit(0))
  private def distance: Column =
    when(col("event_id") % 97 === 0, lit(null))
      .otherwise((col("event_id") * 7 % 620 - 10).cast("double"))
  private def fareAmt: Column =
    when(col("event_id") % 89 === 0, lit(null))
      .otherwise((col("event_id") * 13 % 210 - 10).cast("double"))
  private def puZone: Column = (col("user_id") % 260 + 1).cast("int")
  private def doZone: Column = ((col("user_id") + col("event_id")) % 260 + 1).cast("int")

  /** Yellow-schema raw frame (`spark_jobs/utils.py:9-27` column names). */
  def yellowFromEvents(events: DataFrame): DataFrame =
    events.select(
      concat(lit("V"), (col("event_id") % 3).cast("string")).as("VendorID"),
      col("ts").as("tpep_pickup_datetime"),
      dropoffTs.as("tpep_dropoff_datetime"),
      (col("event_id") % 5 + 1).cast("int").as("passenger_count"),
      distance.as("trip_distance"),
      puZone.as("PULocationID"),
      doZone.as("DOLocationID"),
      fareAmt.as("fare_amount"),
      col("value").as("tip_amount"),
      (coalesce(fareAmt, lit(0.0)) + col("value")).as("total_amount"))

  /** Green-schema raw frame (`lpep_` timestamp prefix + `trip_type` /
    * `ehail_fee`, reference `cab_wise_analysis.ipynb` cell 6; schema
    * [[TaxiSchemas.green]]). Shares yellow's value arithmetic so the
    * oracle's green branch reuses the yellow CTE — what differs is the
    * COLUMN NAMES, which is exactly what SchemaNormalizer's lpep_
    * detection path must absorb. */
  def greenFromEvents(events: DataFrame): DataFrame =
    events.select(
      concat(lit("V"), (col("event_id") % 3).cast("string")).as("VendorID"),
      col("ts").as("lpep_pickup_datetime"),
      dropoffTs.as("lpep_dropoff_datetime"),
      (col("event_id") % 5 + 1).cast("int").as("passenger_count"),
      distance.as("trip_distance"),
      puZone.as("PULocationID"),
      doZone.as("DOLocationID"),
      fareAmt.as("fare_amount"),
      col("value").as("tip_amount"),
      (coalesce(fareAmt, lit(0.0)) + col("value")).as("total_amount"),
      (col("event_id") % 2 + 1).cast("int").as("trip_type"),
      when(col("event_id") % 19 === 0, lit(null))
        .otherwise((col("event_id") % 4).cast("double")).as("ehail_fee"))

  /** FHV-schema raw frame — exercises the `PUlocationID` (lowercase l)
    * and `dropOff_datetime` (camel O) detection traps; no fare or
    * distance columns exist, matching the real FHV files. */
  def fhvFromEvents(events: DataFrame): DataFrame =
    events.select(
      concat(lit("B"), (col("user_id") % 10).cast("string")).as("dispatching_base_num"),
      col("ts").as("pickup_datetime"),
      dropoffTs.as("dropOff_datetime"),
      puZone.cast("double").as("PUlocationID"),
      doZone.cast("double").as("DOlocationID"),
      (col("event_id") % 2).cast("int").as("SR_Flag"))

  /** FHVHV-schema raw frame — no `total_amount`, so the canonical total
    * must come from fare-component reconstruction (null→0 per row). */
  def fhvhvFromEvents(events: DataFrame): DataFrame =
    events.select(
      concat(lit("HV000"), (col("event_id") % 4).cast("string")).as("hvfhs_license_num"),
      col("ts").as("pickup_datetime"),
      dropoffTs.as("dropoff_datetime"),
      puZone.as("PULocationID"),
      doZone.as("DOLocationID"),
      distance.as("trip_miles"),
      (durMin.cast("long") * 60L).as("trip_time"),
      fareAmt.as("base_passenger_fare"),
      (col("event_id") % 7).cast("double").as("tolls"),
      (col("event_id") % 3).cast("double").as("bcf"),
      (col("event_id") % 9).cast("double").as("sales_tax"),
      (col("event_id") % 11).cast("double").as("congestion_surcharge"),
      when(col("event_id") % 13 === 0, lit(null))
        .otherwise((col("event_id") % 5).cast("double")).as("airport_fee"),
      (col("event_id") % 23).cast("double").as("tips"))
}
