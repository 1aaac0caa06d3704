package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.{AnalyticsJob, BatchRunner}
import graft.dedup.{Dedup, DupGroups}
import graft.pipeline.TrainingData
import graft.sources.{CuratedWriter, Manifest, Tables}
import graft.taxi.Cleaning

/** What one operation hands back: rows it produced (for the
  * rows-scanned ratio), the curated/output tree it wrote (if any), and
  * an untimed step that dumps its output for the correctness check. */
final case class OpOut(rowsOut: Long, wrote: Option[String], dump: () => Unit)

/** A benchmark workload. `plain` is the operation as a user runs it;
  * `traced` runs the same public calls with a forced (`noop`) boundary
  * after each layer and returns each layer's self time in seconds. */
trait Workload {
  def name: String
  /** Set-up work after the session starts (timed as part of set-up). */
  def setup(spark: SparkSession, k: Int): Unit = ()
  /** Set-up in a traced run: returns layer metrics of the set-up. */
  def setupTraced(tr: Tracer, spark: SparkSession): Map[String, Double] = { setup(spark, 1); Map.empty }
  /** Warm the set-up's code paths on a small input (untimed, before the
    * timed set-ups). */
  def warmSetup(spark: SparkSession): Unit = ()
  /** Warm the operations' code paths; a traced run has not built its
    * set-up yet when it warms. */
  def warmup(spark: SparkSession, trace: Boolean): Unit
  /** Operations per measured unit (a request sequence for analytics). */
  def unitSize: Int = 1
  /** Measured units per run, at the least. */
  def minUnits: Int = 1
  /** True when `traced` runs exactly the jobs `plain` runs (no forced
    * boundaries), so a traced run can take its counters from it. */
  def tracedIsPlain: Boolean = false
  def opLabel(i: Int): String = name
  def plain(spark: SparkSession, i: Int): OpOut
  def traced(tr: Tracer, spark: SparkSession, i: Int): (OpOut, Map[String, Double])
  /** Counts a workload takes after a counted operation (untimed). */
  def afterCounted(spark: SparkSession, out: OpOut): Map[String, Double] = Map.empty
}

object Io {
  import scala.jdk.CollectionConverters._

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Data files under `dir` (Spark's `_SUCCESS`/`.crc` side files excluded). */
  def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }).toList
      finally s.close()
    }
  }

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }

  def append(path: String, line: String): Unit =
    Files.write(Paths.get(path), (line + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
}

/** The reference's batch job (`BatchRunner.run`: raw four-schema drop →
  * one partitioned curated write + manifest append), which builds the
  * tree the analytics requests read. */
object Batch {
  val cabs: Seq[String] = Seq("yellow", "green", "fhv", "fhvhv")

  def run(spark: SparkSession, raw: String, curated: String, manifest: String): Map[String, Long] =
    BatchRunner.run(spark, raw, curated, cabs, Some(manifest))

  /** `BatchRunner.run`'s calls one layer at a time: each `noop` forces
    * the plan up to a layer boundary, and a layer's self time is the
    * difference between its boundary and the previous one. The read
    * boundary scans only the raw columns the normalizer uses, so column
    * pruning does not make the next boundary cheaper than this one. */
  def traced(tr: Tracer, spark: SparkSession, raw: String, curated: String, manifest: String,
             op: Int): (Map[String, Long], Map[String, Double]) = tr.span("op", op) {
    val loads = cabs.map(BatchRunner.loadOne(spark, raw, _))
    val frames = loads.flatMap(_.df)
    val scans = loads.map { l =>
      val used = l.df.get.queryExecution.analyzed.references.map(_.name).toSeq.distinct
      spark.read.parquet(s"$raw/${l.cabType}").select(used.map(col): _*)
    }
    val tRead = tr.span("sources.read", op)(Io.seconds(scans.foreach(Io.noop)))
    val tNorm = tr.span("taxi.normalize", op)(Io.seconds(frames.foreach(Io.noop)))
    val cleaned = Cleaning.clean(frames.reduce(_.unionByName(_, allowMissingColumns = true)))
    val tClean = tr.span("taxi.clean", op)(Io.seconds(Io.noop(cleaned)))
    val derived = Cleaning.withRatios(Cleaning.withTimeFeatures(cleaned))
    val tDerive = tr.span("taxi.derive", op)(Io.seconds(Io.noop(derived)))
    val tWrite = tr.span("sources.write", op)(Io.seconds(CuratedWriter.writeCurated(derived, curated)))
    val counts = tr.span("sources.readback", op) {
      val c = spark.read.parquet(curated).groupBy("cab_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      loads.foreach(l => Manifest.append(manifest, Manifest.Entry(
        url = s"$raw/${l.cabType}", yearMonth = "*", cabType = l.cabType,
        downloaded = l.error.isEmpty, sizeBytes = 0L, error = l.error,
        rows = c.get(l.cabType))))
      c
    }
    (counts, Map("taxi.normalize.s" -> (tNorm - tRead), "taxi.clean.s" -> (tClean - tNorm),
      "taxi.derive.s" -> (tDerive - tClean), "sources.write.s" -> (tWrite - tDerive)))
  }
}

/** One request of the analytics sequence: a kind over a range. `year`
  * 0 means the whole tree. */
final case class Request(kind: String, year: Int, mFrom: Int, mTo: Int)

/** The read side of the curated layout: a seeded sequence of short
  * aggregate requests. Set-up builds the tree with the batch job; each
  * pass over the sequence opens it once with `CuratedWriter.readCurated`
  * (timed within the pass's first request) and runs every request
  * through `AnalyticsJob`'s query functions, collecting the result. */
final class AnalyticsCurated(in: String, warm: String, out: String,
                             requests: IndexedSeq[Request],
                             warmRequests: IndexedSeq[Request]) extends Workload {
  val name = "analytics_curated"
  @volatile private var tree = ""
  @volatile private var trips: DataFrame = _
  @volatile private var zones: DataFrame = _
  private val results = s"$out/results.jsonl"

  override def unitSize: Int = requests.size
  // a traced request only forces its plan before the same collect
  override def tracedIsPlain: Boolean = true
  override def opLabel(i: Int): String = requests(i % requests.size).kind

  private def build(spark: SparkSession, name: String): Unit = {
    tree = s"$out/$name"
    val counts = Batch.run(spark, s"$in/raw", tree, s"$out/$name.manifest.jsonl")
    Io.write(s"$out/$name.counts.json", Json.value(counts))
  }

  override def setup(spark: SparkSession, k: Int): Unit = build(spark, s"tree_$k")

  override def setupTraced(tr: Tracer, spark: SparkSession): Map[String, Double] = {
    tree = s"$out/tree_traced"
    val (counts, t) = Batch.traced(tr, spark, s"$in/raw", tree, s"$tree.manifest.jsonl", -1)
    Io.write(s"$tree.counts.json", Json.value(counts))
    t
  }

  def treePath: String = tree

  private def open(spark: SparkSession, path: String): Unit = {
    trips = CuratedWriter.readCurated(spark, path)
    zones = CuratedWriter.readZoneLookup(spark, s"$in/raw/taxi_zone_lookup.csv")
  }

  def query(r: Request): DataFrame = {
    val t =
      if (r.year == 0) trips
      else trips.filter(col("pickup_year") === r.year && col("pickup_month").between(r.mFrom, r.mTo))
    r.kind match {
      case "hourly_fare" => AnalyticsJob.hourlyFare(t)
      case "trips_by_dow" => AnalyticsJob.tripsByDow(t)
      case "busiest_pickup" => AnalyticsJob.busiestZones(t, "pu_zone")
      case "busiest_dropoff" => AnalyticsJob.busiestZones(t, "do_zone")
      case "monthly_trend" => AnalyticsJob.monthlyTrend(t)
      case "zone_borough_join" =>
        t.join(broadcast(zones), t("pu_zone") === zones("LocationID"))
          .groupBy("Borough")
          .agg(count(lit(1)).as("trip_count"),
            round(sum(coalesce(col("fare"), lit(0.0))), 2).as("fare_sum"),
            round(avg("distance_mi"), 4).as("avg_distance"))
          .orderBy("Borough")
    }
  }

  private def dump(i: Int, rows: Array[Row]): () => Unit =
    () => Io.append(results, Json.value(Map("i" -> i, "rows" -> rows.toSeq)))

  /** The batch job over the small warm-up drop. */
  override def warmSetup(spark: SparkSession): Unit =
    Batch.run(spark, s"$warm/raw", s"$out/warm_tree", s"$out/warm.manifest.jsonl")

  /** Every kind once and every range twice, on other months than the
    * measured requests', over the set-up's tree (the warm-up drop's in a
    * traced run, which has not built the set-up's yet). */
  def warmup(spark: SparkSession, trace: Boolean): Unit = {
    open(spark, if (trace) s"$out/warm_tree" else tree)
    warmRequests.foreach(r => query(r).collect())
  }

  def plain(spark: SparkSession, i: Int): OpOut = {
    if (i % requests.size == 0) open(spark, tree)
    val rows = query(requests(i % requests.size)).collect()
    OpOut(rows.length, None, dump(i, rows))
  }

  def traced(tr: Tracer, spark: SparkSession, i: Int): (OpOut, Map[String, Double]) =
    tr.span("op", i) {
      if (i % requests.size == 0) tr.span("sources.open", i)(open(spark, tree))
      val df = query(requests(i % requests.size))
      // plan before the action, so planning and execution separate
      tr.span("plan", i)(df.queryExecution.executedPlan)
      val rows = tr.span("analytics." + opLabel(i), i)(df.collect())
      (OpOut(rows.length, None, dump(i, rows)), Map.empty[String, Double])
    }
}

/** The LLM-data path: prepare → MinHash near-dups → dup components,
  * then the deduplicated corpus is written. */
final class CorpusPrep(in: String, out: String) extends Workload {
  val name = "corpus_prep"
  val MinJaccard = 0.5

  // a pass takes a few seconds: the median of two or more
  override def minUnits: Int = 2

  /** Prepared documents with their text. The set feeds the near-dup
    * pass, the component nodes and the final write, so it is
    * materialized once. */
  private def prepared(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TrainingData.prepare(docs).join(docs.select("doc_id", "text"), "doc_id").localCheckpoint()
  }

  private def dedup(kept: DataFrame): (DataFrame, DataFrame) = {
    val pairs = Dedup.minhashNearDups(kept)
    val edges = pairs.filter(col("est_jaccard") >= MinJaccard)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    (pairs, DupGroups.connectedComponents(edges, kept.select(col("doc_id").as("id"))))
  }

  private def writeKept(kept: DataFrame, labels: DataFrame, path: String): Unit =
    CuratedWriter.writePartitioned(
      kept.join(labels.filter(col("id") === col("comp")).select(col("id").as("doc_id")), "doc_id"),
      path, Seq("lang_guess"))

  private def result(i: Int, kept: DataFrame, labels: Array[Row]): OpOut = {
    val dir = s"$out/op_$i"
    val keptRows = labels.count(r => r.getLong(0) == r.getLong(1))
    OpOut(keptRows, Some(s"$dir/kept"), () => {
      val prep = kept.select("doc_id", "lang_guess", "n_tokens").collect()
      Io.write(s"$dir/prepared.tsv",
        prep.map(r => s"${r.getLong(0)}\t${r.getString(1)}\t${r.get(2)}").mkString("", "\n", "\n"))
      Io.write(s"$dir/components.tsv",
        labels.map(r => s"${r.getLong(0)}\t${r.getLong(1)}").mkString("", "\n", "\n"))
    })
  }

  @volatile private var lastPairs: DataFrame = _

  /** One untimed pass over the measured corpus. */
  def warmup(spark: SparkSession, trace: Boolean): Unit = {
    val kept = prepared(spark, s"$in/corpus")
    val (_, comps) = dedup(kept)
    writeKept(kept, comps, s"$out/warm_kept")
  }

  def plain(spark: SparkSession, i: Int): OpOut = {
    val kept = prepared(spark, s"$in/corpus")
    val (pairs, comps) = dedup(kept)
    val labels = comps.collect()
    writeKept(kept, comps, s"$out/op_$i/kept")
    lastPairs = pairs
    result(i, kept, labels)
  }

  def traced(tr: Tracer, spark: SparkSession, i: Int): (OpOut, Map[String, Double]) =
    tr.span("op", i) {
      val tRead = tr.span("sources.read", i)(Io.seconds(Io.noop(Tables.documents(spark, s"$in/corpus"))))
      var kept: DataFrame = null
      val tPrep = tr.span("pipeline.prepare", i)(Io.seconds { kept = prepared(spark, s"$in/corpus") })
      val tSig = tr.span("functions.minhash", i)(Io.seconds(Io.noop(Dedup.minhashSignatures(kept))))
      var pairs: DataFrame = null
      val tNear = tr.span("dedup.neardups", i)(Io.seconds { pairs = Dedup.minhashNearDups(kept) })
      val edges = pairs.filter(col("est_jaccard") >= MinJaccard)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      var labels: Array[Row] = null
      var comps: DataFrame = null
      val tComp = tr.span("dedup.components", i)(Io.seconds {
        comps = DupGroups.connectedComponents(edges, kept.select(col("doc_id").as("id")))
        labels = comps.collect()
      })
      val tWrite = tr.span("sources.write", i)(Io.seconds(writeKept(kept, comps, s"$out/op_$i/kept")))
      (result(i, kept, labels), Map(
        "pipeline.prepare.s" -> (tPrep - tRead), "functions.minhash.s" -> tSig,
        "dedup.neardups.s" -> (tNear - tSig), "dedup.components.s" -> tComp,
        "sources.write.s" -> tWrite))
    }

  /** Candidate-pair counts of the last counted operation (untimed:
    * the pair frame is already materialized). */
  override def afterCounted(spark: SparkSession, out: OpOut): Map[String, Double] = {
    val cand = lastPairs.count().toDouble
    val hits = lastPairs.filter(col("est_jaccard") >= MinJaccard).count().toDouble
    Map("dedup.candidate_pairs" -> cand,
      "dedup.pair_yield" -> (if (cand > 0) hits / cand else 0.0))
  }
}
