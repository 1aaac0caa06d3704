package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.{Row, SparkSession}

import graft.GraftSession

/** Minimal JSON rendering for the harness's result files. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case r: Row => value(r.toSeq)
    case a: Array[_] => value(a.toSeq)
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** How a measured operation ran: `Plain` as a user runs it (in a traced
  * run, with the listeners detached), `Counted` the plain call with the
  * listeners attached, `Traced` with per-layer boundaries. */
object Mode extends Enumeration { val Plain, Counted, Traced = Value }

/** One measured operation. */
final case class OpRec(i: Int, label: String, wallS: Double, ok: Boolean,
                       error: String, out: Option[OpOut], mode: Mode.Value,
                       self: Map[String, Double], extra: Map[String, Double])

/** Peak heap in use right after a collection, over the JVM's life: the
  * heap the program holds, which the fixed, pre-touched heap hides from
  * the resident set. */
object HeapAfterGc {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L

  def start(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val onGc = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Runs one workload in one `local[cores]` Spark process and writes the
  * raw measurements to `<work>/jvm.json`; `run.py` checks the outputs
  * and turns the measurements into metrics.
  *
  * Usage: Main --workload W --work DIR --seconds S --trace 0|1
  *             --cores N --setups K
  */
object Main {
  private def procField(file: String, key: String): String = {
    val src = Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(_.drop(key.length).trim).getOrElse("")
    finally src.close()
  }

  /** Host stamp for reading noisy runs: load average and the time of a
    * fixed CPU-bound query. Never used to rescale a measurement. */
  private def stamp(spark: SparkSession, cores: Int): Map[String, Any] = {
    val src = Source.fromFile("/proc/loadavg")
    val load = try src.mkString.trim finally src.close()
    val t = Io.seconds {
      spark.range(0L, 5000000L, 1L, cores).selectExpr("sum((id * 7) % 13) AS s").collect()
    }
    Map("loadavg" -> load, "calibration_s" -> t)
  }

  /** Before the measured loop: collect the garbage of set-up and warm-up,
    * then wait (at most 5 s) until the JIT compiler has been idle for
    * 0.4 s, so compilations the warm-up queued do not run alongside the
    * first measured operations. Returns the seconds it took. */
  private def settle(): Double = Io.seconds {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var (last, quiet) = (jit.getTotalCompilationTime, 0)
    while (quiet < 2 && System.nanoTime() - t0 < 5000000000L) {
      Thread.sleep(200)
      val now = jit.getTotalCompilationTime
      quiet = if (now - last < 5) quiet + 1 else 0
      last = now
    }
  }

  private def readRequests(path: String): IndexedSeq[Request] = {
    val src = Source.fromFile(path)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      Request(f(0), f(1).toInt, f(2).toInt, f(3).toInt)
    }.toIndexedSeq
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val setups = a("setups").toInt
    val (in, warm, out) = (s"$work/in", s"$work/warm", s"$work/out")
    val w: Workload = a("workload") match {
      case "analytics_curated" =>
        new AnalyticsCurated(in, warm, out, readRequests(s"$in/requests.tsv"),
          readRequests(s"$in/warm_requests.tsv"))
      case "corpus_prep" => new CorpusPrep(in, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    HeapAfterGc.start()
    // the JVM's first session, untimed: it pays class loading, and warms
    // the set-up's code so no timed set-up runs cold code
    var spark = GraftSession.local(cores, "perfbench")
    w.warmSetup(spark)
    val bootS = (System.nanoTime() - jvmStartNs) / 1e9
    // set-up, several times: a fresh session plus the workload's set-up
    val setupS = ArrayBuffer[Double]()
    if (!trace) for (k <- 1 to setups) {
      spark.stop()
      setupS += Io.seconds {
        spark = GraftSession.local(cores, "perfbench")
        w.setup(spark, k)
      }
    }
    // warm the operations' code paths so no measured operation runs cold
    // code; a traced run warms first and then traces its single set-up
    val warmupS = Io.seconds(w.warmup(spark, trace))
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val setupLayers = tracer.map(w.setupTraced(_, spark)).getOrElse(Map.empty)
    val stampStart = stamp(spark, cores)
    val settleS = settle()

    // measured closed loop: the next operation starts when the last ends,
    // in whole rounds of `unitSize` positions (requests of the sequence),
    // at least `minUnits` rounds and until `seconds` have passed.
    // A traced run runs each position several ways, one after the other:
    // plain with the listeners detached (the reference for the tracing
    // overhead), counted (the plain call with the listeners: the
    // counters; left out when the traced call runs the plain call's
    // jobs) and traced, in an order that flips from one position to the
    // next so neither side always runs warmer. Operation `i` of mode `m`
    // at position `p` in round `r` is `(r * modes + m) * unitSize + p`,
    // so `i % unitSize` is always its position. Every workload measures
    // at least two positions, so a traced run's order flips at least once.
    val modes =
      if (!trace) Seq(Mode.Plain)
      else if (w.tracedIsPlain) Seq(Mode.Plain, Mode.Traced)
      else Seq(Mode.Plain, Mode.Counted, Mode.Traced)
    var complete = true
    val ops = ArrayBuffer[OpRec]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var r = 0
    while (r < w.minUnits || elapsed < seconds) {
      for (p <- 0 until w.unitSize; m <- if ((r + p) % 2 == 0) modes.indices else modes.indices.reverse) {
        val (mode, i) = (modes(m), (r * modes.size + m) * w.unitSize + p)
        tracer.foreach(tr => complete &= tr.attach(mode != Mode.Plain))
        ops += (try {
          val t1 = System.nanoTime()
          val (o, self) = (mode, tracer) match {
            case (Mode.Plain, _) | (_, None) => (w.plain(spark, i), Map.empty[String, Double])
            case (Mode.Counted, Some(tr)) => (tr.span("op", i)(w.plain(spark, i)), Map.empty[String, Double])
            case (_, Some(tr)) => w.traced(tr, spark, i)
          }
          val wall = (System.nanoTime() - t1) / 1e9
          o.dump()
          val extra = if (mode == Mode.Counted) w.afterCounted(spark, o) else Map.empty[String, Double]
          OpRec(i, w.opLabel(i), wall, ok = true, null, Some(o), mode, self, extra)
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] operation $i failed: $e")
            OpRec(i, w.opLabel(i), 0.0, ok = false, e.toString, None, mode, Map.empty, Map.empty)
        })
      }
      r += 1
    }
    val measuredS = elapsed

    complete &= tracer.forall(tr => tr.attach(true) && tr.drain())
    val layers = tracer.map(tr => Layers(tr, w, ops.toSeq, setupLayers, cores)).getOrElse(Map.empty)
    tracer.foreach { tr => tr.writeSpans(s"$work/spans.jsonl"); tr.close() }
    val stampEnd = stamp(spark, cores)
    val result = Map(
      "workload" -> w.name, "cores" -> cores, "trace" -> trace,
      "setup_jvm_s" -> setupS.toSeq, "boot_s" -> bootS, "warmup_s" -> warmupS, "settle_s" -> settleS,
      "measured_s" -> measuredS,
      "ops" -> ops.map(o => Map("i" -> o.i, "label" -> o.label, "wall_s" -> o.wallS,
        "ok" -> o.ok, "error" -> Option(o.error), "mode" -> o.mode.toString,
        "rows_out" -> o.out.map(_.rowsOut), "wrote" -> o.out.flatMap(_.wrote))),
      "unit_size" -> w.unitSize,
      "layers" -> layers, "capture_complete" -> complete,
      "stamps" -> Map("start" -> stampStart, "end" -> stampEnd),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "heap_after_gc_mb" -> HeapAfterGc.peakMb,
      "peak_rss_mb" -> procField("/proc/self/status", "VmHWM:").stripSuffix("kB").trim.toDouble / 1024.0)
    Io.write(s"$work/jvm.json", Json.value(result))
    spark.stop()
  }
}

/** Per-layer metrics of a traced run. Counters come from the counted
  * operations (the plain call, so the work is the workload's own; the
  * traced ones where they run the same jobs); self times and planning
  * time from the traced operations. The tracing overhead is the median
  * over operations of the traced wall time minus the plain wall time of
  * the same operation in the same round. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def apply(tr: Tracer, w: Workload, ops: Seq[OpRec], setupLayers: Map[String, Double],
            cores: Int): Map[String, Double] = {
    val opSpan = tr.all.filter(s => s.name == "op" && s.op >= 0).map(s => s.op -> s).toMap
    val plain = ops.filter(o => o.ok && o.mode == Mode.Plain)
    val traced = ops.filter(o => o.ok && o.mode == Mode.Traced && opSpan.contains(o.i))
    val counted =
      if (w.tracedIsPlain) traced
      else ops.filter(o => o.ok && o.mode == Mode.Counted && opSpan.contains(o.i))
    // a traced operation's plain twin: same round and position, first mode
    val lag = (if (w.tracedIsPlain) 1 else 2) * w.unitSize
    val plainWall = plain.map(o => o.i -> o.wallS).toMap
    val cs = counted.map(o => o -> tr.subtree(opSpan(o.i)))
    def perOp(f: (OpRec, Counters) => Double): Double = median(cs.map { case (o, c) => f(o, c) })

    val out = scala.collection.mutable.LinkedHashMap[String, Double](
      "spark.jobs" -> perOp((_, c) => c.jobs.toDouble),
      "spark.stages" -> perOp((_, c) => c.stages.toDouble),
      "spark.tasks" -> perOp((_, c) => c.tasks.toDouble),
      "spark.busy_frac" -> perOp((o, c) => c.runMs / 1000.0 / (o.wallS * cores)),
      "spark.shuffle.bytes" -> perOp((_, c) => c.shuffleBytes.toDouble),
      "spark.spill.bytes" -> perOp((_, c) => c.spillBytes.toDouble),
      "spark.gc.s" -> perOp((_, c) => c.gcMs / 1000.0),
      "spark.task.retries" -> (counted ++ traced).distinct
        .map(o => tr.subtree(opSpan(o.i)).retries).sum.toDouble,
      "sources.read.bytes" -> perOp((_, c) => c.readBytes.toDouble),
      "sources.read.files" -> perOp((_, c) => c.readFiles.toDouble),
      "sources.rows_scanned_per_row_out" ->
        perOp((o, c) => c.readRecords.toDouble / math.max(1L, o.out.get.rowsOut)),
      "plan.s" -> median(traced.map(o => tr.subtree(opSpan(o.i)).planMs / 1000.0)),
      "trace.overhead_s" -> median(traced.flatMap(o => plainWall.get(o.i - lag).map(o.wallS - _))))
    if (counted.exists(_.out.exists(_.wrote.isDefined))) {
      out("sources.write.bytes") = perOp((_, c) => c.writeBytes.toDouble)
      out("sources.write.files") = median(counted.flatMap(_.out.flatMap(_.wrote))
        .map(p => Io.dataFiles(p).size.toDouble))
    }
    // self times the traced operations measured, per layer
    traced.flatMap(_.self.keys).distinct.foreach { k =>
      out(k) = median(traced.flatMap(_.self.get(k)))
    }
    counted.flatMap(_.extra.keys).distinct.foreach { k =>
      out(k) = median(counted.flatMap(_.extra.get(k)))
    }
    w match {
      case a: AnalyticsCurated =>
        plain.groupBy(_.label).foreach { case (kind, os) =>
          out(s"analytics.$kind.s") = median(os.map(_.wallS))
        }
        // its operations never write: the batch layers and the write side
        // are the set-up build's
        out ++= setupLayers
        val build = tr.all.filter(s => s.op == -1 && s.name == "sources.write")
        out("sources.write.bytes") = build.map(_.c.writeBytes).sum.toDouble
        out("sources.write.files") = Io.dataFiles(a.treePath).size.toDouble
      case _: CorpusPrep =>
        out("dedup.components.rounds") = perOp((_, c) => c.rounds.toDouble)
      case _ =>
    }
    out.toMap
  }
}

/** What a run's JVM loads on its way up: a session, a Parquet write and a
  * filtered aggregate read back. The build runs it once with
  * `-XX:ArchiveClassesAtExit` to make the class-data-sharing archive.
  *
  * Usage: Boot DIR
  */
object Boot {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(2, "perfbench-boot")
    val dir = s"${args(0)}/t"
    spark.range(0L, 1000L, 1L, 2).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v")
      .write.partitionBy("k").parquet(dir)
    spark.read.parquet(dir).filter("k < 3").groupBy("k").agg(Map("v" -> "sum")).orderBy("k").collect()
    spark.stop()
  }
}
