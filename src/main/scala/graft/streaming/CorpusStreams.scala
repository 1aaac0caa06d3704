package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.dedup.Dedup

/** Document-corpus operators through the REAL streaming runtime — the
  * ingest-time shapes a training-data pipeline runs as new crawl
  * batches land, verified against their batch twins.
  *
  * Reference analogue: none (the reference is batch-only; its own
  * TODO list names streaming as future work) — beyond-reference scope
  * continuing the [[EventStreams]] suite, corpus-side.
  */
object CorpusStreams {

  /** Streaming near-dup screen against a static corpus — the streaming
    * twin of [[Dedup.crossCorpusNearDups]]: incoming documents arrive
    * as file micro-batches; each batch is minhash-signed and LSH-banded
    * ROW-LOCALLY (the codegen'd expressions are stateless, so they run
    * unchanged on a stream), stream-static joined against the
    * precomputed corpus band index, scored by signature agreement, and
    * emitted in Append mode.
    *
    * Every stage is STATELESS (projections + stream-static inner
    * joins): no watermark, no state store, and the emitted set is
    * independent of how the input splits into micro-batches — a pair
    * colliding in several bands emits once per band, deduplicated in
    * the batch epilogue, so the returned frame is EXACTLY the batch
    * twin's answer regardless of arrival order (the gate pins both to
    * one oracle).
    *
    * The static side is [[Dedup.buildBandIndex]] of the corpus (at
    * deployment scale, the persisted band index of the accumulated
    * corpus), frozen so every micro-batch probes the identical index. */
  def nearDupScreenThroughStream(spark: SparkSession, incoming: DataFrame,
                                 corpus: DataFrame, numHashes: Int = 64,
                                 bands: Int = 16, shingleK: Int = 3,
                                 maxBucket: Int = 64,
                                 reproducible: Boolean = false,
                                 tau: Double = 0.5,
                                 inputFiles: Int = 3): DataFrame =
    screenStream(spark, incoming,
      Dedup.buildBandIndex(corpus, numHashes, bands, shingleK, reproducible),
      maxBucket, tau, inputFiles) { (_, vsCorpus) => vsCorpus }

  /** The part every streaming screen shares around its own stateful
    * half. It freezes the corpus side of `index` — the guarded
    * [[Dedup.probeRows]] and the signatures — with eager localCheckpoints,
    * so every micro-batch probes an identical, lineage-free index.
    * Each micro-batch is then minhash-signed and LSH-banded ROW-LOCALLY
    * under the index's parameters (the codegen'd expressions are
    * stateless, so they run unchanged on a stream) into
    * `(band, band_hash, doc_id, sig, carry…)`, and stream-static joined
    * against the frozen corpus side into the stateless incoming×corpus
    * matches `(doc_in, doc_corpus, est_jaccard)` at `est_jaccard >= tau`.
    * `emit` gets both and returns the rows to emit in Append mode; a
    * pair found in several bands emits once per band, so the result is
    * deduplicated in the batch epilogue (distinct on a stream would
    * need a state store; the stateless emit + batch epilogue is exactly
    * equivalent and arrival-order-proof). */
  private def screenStream(spark: SparkSession, incoming: DataFrame,
                           index: Dedup.BandIndex, maxBucket: Int, tau: Double,
                           inputFiles: Int, carry: Seq[String] = Nil,
                           statePartitions: Option[Int] = None,
                           orderCol: Option[String] = None)
                          (emit: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // labeled so the freeze phase is attributable in job timelines
    // (guide §1.5)
    def frozen(desc: String)(df: DataFrame): DataFrame =
      Dedup.labeled(spark, s"screen: freeze $desc")(df.localCheckpoint(eager = true))
    val probe = frozen("probe rows")(Dedup.probeRows(index, maxBucket))
    val sigCorpus = frozen("signatures")(
      index.signatures.select(col("doc_id").as("doc_corpus"),
        col("sig").as("sig_c")))
    val kept = (Seq("doc_id", "sig") ++ carry).map(col)
    EventStreams.throughStream(spark,
      incoming.select((Seq("doc_id", "text") ++ carry).map(col): _*),
      OutputMode.Append(), inputFiles, statePartitions, orderCol) { stream =>
      val bS = stream
        .select(col("*"), graft.functions.HashExpressions.minhashSignature(
          graft.functions.HashExpressions.shingleHashes(col("text"),
            index.shingleK, fnv = index.reproducible), index.numHashes).as("sig"))
        .select(kept :+ posexplode(array(Dedup.bandKeyCols(index.numHashes,
          index.numBands, index.reproducible): _*)): _*)
        .select(Seq(col("pos").as("band"), col("col").as("band_hash")) ++ kept: _*)
      val vsCorpus = bS.join(probe, Seq("band", "band_hash"))
        .join(sigCorpus, "doc_corpus")
        .select(col("doc_id").as("doc_in"), col("doc_corpus"),
          Dedup.estJaccard(col("sig"), col("sig_c"), index.numHashes)
            .as("est_jaccard"))
        .filter(col("est_jaccard") >= tau)
      emit(bS, vsCorpus)
    }.distinct()
  }

  /** One (doc, band) row entering a bucket's state. */
  final case class BandedDoc(band: Int, band_hash: Seq[Long], doc_id: Long,
                             sig: Seq[Long])

  /** Per-bucket state: every incoming doc seen in this bucket so far. */
  final case class BucketState(docs: List[BandedDoc])

  /** A screened near-dup pair, canonically oriented (doc_a < doc_b). */
  final case class NearPair(doc_a: Long, doc_b: Long, est_jaccard: Double)

  /** GROWING-corpus streaming near-dup screen — the stateful successor
    * of [[nearDupScreenThroughStream]] (round-10 VERDICT item 4): the
    * static corpus index still catches incoming×corpus duplicates with
    * the stream-static band join, and a `flatMapGroupsWithState` keyed
    * by (band, band_hash) accumulates the incoming docs THEMSELVES, so
    * incoming×incoming duplicates — across micro-batches or inside one
    * — are caught too. A pair emits exactly when its LATER-ARRIVING
    * member processes (the earlier one is already in bucket state, or
    * ahead of it in the same invocation's doc_id-sorted scan), so the
    * emitted SET is independent of how arrivals split into
    * micro-batches; pairs are canonically (min, max)-oriented and the
    * per-band duplicate emissions collapse in the batch epilogue —
    * the gate pins the whole thing to one batch oracle over the union.
    *
    * State contract: one entry per (incoming doc, band) —
    * `bands · (8·numHashes + 16)` bytes per accepted doc, linear in the
    * batch horizon, NOT in the static corpus (that side lives in the
    * persisted band index, `Dedup.saveBandIndex`). A bucket that
    * outgrows `maxStateDocs` REFUSES loudly (the
    * [[graft.dedup.StarComponents]] contract) instead of silently
    * degrading — the production remedies: fold the horizon into the
    * persisted index with [[graft.dedup.Dedup.compactBandIndex]] (a
    * batch-sized operation — the corpus is never re-signed) and
    * restart the screen with empty state, or raise the bound
    * knowingly; a deployment that wants time-bounded state instead
    * uses [[growingNearDupScreenWatermarked]], trading "screens
    * against everything since the last compaction" for "within the
    * horizon" — SCALE.md's Streaming section tabulates the state-size
    * arithmetic. */
  def growingNearDupScreen(spark: SparkSession, incoming: DataFrame,
                           corpus: DataFrame, numHashes: Int = 64,
                           bands: Int = 16, shingleK: Int = 3,
                           maxBucket: Int = 64,
                           reproducible: Boolean = false,
                           tau: Double = 0.5, inputFiles: Int = 3,
                           maxStateDocs: Int = 4096): DataFrame =
    growingNearDupScreenWithIndex(spark, incoming,
      Dedup.buildBandIndex(corpus, numHashes, bands, shingleK, reproducible),
      maxBucket, tau, inputFiles, maxStateDocs)

  /** [[growingNearDupScreen]] against a (typically RELOADED) persisted
    * band index — the actual production loop at 100 TB: the corpus
    * side comes from `Dedup.loadBandIndex` (built once per snapshot,
    * grown per batch with `Dedup.compactBandIndex`), so the screen
    * never re-signs the accumulated corpus; the incoming batch is
    * signed and banded with the INDEX's parameters. Semantics and
    * output are exactly [[growingNearDupScreen]]'s — one oracle pins
    * both (st14/st16). */
  def growingNearDupScreenWithIndex(spark: SparkSession, incoming: DataFrame,
                                    index: Dedup.BandIndex,
                                    maxBucket: Int = 64, tau: Double = 0.5,
                                    inputFiles: Int = 3,
                                    maxStateDocs: Int = 4096): DataFrame = {
    import spark.implicits._
    screenStream(spark, incoming, index, maxBucket, tau, inputFiles,
      statePartitions = Some(8)) { (bS, vsCorpus) =>
      // incoming × incoming: the bucket state holds every prior arrival
      val vsPrior = bS.as[BandedDoc]
        .groupByKey(b => (b.band, b.band_hash))
        .flatMapGroupsWithState[BucketState, NearPair](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (_, it, state: GroupState[BucketState]) =>
            var held = state.getOption.map(_.docs).getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer.empty[NearPair]
            // doc_id order inside one invocation keeps the "later member
            // emits" rule batch-split-invariant
            it.toSeq.sortBy(_.doc_id).foreach { d =>
              if (!held.exists(_.doc_id == d.doc_id)) {
                require(held.size < maxStateDocs,
                  s"band bucket outgrew maxStateDocs=$maxStateDocs — " +
                    "refusing to screen against a truncated horizon; " +
                    "compact the horizon into the persisted band index " +
                    "(Dedup.compactBandIndex) or raise the bound")
                held.foreach { p =>
                  val s = Dedup.agreement(p.sig, d.sig, index.numHashes)
                  if (s >= tau)
                    out += NearPair(math.min(p.doc_id, d.doc_id),
                      math.max(p.doc_id, d.doc_id), s)
                }
                held = d :: held
              }
            }
            state.update(BucketState(held))
            out.iterator
        }
      canonical(vsCorpus).unionByName(vsPrior.toDF())
    }
  }

  /** Incoming×corpus matches in the [[NearPair]] orientation. */
  private def canonical(vsCorpus: DataFrame): DataFrame =
    vsCorpus.select(
      least(col("doc_in"), col("doc_corpus")).as("doc_a"),
      greatest(col("doc_in"), col("doc_corpus")).as("doc_b"),
      col("est_jaccard"))

  /** One (doc, band) row entering a TIME-BOUNDED bucket's state. */
  final case class TimedBandedDoc(band: Int, band_hash: Seq[Long],
                                  doc_id: Long, sig: Seq[Long],
                                  ts: java.sql.Timestamp)

  /** A held doc in a time-bounded bucket: id, signature, event time. */
  final case class TimedDoc(doc_id: Long, sig: Seq[Long], ts_ms: Long)

  /** Per-bucket state for the watermarked screen. */
  final case class TimedBucketState(docs: List[TimedDoc])

  /** The TIME-BOUNDED growing screen — [[growingNearDupScreen]] with
    * the event-time-timeout deployment its docstring names: incoming
    * docs carry an event-time `ts` column, an incoming×incoming pair
    * emits ONLY when the two members are within `horizonSeconds` of
    * each other, and bucket state EXPIRES once the watermark passes a
    * doc's pairing eligibility (`ts + horizon`) — state is bounded by
    * arrival-rate × (horizon + watermark delay) instead of the full
    * batch horizon, trading "screens against everything since the last
    * compaction" for "within the horizon".
    *
    * Determinism contract: the horizon predicate is enforced IN CODE
    * on the held docs' event times (never inferred from watermark
    * position, which is a per-micro-batch artifact), so the emitted
    * SET equals the batch oracle — all same-bucket pairs with
    * signature agreement ≥ tau and |Δts| ≤ horizon — for ANY
    * micro-batch split, PROVIDED event-time disorder across arrivals
    * stays under `watermarkDelay` (the standard watermark contract: a
    * doc arriving more than `watermarkDelay` after its own event time
    * may find its within-horizon partner already evicted). Eviction
    * only drops docs no in-contract future arrival could pair with:
    * an arriving doc has ts > watermark − delay, so partners with
    * ts ≥ watermark − delay − horizon are still held.
    *
    * The static-corpus side is the same stateless stream-static join
    * as [[growingNearDupScreen]] — the horizon applies only to the
    * stateful incoming×incoming screen (the corpus is a SNAPSHOT, not
    * an event stream; time-bounding it is [[
    * graft.dedup.Dedup.compactBandIndex]]'s job at ingest cadence). */
  def growingNearDupScreenWatermarked(spark: SparkSession,
                                      incoming: DataFrame,
                                      corpus: DataFrame,
                                      horizonSeconds: Long,
                                      watermarkDelay: String = "5 minutes",
                                      numHashes: Int = 64, bands: Int = 16,
                                      shingleK: Int = 3, maxBucket: Int = 64,
                                      reproducible: Boolean = false,
                                      tau: Double = 0.5, inputFiles: Int = 3,
                                      maxStateDocs: Int = 4096): DataFrame =
    growingNearDupScreenWatermarkedWithIndex(spark, incoming,
      Dedup.buildBandIndex(corpus, numHashes, bands, shingleK, reproducible),
      horizonSeconds, watermarkDelay, maxBucket, tau, inputFiles,
      maxStateDocs)

  /** [[growingNearDupScreenWatermarked]] against a (typically RELOADED)
    * persisted band index — time-bounded state AND a never-re-signed
    * corpus side, the production deployment both remedies compose
    * into: the corpus comes from `Dedup.loadBandIndex` (grown per
    * ingest batch with `Dedup.appendBandIndex`), the horizon bounds
    * the stateful incoming×incoming screen. Semantics and output are
    * exactly the inline form's — one oracle pins both (st15/st17) —
    * and the inline form delegates here, as [[growingNearDupScreen]]'s
    * does to [[growingNearDupScreenWithIndex]]. */
  def growingNearDupScreenWatermarkedWithIndex(spark: SparkSession,
                                               incoming: DataFrame,
                                               index: Dedup.BandIndex,
                                               horizonSeconds: Long,
                                               watermarkDelay: String = "5 minutes",
                                               maxBucket: Int = 64,
                                               tau: Double = 0.5,
                                               inputFiles: Int = 3,
                                               maxStateDocs: Int = 4096): DataFrame = {
    require(horizonSeconds > 0, s"horizonSeconds must be > 0, got $horizonSeconds")
    import spark.implicits._
    val hMs = horizonSeconds * 1000L
    // the static-corpus side is horizon-free (a snapshot, not a stream)
    screenStream(spark, incoming, index, maxBucket, tau, inputFiles,
      carry = Seq("ts"), statePartitions = Some(8), orderCol = Some("ts")) {
      (bS, vsCorpus) =>
      // incoming × incoming: horizon-bounded bucket state
      val vsPrior = bS
        .withWatermark("ts", watermarkDelay)
        .as[TimedBandedDoc]
        .groupByKey(b => (b.band, b.band_hash))
        .flatMapGroupsWithState[TimedBucketState, NearPair](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          case (_, it, state: GroupState[TimedBucketState]) =>
            val wm = state.getCurrentWatermarkMs()
            def alive(docs: List[TimedDoc]) = docs.filter(_.ts_ms + hMs >= wm)
            if (state.hasTimedOut) {
              val kept = alive(state.getOption.map(_.docs).getOrElse(Nil))
              if (kept.isEmpty) state.remove()
              else {
                state.update(TimedBucketState(kept))
                state.setTimeoutTimestamp(
                  math.max(kept.map(_.ts_ms).max + hMs + 1, wm + 1))
              }
              Iterator.empty
            } else {
              var held = alive(state.getOption.map(_.docs).getOrElse(Nil))
              val out = scala.collection.mutable.ArrayBuffer.empty[NearPair]
              // (ts, doc_id) order keeps the "later member emits" rule
              // batch-split-invariant inside one invocation
              it.toSeq.sortBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
                if (!held.exists(_.doc_id == d.doc_id)) {
                  require(held.size < maxStateDocs,
                    s"band bucket outgrew maxStateDocs=$maxStateDocs within " +
                      "the horizon — raise the bound or shorten the horizon")
                  val t = d.ts.getTime
                  held.foreach { p =>
                    if (math.abs(t - p.ts_ms) <= hMs) {
                      val s = Dedup.agreement(p.sig, d.sig, index.numHashes)
                      if (s >= tau)
                        out += NearPair(math.min(p.doc_id, d.doc_id),
                          math.max(p.doc_id, d.doc_id), s)
                    }
                  }
                  held = TimedDoc(d.doc_id, d.sig, t) :: held
                }
              }
              state.update(TimedBucketState(held))
              // expire once the watermark passes the NEWEST held doc's
              // pairing eligibility (older docs are pruned on the way in)
              state.setTimeoutTimestamp(
                math.max(held.map(_.ts_ms).max + hMs + 1, wm + 1))
              out.iterator
            }
        }
      canonical(vsCorpus).unionByName(vsPrior.toDF())
    }
  }

  /** Streaming decontamination screen — the ingest twin of
    * [[graft.dedup.Decontaminate.report]]: incoming documents arrive as
    * file micro-batches, each batch's shingle hashes probe the
    * broadcast eval-set shingles (stateless stream-static inner join),
    * and contaminated doc ids emit in Append mode. The kept/dropped
    * census per language is a batch epilogue over the hit set, so the
    * result is independent of micro-batch arrival. Output schema is
    * exactly `Decontaminate.report`'s — one oracle pins both. */
  def decontaminateThroughStream(spark: SparkSession, incoming: DataFrame,
                                 evalDocs: DataFrame, k: Int = 8,
                                 inputFiles: Int = 3): DataFrame = {
    val evalSh = evalDocs
      .select(explode(graft.functions.HashExpressions
        .shingleHashes(col("text"), k, fnv = true)).as("sh"))
      .distinct().localCheckpoint(eager = true)
    val hits = EventStreams.throughStream(spark,
      incoming.select("doc_id", "text"), OutputMode.Append(), inputFiles) {
      stream =>
        stream.select(col("doc_id"),
            explode(graft.functions.HashExpressions
              .shingleHashes(col("text"), k, fnv = true)).as("sh"))
          .join(broadcast(evalSh), "sh")
          .select("doc_id")
    }.distinct()
    val kept = incoming.join(hits, Seq("doc_id"), "left_anti")
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    incoming.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy("lang")
  }
}
