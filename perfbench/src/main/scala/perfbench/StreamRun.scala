package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingOps

/** The stream workload: the reference's streaming jobs as three concurrent
  * Structured Streaming queries over MemoryStream sources, each into the
  * exactly-once `foreachBatchParquetSink`:
  *   session — keyed `sessionCountStream` (5 s gap),
  *   tumble  — `tumbleSumStream` (10 s windows, the reference's 11 s
  *             watermark) over ~10% late events,
  *   dedup   — `streamingDocDedupBounded` (60 s horizon).
  * One generator thread offers the schedule open-loop at its fixed rate,
  * then offers fixed bursts all at once (closed loop) to time a drain. */
object StreamRun {
  val Epoch = 1704067200000L // 2024-01-01T00:00:00Z, event time zero
  val WatermarkMs = 11000L   // StreamingOps.referenceWatermark
  val SessionGap = "5 seconds"
  val DedupHorizon = "60 seconds"
  val TickMs = 20L

  final case class Ev(idx: Int, phase: Int, due: Long, eventMs: Long, user: String,
      value: Long, doc: String)

  /** The query a stream runs, also applied to the static replay. */
  def plan(name: String, events: DataFrame, docs: DataFrame): DataFrame = name match {
    case "session" => StreamingOps.sessionCountStream(events, "ts", "user", SessionGap,
      StreamingOps.referenceWatermark)
    case "tumble" => StreamingOps.tumbleSumStream(events, "ts", "id")
    case "dedup" => StreamingOps.streamingDocDedupBounded(docs, "ts", DedupHorizon)
      .select("doc_id", "fp")
  }

  def load(path: Path): IndexedSeq[Ev] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines().map { l =>
      val f = l.split("\t", -1)
      Ev(f(0).toInt, f(1).toInt, f(2).toLong, f(3).toLong, f(4), f(5).toLong, f(6))
    }.toIndexedSeq

  def run(spark: SparkSession, inDir: String, work: Path, trace: Option[Trace],
      out: Json): Unit = {
    val evs = load(java.nio.file.Paths.get(inDir, "schedule.tsv"))
    // one MemoryStream per query: a MemoryStream tracks a single reader's commits
    def events() = MemoryStream[(Long, Timestamp, String, Long)](
      Encoders.product[(Long, Timestamp, String, Long)], spark)
    val sessionIn = events()
    val tumbleIn = events()
    val docIn = MemoryStream[(Long, Timestamp, String)](
      Encoders.product[(Long, Timestamp, String)], spark)
    def evDF(m: MemoryStream[(Long, Timestamp, String, Long)]) = m.toDF().toDF("id", "ts", "user", "value")
    val sinkDir = work.resolve("stream_out")
    val ckDir = work.resolve("checkpoints")
    // listeners go on before the queries start: each query runs in a clone
    // of the session, which copies the execution listeners it has then
    trace.foreach(_.enable())
    val queries: Seq[(String, StreamingQuery)] = Seq(
      "session" -> plan("session", evDF(sessionIn), null),
      "tumble" -> plan("tumble", evDF(tumbleIn), null),
      "dedup" -> plan("dedup", null, docIn.toDF().toDF("doc_id", "ts", "text"))
    ).map { case (n, df) =>
      n -> StreamingOps.foreachBatchParquetSink(df, sinkDir.resolve(n).toString,
        ckDir.resolve(n).toString)
    }
    // cumulative event count after each addData call: MemoryStream offsets
    // count calls, so this maps a committed offset back to events
    val addedAfter = mutable.ArrayBuffer.empty[Int]
    var added = 0
    def offer(batch: Seq[Ev]): Unit = {
      val evRows = batch.map(e => (e.idx.toLong, new Timestamp(Epoch + e.eventMs), e.user, e.value))
      sessionIn.addData(evRows)
      tumbleIn.addData(evRows)
      docIn.addData(batch.map(e => (e.idx.toLong, new Timestamp(Epoch + e.eventMs), e.doc)))
      added += batch.size
      addedAfter += added
    }
    def drainAll(): Unit = queries.foreach(_._2.processAllAvailable())
    // a drained query may still run a no-data batch for a watermark change;
    // a burst timed from inside one would also pay for its rest
    def awaitIdle(): Unit = {
      val limit = System.currentTimeMillis() + 5000
      while (queries.exists(_._2.status.isTriggerActive) && System.currentTimeMillis() < limit)
        Thread.sleep(5)
    }
    def processed(q: StreamingQuery): Int =
      Option(q.lastProgress).flatMap(p => p.sources.headOption)
        .flatMap(s => scala.util.Try(s.endOffset.trim.toInt).toOption)
        .map(o => if (o >= 0 && o < addedAfter.size) addedAfter(o) else 0).getOrElse(0)

    // set-up: warm-up events offered in two chunks, each drained (the
    // second runs the stateful operators against existing state)
    val warm = evs.filter(_.phase == 0)
    warm.grouped(math.max(1, (warm.size + 1) / 2)).foreach { c => offer(c); drainAll() }
    out.num("setup_done_ms", System.currentTimeMillis().toDouble)
    trace.foreach(_.harvest())

    // open loop at the schedule's rate: every TickMs the generator offers
    // the events that have come due (one addData per tick: a MemoryStream
    // batch unions one relation per call, so per-event calls would swamp
    // planning); an event's creation stamp is its due time
    val open = evs.filter(_.phase == 1)
    val lagMs = mutable.ArrayBuffer.empty[Double]
    var backlogMax = 0
    val start = System.currentTimeMillis()
    var i = 0
    while (i < open.size) {
      val now = System.currentTimeMillis() - start
      var j = i
      while (j < open.size && open(j).due <= now) j += 1
      if (j > i) {
        offer(open.slice(i, j))
        (i until j).foreach(k => lagMs += (now - open(k).due).toDouble)
        i = j
        backlogMax = math.max(backlogMax, added - queries.map(q => processed(q._2)).min)
      }
      Thread.sleep(math.max(1L, TickMs - (System.currentTimeMillis() - start) % TickMs))
    }
    drainAll()
    val openEnd = System.currentTimeMillis()
    val openBucket = trace.map(_.harvest())
    // untimed, with every query drained: the heap the queries' state retains
    var retainedMb = Main.retainedHeapMb()

    // closed loop: each burst offered at once, timed until every query has
    // committed it; a traced run alternates listeners off/on per burst
    val drains = mutable.ArrayBuffer.empty[Json]
    evs.filter(_.phase >= 2).groupBy(_.phase).toSeq.sortBy(_._1).foreach { case (phase, burst) =>
      val tracedBurst = trace.isDefined && phase % 2 == 1
      trace.foreach(t => if (tracedBurst) t.enable() else t.disable())
      awaitIdle()
      val n0 = System.nanoTime()
      offer(burst)
      drainAll()
      drains += new Json().num("sec", (System.nanoTime() - n0) / 1e9).num("events", burst.size)
        .bool("traced", tracedBurst)
      retainedMb = math.max(retainedMb, Main.retainedHeapMb())
    }
    trace.foreach(_.disable())
    queries.foreach(_._2.stop())

    val (latencies, attempted, failures) = check(spark, evs, start, sinkDir)
    out.num("retained_heap_mb", retainedMb)
    out.arr("drains", drains.toSeq)
    out.nums("latency_s", latencies)
    out.num("attempted", attempted)
    out.num("failed", failures.size)
    out.strs("failures", failures.take(20).zipWithIndex.map { case (f, k) => s"f$k" -> f })
    out.num("generator_lag_s", Stats.median(lagMs.toSeq) / 1e3)
    out.num("backlog_max", backlogMax)
    openBucket.foreach { b =>
      val layers = new Layers(graft.Engine.cpus.toInt)
      layers.addUnit("open loop", b, Span(start, openEnd), null, 0)
      Main.writeTrace(work, layers.units.toSeq)
      out.arr("layers", Seq(layers.result(Main.du(work.resolve("checkpoints")) + Main.du(sinkDir),
        Main.du(java.nio.file.Paths.get(inDir)))))
      out.obj("stream_layers", streamLayers(b, sinkDir))
    }
  }

  /** Result latencies of the open phase and the correctness verdict.
    *
    * A result's latency runs from the generator creation stamp (due time) of
    * the last event the result needed to the commit of the sink batch that
    * wrote it (its `_SUCCESS` file). For the append-mode windows that event
    * is the first one whose arrival moved the watermark past the window end;
    * for dedup it is the emitted document itself. Results triggered by
    * warm-up or burst events are not sampled.
    *
    * Correctness replays every offered event as a static batch through the
    * same StreamingOps transforms and compares: every emitted window equals
    * its replayed value and is emitted once, every replayed window the final
    * watermark has closed is emitted, and dedup emits each distinct
    * fingerprint exactly once, with a document that carries it. */
  def check(spark: SparkSession, evs: IndexedSeq[Ev], openStart: Long, sinkDir: Path)
      : (Seq[Double], Int, Seq[String]) = {
    import spark.implicits._
    val prefMax = evs.scanLeft(Long.MinValue)((m, e) => math.max(m, e.eventMs)).tail
    def trigger(endMs: Long): Option[Ev] = {
      val need = endMs - Epoch + WatermarkMs
      var lo = 0; var hi = prefMax.size
      while (lo < hi) { val mid = (lo + hi) / 2; if (prefMax(mid) >= need) hi = mid else lo = mid + 1 }
      if (lo < evs.size) Some(evs(lo)) else None
    }
    def created(e: Ev): Option[Long] = if (e.phase == 1) Some(openStart + e.due) else None
    val lastBurstStart = evs.indexWhere(_.phase == evs.last.phase)
    val closedBefore = prefMax(math.max(0, lastBurstStart - 1)) - WatermarkMs + Epoch

    def commits(q: String): Map[Long, Long] =
      Option(sinkDir.resolve(q).toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("batch=")).flatMap { d =>
          val ok = new java.io.File(d, "_SUCCESS")
          if (ok.exists) Some(d.getName.stripPrefix("batch=").toLong ->
            Files.getLastModifiedTime(ok.toPath).toMillis) else None
        }.toMap
    def emitted(q: String): DataFrame = spark.read.parquet(sinkDir.resolve(q).toString)

    val staticEv = evs.map(e => (e.idx.toLong, new Timestamp(Epoch + e.eventMs), e.user, e.value))
      .toDF("id", "ts", "user", "value")
    val staticDocs = evs.map(e => (e.idx.toLong, new Timestamp(Epoch + e.eventMs), e.doc))
      .toDF("doc_id", "ts", "text")
    def replay(q: String) = plan(q, staticEv, staticDocs)

    val lat = mutable.ArrayBuffer.empty[Double]
    val fails = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    // windowed queries: key columns → value column
    Seq(("session", Seq("user", "window_start"), "total"),
        ("tumble", Seq("window_start"), "id_sum")).foreach { case (q, keyCols, valCol) =>
      val c = commits(q)
      val got = emitted(q).select((keyCols ++ Seq("window_end", valCol, "batch")).map(col): _*)
        .collect()
      val want = replay(q).select((keyCols ++ Seq("window_end", valCol)).map(col): _*).collect()
        .map(r => keyCols.indices.map(r.get).mkString("|") -> r).toMap
      val seen = mutable.Set.empty[String]
      got.foreach { r =>
        attempted += 1
        val k = keyCols.indices.map(r.get).mkString("|")
        val endMs = r.getTimestamp(keyCols.size).getTime
        if (!seen.add(k)) fails += s"$q: $k emitted twice"
        else if (!want.get(k).exists(w => w.get(keyCols.size + 1) == r.get(keyCols.size + 1)))
          fails += s"$q: $k = ${r.get(keyCols.size + 1)} differs from the replay"
        for (e <- trigger(endMs); t0 <- created(e); t1 <- c.get(r.get(keyCols.size + 2).asInstanceOf[Number].longValue))
          lat += (t1 - t0) / 1e3
      }
      want.foreach { case (k, w) =>
        if (w.getTimestamp(keyCols.size).getTime <= closedBefore && !seen.contains(k)) {
          attempted += 1
          fails += s"$q: closed window $k never emitted"
        }
      }
    }

    // dedup: one row per distinct fingerprint, each with a matching document
    val c = commits("dedup")
    val fpOf = staticDocs.select(col("doc_id"), graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    // (dropDuplicatesWithinWatermark has no batch form; its batch meaning,
    // every distinct fingerprint once, comes from the same fingerprint)
    val wantFps = fpOf.values.toSet
    val got = emitted("dedup").select("doc_id", "fp", "batch").as[(Long, String, Long)].collect()
    val seenFp = mutable.Set.empty[String]
    got.foreach { case (id, fp, b) =>
      attempted += 1
      if (!seenFp.add(fp)) fails += s"dedup: $fp emitted twice"
      else if (!fpOf.get(id).contains(fp)) fails += s"dedup: doc $id does not carry $fp"
      for (t0 <- created(evs(id.toInt)); t1 <- c.get(b)) lat += (t1 - t0) / 1e3
    }
    (wantFps -- seenFp).foreach { fp => attempted += 1; fails += s"dedup: $fp never emitted" }
    (lat.toSeq, attempted, fails.toSeq)
  }

  /** Streaming-layer numbers for the open phase, from StreamingQueryProgress. */
  def streamLayers(b: Bucket, sinkDir: Path): Json = {
    val ps = b.progress.toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val states = ps.flatMap(_.stateOperators.toSeq)
    val j = new Json
    j.num("streaming.batches", ps.size)
    j.num("streaming.batch_p50_s", Stats.median(ps.map(dur(_, "triggerExecution"))) / 1e3)
    j.num("streaming.add_batch_s", ps.map(dur(_, "addBatch")).sum / 1e3)
    j.num("streaming.offset_commit_s", ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum / 1e3)
    j.num("streaming.state_rows", ps.groupBy(_.id).values.map(_.last.stateOperators.map(_.numRowsTotal).sum).sum.toDouble)
    j.num("streaming.state_bytes", ps.groupBy(_.id).values.map(_.last.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble)
    j.num("streaming.state_commit_s", states.map(_.commitTimeMs).sum / 1e3)
    j.num("streaming.state_rows_removed", states.map(_.numRowsRemoved).sum.toDouble)
    j.num("streaming.rows_dropped_late", states.map(_.numRowsDroppedByWatermark).sum.toDouble)
    j.num("streaming.empty_batch_frac",
      if (ps.isEmpty) 0.0 else ps.count(_.numInputRows == 0).toDouble / ps.size)
    j.num("streaming.sink_write_s", b.writeNs / 1e9)
    j.num("streaming.sink_bytes", Main.du(sinkDir).toDouble)
    j
  }
}
