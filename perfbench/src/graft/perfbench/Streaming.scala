package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.locks.LockSupport
import graft.sources.Sinks
import graft.streaming.{PageView, Pipelines, Profile, StatefulOps, WikipediaFeedEvent}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a streaming query's sink saw: a running (count, crc32-sum) digest
  * or, for tiny outputs, the rows themselves; plus the sink's own time. */
final class Out {
  val rows = mutable.ArrayBuffer[Row]()
  var rowCount = 0L
  var digest = 0L
  val sinkMs = mutable.ArrayBuffer[Double]()

  /** Self-test hook: spoil what the sink recorded (the last row, one count). */
  def tamper(): Unit = synchronized {
    if (rows.nonEmpty) rows.remove(rows.length - 1)
    rowCount += 1
  }

  def collectRows(df: DataFrame): Unit = timed { rows ++= df.collect() }
  def addDigest(df: DataFrame, cols: String*): Unit = timed {
    val line = concat_ws("|", cols.map(c => col(c).cast("string")): _*).cast("binary")
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(line)), lit(0L)))
      .head()
    rowCount += r.getLong(0)
    digest += r.getLong(1)
  }
  private def timed(body: => Unit): Unit = synchronized {
    val t = Stats.now()
    body
    sinkMs += (Stats.now() - t) * 1000
  }
}

/** One streaming workload: its generated inputs, the program call under
  * test, and the reference its output is checked against.
  *
  * Chunk 0 holds the set-up input (consumed by the query's first batch);
  * every later chunk holds `chunkEvents` events. */
abstract class StreamCase(val name: String) {
  /** Events per second offered in the open loop. */
  val openRate: Double
  val chunkEvents: Int
  /** Chunks per closed-loop micro-batch. */
  val drainBatchChunks: Int
  /** Only sizes the drain (a fixed event count); never read from a run. */
  val plannedCapacity: Double
  val setupEvents: Int
  /** Whether its traced run adds the state-store probes: the sessions
    * drain (state writes and evictions) and its own drain on RocksDB. */
  val stateProbes: Boolean = false

  /** Generates chunks `0 until chunks`, split over `parts` partitions. */
  def generate(seed: Long, chunks: Int, parts: Int): Unit
  /** Fresh feeds over the generated chunks; the first is the one whose
    * offsets time the chunks. */
  def feeds(): Seq[Feed]
  def start(spark: SparkSession, ids: Seq[String], checkpoint: String, out: Out): StreamingQuery
  /** Events in chunks `0 until chunks`. */
  def events(chunks: Int): Long
  /** Whether `out` is exactly what chunks `0 until chunks` must produce;
    * `watermarkMs` is the last watermark the query used. */
  def verify(chunks: Int, out: Out, watermarkMs: Long): Boolean

  protected def read(spark: SparkSession, id: String): DataFrame =
    spark.readStream.format(classOf[FeedProvider].getName).option("feed", id).load()
  protected def tsMicros(i: Long): Long = Gen.BaseMs * 1000 + i * microsPerEvent
  protected val microsPerEvent: Long = 1000
}

object StreamCases {
  def apply(name: String): StreamCase = name match {
    case "wiki-stats" => new WikiStats
    case "profile-enrich" => new ProfileEnrich
    case "sessions" => new Sessions
  }
}

/** `Pipelines.wikipediaStats` over raw IRC feed lines. */
final class WikiStats extends StreamCase("wiki-stats") {
  // about half the drained capacity (~46k lines/s on 4 cores)
  val openRate = 8000.0
  val chunkEvents = 40
  val drainBatchChunks = 250
  val plannedCapacity = 40000.0
  val setupEvents = 2000
  private var chunks: Feed.Chunks = _
  private var edits: Array[Gen.Edit] = _

  def generate(seed: Long, n: Int, parts: Int): Unit = {
    edits = Gen.wikiEdits(seed, 0, setupEvents + (n - 1) * chunkEvents, msPerEvent = 0.5)
    val ev = edits.map(Gen.feedEvent).toIndexedSeq
    chunks = Gen.chunked(ev.take(setupEvents), setupEvents, parts)(_.raw.hashCode) ++
      Gen.chunked(ev.drop(setupEvents), chunkEvents, parts)(_.raw.hashCode)
  }
  def feeds(): Seq[Feed] = Seq(new Feed(Enc.schema[WikipediaFeedEvent], chunks))
  def events(n: Int): Long = setupEvents + (n - 1).toLong * chunkEvents

  def start(spark: SparkSession, ids: Seq[String], checkpoint: String, out: Out): StreamingQuery =
    Sinks.foreachBatchSink(Pipelines.wikipediaStats(read(spark, ids.head)))((df, _) => out.collectRows(df))
      .outputMode("update").option("checkpointLocation", checkpoint).start()

  /** approx_count_distinct at its default 5% rsd keeps 512 HLL++
    * registers: a 4.6% standard error. Five of those, so a correct
    * estimate never fails while a wrong count still does. */
  private val HllTolerance = 0.23

  def verify(n: Int, out: Out, watermarkMs: Long): Boolean = {
    // last update per window wins; the reference is a plain fold per window
    val seen = mutable.LinkedHashMap[Long, Row]()
    out.rows.foreach(r => seen(r.getTimestamp(0).getTime) = r)
    val ref = edits.take(events(n).toInt).filter(_.parseable).groupBy(e => e.timeMs - Math.floorMod(e.timeMs, 10000L))
    if (seen.keySet != ref.keySet)
      System.err.println(s"[perfbench] windows seen ${seen.keySet.toSeq.sorted} expected ${ref.keySet.toSeq.sorted}")
    seen.keySet == ref.keySet && ref.forall { case (w, es) =>
      val r = seen(w)
      val titles = es.map(_.title).distinct.length
      def flag(c: Char) = es.count(_.flags.indexOf(c) >= 0).toLong
      val expected = Seq(es.length.toLong, es.map(_.bytes.toLong).sum, titles.toLong, flag('M'), flag('N'),
        flag('!'), flag('B'), es.count(_.title.startsWith("Special:")).toLong, es.count(_.title.startsWith("Talk:")).toLong)
      val got = (1 to 9).map(r.getLong)
      val ok = got.zip(expected).zipWithIndex.forall { case ((g, e), i) =>
        if (i == 2) math.abs(g - e) <= HllTolerance * e + 2 else g == e }
      if (!ok) System.err.println(s"[perfbench] window $w: got $got expected $expected")
      ok
    }
  }
}

/** `StatefulOps.streamTableJoin`: Zipf page views enriched from a 100k-user
  * profile table loaded by the set-up batch; 1% of events are profile
  * updates. An update re-asserts the user's company, so the expected
  * enrichment of every view is independent of batch boundaries. */
final class ProfileEnrich extends StreamCase("profile-enrich") {
  val openRate = 20000.0
  val chunkEvents = 100
  val drainBatchChunks = 100
  val plannedCapacity = 60000.0
  val setupEvents = 1000
  override val stateProbes = true
  val users = 100000
  private var seed = 0L
  private var viewChunks, profileChunks: Feed.Chunks = _
  private var views: Array[PageView] = _

  def generate(seed: Long, n: Int, parts: Int): Unit = {
    this.seed = seed
    val r = new java.util.SplittableRandom(seed * 17 + 3)
    val zipf = new Gen.Zipf(users)
    val total = events(n).toInt
    val isUpdate = Array.fill(total)(r.nextInt(100) == 0)
    val who = Array.fill(total)(Math.floorMod(Gen.mix(seed + zipf.sample(r)), users.toLong).toInt)
    views = (0 until total).filter(i => !isUpdate(i)).map(i => Gen.pageView(who(i), r, tsMicros(i))).toArray
    val bounds = 0 +: (setupEvents until total by chunkEvents) :+ total
    def split[T: scala.reflect.runtime.universe.TypeTag](f: Int => Option[T], key: T => Int, first: Seq[T]) =
      Gen.encode(bounds.sliding(2).zipWithIndex.map { case (Seq(a, b), k) =>
        (if (k == 0) first else Nil) ++ (a until b).flatMap(f)
      }.toSeq, parts)(key)
    var v = -1
    viewChunks = split[PageView](i => if (isUpdate(i)) None else { v += 1; Some(views(v)) },
      p => p.userId.hashCode, Nil)
    profileChunks = split[Profile](i => if (isUpdate(i)) Some(Profile(Gen.userId(who(i)), Gen.company(seed, who(i)))) else None,
      p => p.userId.hashCode, Gen.profiles(seed, users).toSeq)
  }
  def feeds(): Seq[Feed] = Seq(new Feed(Enc.schema[PageView], viewChunks), new Feed(Enc.schema[Profile], profileChunks))
  def events(n: Int): Long = setupEvents + (n - 1).toLong * chunkEvents

  def start(spark: SparkSession, ids: Seq[String], checkpoint: String, out: Out): StreamingQuery = {
    import spark.implicits._
    val joined = StatefulOps.streamTableJoin(read(spark, ids(0)).as[PageView], read(spark, ids(1)).as[Profile])(spark)
    Sinks.foreachBatchSink(joined.toDF())((df, _) => out.addDigest(df, "userId", "company", "pageId"))
      .outputMode("append").option("checkpointLocation", checkpoint).start()
  }

  def verify(n: Int, out: Out, watermarkMs: Long): Boolean = {
    val expected = viewChunks.take(n).map(_.map(_.length).sum).sum
    val vs = views.take(expected)
    out.rowCount == expected &&
      out.digest == vs.map(p => Gen.crc32(s"${p.userId}|${Gen.company(seed, p.userId.drop(1).toInt)}|${p.pageId}")).sum
  }
}

/** `StatefulOps.sessionizeExact`, 2 s gap, uniform users: every event
  * writes state and every batch times sessions out. */
final class Sessions extends StreamCase("sessions") {
  val openRate = 12000.0
  val chunkEvents = 60
  val drainBatchChunks = 166
  val plannedCapacity = 30000.0
  val setupEvents = 1000
  val users = 100000
  val gapMs = 2000L
  // 50k events per event-time second: a user's mean inter-arrival is 2 s
  override protected val microsPerEvent: Long = 20
  private var chunks: Feed.Chunks = _
  private var views: Array[PageView] = _

  def generate(seed: Long, n: Int, parts: Int): Unit = {
    val r = new java.util.SplittableRandom(seed * 13 + 5)
    views = Array.tabulate(events(n).toInt)(i => Gen.pageView(r.nextInt(users), r, tsMicros(i)))
    chunks = Gen.chunked(views.take(setupEvents).toIndexedSeq, setupEvents, parts)(_.userId.hashCode) ++
      Gen.chunked(views.drop(setupEvents).toIndexedSeq, chunkEvents, parts)(_.userId.hashCode)
  }
  def feeds(): Seq[Feed] = Seq(new Feed(Enc.schema[PageView], chunks))
  def events(n: Int): Long = setupEvents + (n - 1).toLong * chunkEvents

  def start(spark: SparkSession, ids: Seq[String], checkpoint: String, out: Out): StreamingQuery = {
    import spark.implicits._
    Sinks.foreachBatchSink(StatefulOps.sessionizeExact(read(spark, ids.head).as[PageView], gapMs)(spark).toDF())(
      (df, _) => out.addDigest(df, "userId", "count", "durationMs"))
      .outputMode("append").option("checkpointLocation", checkpoint).start()
  }

  /** Gap fold per user; a session is emitted once a later event or the
    * watermark (strictly past its end + gap) closes it. */
  def verify(n: Int, out: Out, watermarkMs: Long): Boolean = {
    var cnt = 0L
    var dig = 0L
    views.take(events(n).toInt).groupBy(_.userId).foreach { case (u, vs) =>
      val ts = vs.map(_.ts.getTime).sorted
      var (start, end, c) = (ts(0), ts(0), 1L)
      def emit(closed: Boolean): Unit = if (closed) { cnt += 1; dig += Gen.crc32(s"$u|$c|${end - start}") }
      ts.drop(1).foreach { t =>
        if (t - end < gapMs) { end = t; c += 1 }
        else { emit(closed = true); start = t; end = t; c = 1 }
      }
      emit(end + gapMs < watermarkMs)
    }
    out.rowCount == cnt && out.digest == dig
  }
}

object Enc {
  def schema[T: scala.reflect.runtime.universe.TypeTag]: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[T]().schema
}

/** Runs one streaming workload: set-up, open loop, closed-loop drain. */
final class StreamRun(c: StreamCase, o: Opts, trace: Trace, corrupt: Boolean = false) {
  private val cores = Runtime.getRuntime.availableProcessors()
  private def batchesOf(seconds: Double): Int =
    math.max(1, math.ceil(seconds * c.plannedCapacity / c.chunkEvents / c.drainBatchChunks).toInt) * c.drainBatchChunks
  // chunk layout: 0 set-up | warm-up (closed loop) | lead-in + timed (open loop) | drain (closed loop)
  private val warmChunks = if (o.smoke) c.drainBatchChunks else batchesOf(5.0)
  private val leadChunks = if (o.smoke) 2 else math.ceil(0.5 * c.openRate / c.chunkEvents).toInt
  // ≥ 1000 timed chunks, so p99 has ≥ 10 samples beyond it
  private val openChunks = if (o.smoke) 20 else math.max(1000, math.ceil(0.6 * o.seconds * c.openRate / c.chunkEvents).toInt)
  private val drainChunks = if (o.smoke) 2 * c.drainBatchChunks else batchesOf(0.4 * o.seconds)
  private val firstLead = 1 + warmChunks
  private val firstOpen = firstLead + leadChunks
  private val firstDrain = firstOpen + openChunks
  private val total = firstDrain + drainChunks
  private val reps = 3

  final case class Result(m: Metrics, attempted: Long, failed: Long)

  def run(spark: SparkSession, sessionS: Double, jvmBootS: Double): Result = {
    val m = new Metrics
    trace("generate") { _ => c.generate(o.seed, total, cores) }
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    val heaps = mutable.ArrayBuffer[Double]()

    // set-up: query start → first batch committed, `reps` times
    var query: StreamingQuery = null
    var feeds: Seq[Feed] = Nil
    var out: Out = null
    val setups = (0 until reps).map { rep =>
      trace("setup") { _ =>
        if (query != null) { query.stop(); feeds.foreach(Feed.unregister) }
        feeds = c.feeds()
        val ids = feeds.map(Feed.register)
        out = new Out
        feeds.foreach(_.released.set(1))
        val t = Stats.now()
        query = c.start(spark, ids, o.work.resolve(s"ckpt-${c.name}-$rep").toString, out)
        query.processAllAvailable()
        Stats.now() - t
      }
    }
    heaps += Stats.heapAfterGcMb()

    // warm-up, outside every end-to-end metric: closed-loop batches until
    // JIT and codegen settle
    val warmupS = trace("warmup") { _ =>
      val t = Stats.now()
      feeds.foreach(_.maxChunksPerBatch = c.drainBatchChunks)
      feeds.foreach(_.released.set(firstLead))
      query.processAllAvailable()
      feeds.foreach(_.maxChunksPerBatch = Int.MaxValue)
      Stats.now() - t
    }
    val exec0 = listener.snapshot()
    val gc0 = gcMs()
    val wall0 = Stats.now()

    // open loop: chunks released on a fixed schedule, whatever the engine does
    val intervalNs = (c.chunkEvents / c.openRate * 1e9).toLong
    val dueEpochMs = new Array[Double](total)
    val lateMs = mutable.ArrayBuffer[Double]()
    trace("open_loop") { _ =>
      val t0Ns = System.nanoTime() + 20000000L
      val t0Ms = System.currentTimeMillis() + 20.0
      val gen = new Thread(() => {
        (firstLead until firstDrain).foreach { k =>
          val due = t0Ns + (k - firstLead) * intervalNs
          dueEpochMs(k) = t0Ms + (k - firstLead) * intervalNs / 1e6
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          feeds.foreach(_.released.set(k + 1))
          if (k >= firstOpen) lateMs += (now - due) / 1e6
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
    }
    val backlog = firstDrain - consumedChunks(query)
    query.processAllAvailable()
    heaps += Stats.heapAfterGcMb()

    // closed-loop drain: fixed-size micro-batches back to back
    val drainT0 = System.currentTimeMillis()
    trace("drain") { _ =>
      feeds.foreach(_.maxChunksPerBatch = c.drainBatchChunks)
      feeds.foreach(_.released.set(total))
      query.processAllAvailable()
    }
    val wall = Stats.now() - wall0
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val exec1 = listener.snapshot()
    val gc1 = gcMs()
    val progress = query.recentProgress.toSeq
    heaps += Stats.heapAfterGcMb()
    val alive = query.exception.isEmpty
    query.stop()
    feeds.foreach(Feed.unregister)

    // per-batch view: (first chunk, end chunk, completion epoch ms)
    val primary = feeds.head.id
    def range(p: StreamingQueryProgress): (Int, Int) = p.sources.find(_.description.contains(primary))
      .map(s => (Feed.offsetOf(s.startOffset), Feed.offsetOf(s.endOffset))).getOrElse((0, 0))
    def done(p: StreamingQueryProgress): Double =
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").toDouble
    val batches = progress.filter(p => range(p)._2 > range(p)._1)
    val latency = batches.flatMap { p =>
      val (s, e) = range(p)
      (math.max(s, firstOpen) until math.min(e, firstDrain)).map(k => done(p) - dueEpochMs(k))
    }
    val drainBatches = batches.filter(p => range(p)._1 >= firstDrain)
    val drainEvents = c.events(total) - c.events(firstDrain)
    val drainS = (drainBatches.map(done).maxOption.getOrElse(drainT0.toDouble) - drainT0) / 1000
    val batchRates = drainBatches.map(p => p.numInputRows / math.max(p.durationMs.get("triggerExecution") / 1000.0, 1e-3))
    System.err.println(f"[perfbench] drain: ${drainEvents / math.max(drainS, 1e-3)}%.0f events/s over the whole drain, " +
      f"${Stats.median(batchRates)}%.0f median per batch (${drainBatches.length} batches)")
    val consumed = batches.map(p => range(p)._2).maxOption.getOrElse(0)

    batches.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(" ")
      System.err.println(s"[perfbench] batch ${p.batchId} chunks ${range(p)} rows ${p.numInputRows} $d " +
        s"state.commit=${p.stateOperators.map(_.commitTimeMs).sum}")
    }
    if (corrupt) out.tamper()
    val ok = trace("verify") { _ => alive && c.verify(consumed, out, lastWatermark(progress)) }
    val attempted = c.events(total)
    val failed = if (ok) attempted - c.events(consumed) else attempted

    m("setup_s") = (jvmBootS + sessionS + Stats.median(setups), "s")
    m("latency_p50_ms") = (Stats.median(latency), "ms")
    m("latency_p99_ms") = (Stats.pct(latency, 0.99), "ms")
    m("ops_per_s") = (drainEvents / math.max(drainS, 1e-3), "1/s")
    m("heap_peak_mb") = (heaps.max, "MB")

    // per-layer
    val timed = batches.filter(p => range(p)._1 >= firstOpen)
    def dur(k: String) = Stats.median(timed.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    m("mb.trigger_ms") = (dur("triggerExecution"), "ms")
    m("mb.add_batch_ms") = (dur("addBatch"), "ms")
    m("mb.query_planning_ms") = (dur("queryPlanning"), "ms")
    m("mb.wal_commit_ms") = (dur("walCommit"), "ms")
    m("mb.commit_offsets_ms") = (dur("commitOffsets"), "ms")
    m("mb.latest_offset_ms") = (dur("latestOffset"), "ms")
    m("mb.get_batch_ms") = (dur("getBatch"), "ms")
    m("mb.events_per_batch") = (Stats.median(timed.map(_.numInputRows.toDouble)), "count")
    m("mb.batches") = (timed.length, "count")
    m("mb.backlog_chunks_end") = (backlog, "count")
    m("sink.ms") = (Stats.median(out.sinkMs), "ms")
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      timed.map(_.stateOperators.map(f).sum)
    m("state.rows_total") = (timed.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0), "count")
    m("state.rows_updated") = (Stats.median(st(_.numRowsUpdated)), "count")
    m("state.rows_removed") = (Stats.median(st(_.numRowsRemoved)), "count")
    m("state.memory_mb") = (timed.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0).getOrElse(0.0), "MB")
    m("state.commit_ms") = (Stats.median(st(_.commitTimeMs)), "ms")
    m("state.updates_ms") = (Stats.median(st(_.allUpdatesTimeMs)), "ms")
    m("state.removals_ms") = (Stats.median(st(_.allRemovalsTimeMs)), "ms")
    m("state.rows_dropped_late") = (st(_.numRowsDroppedByWatermark).sum, "count")
    val nb = math.max(1, timed.length)
    val measuredEvents = math.max(1L, c.events(total) - c.events(firstOpen))
    m("exec.tasks_per_batch") = ((exec1("tasks") - exec0("tasks")).toDouble / nb, "count")
    m("exec.task_cpu_ms_per_kevent") = ((exec1("cpu_ns") - exec0("cpu_ns")) / 1e6 / (measuredEvents / 1000.0), "ms")
    m("exec.core_util") = ((exec1("run_ms") - exec0("run_ms")) / (wall * 1000 * cores), "ratio")
    m("exec.gc_ms") = (gc1 - gc0, "ms")
    m("exec.shuffle_write_kb_per_batch") = ((exec1("shuffle_write") - exec0("shuffle_write")) / 1024.0 / nb, "KB")
    m("gen.late_ms_p99") = (Stats.pct(lateMs, 0.99), "ms")
    m("gen.latency_samples") = (latency.length, "count")
    m("setup.session_s") = (sessionS, "s")
    m("setup.query_start_s") = (Stats.median(setups), "s")
    m("setup.warmup_s") = (warmupS, "s")

    if (trace.enabled) {
      // micro-batch spans: trigger, its progress phases laid end to end, then the sink
      batches.foreach { p =>
        val end = done(p) / 1000
        val start = end - p.durationMs.get("triggerExecution") / 1000.0
        val id = trace.record(trace.newId(), 0, s"microbatch ${p.batchId}", toNow(start), toNow(end))
        var t = start
        Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets").foreach { k =>
          Option(p.durationMs.get(k)).foreach { d =>
            trace.record(trace.newId(), id, k, toNow(t), toNow(t + d / 1000.0)); t += d / 1000.0
          }
        }
      }
    }
    spark.sparkContext.removeSparkListener(listener)
    Result(m, attempted, failed)
  }

  final case class Drain(eventsPerS: Double, commitMs: Double, updatesMs: Double, removalsMs: Double, ok: Boolean)

  /** Set-up batch, `warmBatches` untimed drain batches, then `batches`
    * timed ones on `spark`; state figures are medians over the timed
    * batches. */
  def drainOnly(spark: SparkSession, label: String, batches: Int, warmBatches: Int = 0): Drain =
      trace(s"drain $label") { _ =>
    val warmEnd = 1 + warmBatches * c.drainBatchChunks
    val n = warmEnd + batches * c.drainBatchChunks
    c.generate(o.seed, n, spark.sparkContext.defaultParallelism)
    val feeds = c.feeds()
    val ids = feeds.map(Feed.register)
    val out = new Out
    feeds.foreach(_.released.set(1))
    val q = c.start(spark, ids, o.work.resolve(s"ckpt-${c.name}-$label").toString, out)
    q.processAllAvailable()
    feeds.foreach(_.maxChunksPerBatch = c.drainBatchChunks)
    feeds.foreach(_.released.set(warmEnd))
    q.processAllAvailable()
    val lastWarm = q.recentProgress.map(_.batchId).max
    val t0 = System.currentTimeMillis()
    feeds.foreach(_.released.set(n))
    q.processAllAvailable()
    val progress = q.recentProgress.toSeq
    val drained = progress.filter(_.batchId > lastWarm).filter(_.numInputRows > 0)
    q.stop()
    feeds.foreach(Feed.unregister)
    val end = drained.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution").toDouble).maxOption.getOrElse(t0.toDouble)
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      Stats.median(drained.map(_.stateOperators.map(f).sum.toDouble))
    val ok = c.verify(n, out, lastWatermark(progress))
    if (!ok) System.err.println(s"[perfbench] drain $label: output differs from the reference")
    Drain((c.events(n) - c.events(warmEnd)) / math.max((end - t0) / 1000, 1e-3),
      st(_.commitTimeMs), st(_.allUpdatesTimeMs), st(_.allRemovalsTimeMs), ok)
  }

  private def lastWatermark(progress: Seq[StreamingQueryProgress]): Long =
    progress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).maxOption.getOrElse(Long.MinValue)

  private def consumedChunks(q: StreamingQuery): Int = Option(q.lastProgress).toSeq
    .flatMap(_.sources.map(s => Feed.offsetOf(s.endOffset))).maxOption.getOrElse(0)
  private def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum
  /** Epoch seconds → the `Stats.now()` clock. */
  private def toNow(epochS: Double): Double = Stats.now() - (System.currentTimeMillis() / 1000.0 - epochS)
}
