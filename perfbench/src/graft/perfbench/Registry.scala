package graft.perfbench

import java.lang.management.ManagementFactory
import java.math.MathContext
import java.util
import java.util.concurrent.ConcurrentHashMap
import graft.{Bench, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.{CaseInsensitiveStringMap, QueryExecutionListener}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Order-insensitive digest of rows: (row count, sum of per-row hashes).
  * Floating-point values are hashed at 10 significant digits so the
  * digest does not depend on the order partial sums were combined in. */
object Digest {
  private val Null = 0x5bd1e995L
  def row(r: InternalRow, t: StructType): Long =
    t.fields.indices.foldLeft(17L)((h, i) => Gen.mix(h * 31 + value(r.get(i, t(i).dataType), t(i).dataType)))

  def value(v: Any, t: DataType): Long = if (v == null) Null else t match {
    case _: StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case DoubleType => real(v.asInstanceOf[Double])
    case FloatType => real(v.asInstanceOf[Float].toDouble)
    case d: DecimalType => bytes(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.toPlainString.getBytes)
    case s: StructType => row(v.asInstanceOf[InternalRow], s)
    case a: ArrayType =>
      val arr = v.asInstanceOf[ArrayData]
      (0 until arr.numElements()).foldLeft(19L)((h, j) => Gen.mix(h * 31 + value(arr.get(j, a.elementType), a.elementType)))
    case m: MapType =>
      val md = v.asInstanceOf[MapData]
      (0 until md.numElements()).map(j => Gen.mix(value(md.keyArray.get(j, m.keyType), m.keyType) * 31 +
        value(md.valueArray.get(j, m.valueType), m.valueType))).sum
    case _ => v match {
      case n: java.lang.Number => n.longValue()
      case other => bytes(other.toString.getBytes)
    }
  }
  private def real(d: Double): Long =
    if (d.isNaN) 7L else if (d == 0.0) 0L else if (d.isInfinite) (if (d > 0) 8L else 9L)
    else bytes(new java.math.BigDecimal(d).round(new MathContext(10)).stripTrailingZeros.toString.getBytes)
  private def bytes(b: Array[Byte]): Long = b.foldLeft(1125899906842597L)((h, x) => 31 * h + x)

  /** Results of finished digest writes, by their `key` option. */
  val results = new ConcurrentHashMap[String, (Long, Long)]()
}

/** A `noop`-like sink that digests what it is written. */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = new DigestTable
}

private final case class Part(rows: Long, sum: Long) extends WriterCommitMessage

private final case class DigestWriters(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private var rows, sum = 0L
    override def write(r: InternalRow): Unit = { rows += 1; sum += Digest.row(r, schema) }
    override def commit(): WriterCommitMessage = Part(rows, sum)
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}

private class DigestTable extends Table with SupportsWrite {
  override def name(): String = "digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder with SupportsTruncate {
    override def truncate(): WriteBuilder = this
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = new BatchWrite {
        private val key = info.options().get("key")
        private val schema = info.schema()
        override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory = DigestWriters(schema)
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          val ps = messages.collect { case p: Part => p }
          Digest.results.put(key, (ps.map(_.rows).sum, ps.map(_.sum).sum))
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit = ()
      }
    }
  }
}

/** Every registry query named in the goldens file, in seed-permuted order,
  * each written into the digest sink and checked against its golden. */
final class RegistryRun(o: Opts, trace: Trace) {
  private val cores = Runtime.getRuntime.availableProcessors()

  final case class Result(m: Metrics, attempted: Long, failed: Long)

  /** name → (rows, digest) */
  def goldens(): Seq[(String, Long, Long)] = {
    val f = o.bench.resolve("registry/goldens.tsv")
    java.nio.file.Files.readAllLines(f).asScala.toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r, d) = l.split("\t"); (n, r.toLong, d.toLong) }
  }

  /** The golden queries in seed-permuted order (Fisher-Yates); when
    * recording goldens, every registry query. */
  def order(): Seq[(String, Long, Long)] = {
    val r = new java.util.SplittableRandom(o.seed)
    val a = if (o.record) (SparkEntry.queries ++ Bench.fastLanes).keys.toArray.sorted.map(n => (n, -1L, 0L))
      else goldens().toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    if (o.smoke) a.take(3).toSeq else a.toSeq
  }

  def run(spark: SparkSession, sessionS: Double, jvmBootS: Double): Result = {
    val m = new Metrics
    val dir = o.bench.resolve("registry/data").toString
    val registry = SparkEntry.queries ++ Bench.fastLanes
    val order = this.order()

    // set-up: table footers read (schema inference over every table), 3 times
    val setups = (0 until 3).map(_ => trace("setup") { _ =>
      val t = Stats.now(); Tables.all.foreach(tn => Tables.load(spark, dir, tn)); Stats.now() - t
    })
    // warm-up action per table, outside every timed number (as graft.Bench does)
    val warmup = trace("warmup") { _ =>
      val t = Stats.now(); Tables.all.foreach(tn => Tables.load(spark, dir, tn).count()); Stats.now() - t
    }

    val listener = new ExecListener
    val plans = new PlanListener
    if (trace.enabled) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(plans)
    }
    def bus(): Unit = if (trace.enabled) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    def storageMb(): Double = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    val heaps = scala.collection.mutable.ArrayBuffer(Stats.heapAfterGcMb())
    var construct, plan, exec, constructJobs, execJobs, eager, exchanges, barriers = 0.0
    var storagePeak, storageLeft = 0.0

    /** Constructs and runs one query into the digest sink: (seconds, output
      * matches its golden). `layers` records the per-layer split. */
    def runQuery(name: String, rows: Long, digest: Long, layers: Boolean, parent: Int): (Double, Boolean) = {
      val q0 = Stats.now()
      val j0 = listener.jobs.get
      val ok = try {
        val df = trace("construct", parent)(_ => registry(name)(spark, dir))
        val q1 = Stats.now()
        bus()
        val j1 = listener.jobs.get
        if (layers && trace.enabled) storagePeak = math.max(storagePeak, storageMb())
        plans.last = null
        trace("plan+execute", parent)(_ => df.write.format(classOf[DigestSink].getName).option("key", name)
          .mode("overwrite").save())
        val q2 = Stats.now()
        bus()
        if (layers && trace.enabled) {
          val (p, shape) = Option(plans.last).map(PlanListener.describe).getOrElse((0.0, ""))
          construct += q1 - q0; plan += p; exec += q2 - q1 - p
          constructJobs += j1 - j0; execJobs += listener.jobs.get - j1
          if (j1 > j0) eager += 1
          exchanges += "Exchange".r.findAllMatchIn(shape).length
          barriers += "ExistingRDD".r.findAllMatchIn(shape).length
          storageLeft = storageMb(); storagePeak = math.max(storagePeak, storageLeft)
        }
        val got = Option(Digest.results.get(name))
        val good = got.contains((if (o.corrupt) rows + 1 else rows, digest))
        if (!good) System.err.println(s"[perfbench] $name: got $got, golden ($rows,$digest)")
        if (o.record && layers) println(s"GOLDEN\t$name\t${got.map(_._1).getOrElse(-1)}\t${got.map(_._2).getOrElse(0)}")
        good
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        if (o.record) e.printStackTrace()
        false
      }
      val secs = Stats.now() - q0
      System.err.println(f"[perfbench] $name%-28s $secs%.3f s${if (ok) "" else "  FAILED"}")
      (secs, ok)
    }

    // Three passes in the same order; a query's time is the best of its
    // three (as graft.Bench takes its min over reps). The first pass also
    // pays codegen and JIT, which otherwise land on whichever query runs
    // first; with two passes the slowest query (latency_p99_ms) still spread
    // up to 0.29 between runs. The per-layer split is recorded on the second.
    val first = trace("pass 1") { id => order.map { case (n, r, d) => runQuery(n, r, d, layers = false, id) } }
    val exec0 = listener.snapshot()
    val gc0 = gcMs()
    val t0 = Stats.now()
    val second = trace("pass 2") { id => order.map { case (n, r, d) => runQuery(n, r, d, layers = true, id) } }
    val suite = Stats.now() - t0
    bus()
    val exec1 = listener.snapshot()
    val gc1 = gcMs()
    val third = trace("pass 3") { id => order.map { case (n, r, d) => runQuery(n, r, d, layers = false, id) } }
    val outcome = order.indices.map { i =>
      val runs = Seq(first(i), second(i), third(i))
      (order(i)._1, runs.map(_._1).min, runs.forall(_._2))
    }
    heaps += Stats.heapAfterGcMb()
    val lat = outcome.map(_._2 * 1000)

    m("setup_s") = (jvmBootS + sessionS + Stats.median(setups), "s")
    m("latency_p50_ms") = (Stats.median(lat), "ms")
    m("latency_p99_ms") = (Stats.pct(lat, 0.99), "ms")
    m("ops_per_s") = (order.length / outcome.map(_._2).sum, "1/s")
    m("heap_peak_mb") = (heaps.max, "MB")

    m("registry.suite_s") = (suite, "s")
    m("registry.queries") = (order.length, "count")
    m("registry.construct_s") = (construct, "s")
    m("registry.construct_jobs") = (constructJobs, "count")
    m("registry.eager_queries") = (eager, "count")
    m("registry.plan_s") = (plan, "s")
    m("registry.exec_s") = (exec, "s")
    m("registry.exec_jobs") = (execJobs, "count")
    val tot = math.max(construct + plan + exec, 1e-9)
    m("registry.construct_share") = (construct / tot, "ratio")
    m("registry.plan_share") = (plan / tot, "ratio")
    m("registry.exec_share") = (exec / tot, "ratio")
    m("registry.plan_exchanges") = (exchanges, "count")
    m("registry.plan_checkpoint_barriers") = (barriers, "count")
    def d(k: String) = (exec1(k) - exec0(k)).toDouble
    m("registry.tasks") = (d("tasks"), "count")
    m("registry.task_cpu_s") = (d("cpu_ns") / 1e9, "s")
    m("registry.core_util") = (d("run_ms") / (suite * 1000 * cores), "ratio")
    m("registry.single_task_stages") = (d("single_task_stages"), "count")
    m("registry.gc_s") = ((gc1 - gc0) / 1000, "s")
    m("registry.shuffle_read_mb") = (d("shuffle_read") / 1048576, "MB")
    m("registry.shuffle_write_mb") = (d("shuffle_write") / 1048576, "MB")
    m("registry.spill_mb") = (d("spill") / 1048576, "MB")
    m("registry.input_mb") = (d("input") / 1048576, "MB")
    m("registry.storage_peak_mb") = (storagePeak, "MB")
    m("registry.storage_left_mb") = (storageLeft, "MB")
    m("setup.session_s") = (sessionS, "s")
    m("setup.query_start_s") = (Stats.median(setups), "s")
    m("setup.warmup_s") = (warmup, "s")

    if (trace.enabled) {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(plans)
    }
    val failed = outcome.count(!_._3)
    Result(m, order.length, failed)
  }

  private def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum
}

/** Keeps the last successful query execution (the digest write). */
final class PlanListener extends QueryExecutionListener {
  @volatile var last: QueryExecution = _
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last = qe
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanListener {
  /** (analysis + optimization + planning seconds, executed plan text). */
  def describe(qe: QueryExecution): (Double, String) =
    (qe.tracker.phases.values.map(_.durationMs).sum / 1000.0, qe.executedPlan.toString)
}
