package graft.perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The load generator's side of a streaming run: chunks that were generated
  * and encoded before timing started, released to the engine on a schedule.
  *
  * `chunks(k)(p)` holds the rows of chunk `k` for input partition `p` — one
  * partition per core, like a topic with one partition per consumer. The
  * engine sees chunk `k` once `released > k`; at most `maxChunksPerBatch`
  * chunks go into one micro-batch (the closed-loop drain's fixed batch). */
final class Feed(val schema: StructType, val chunks: Feed.Chunks) {
  // bracketed, so no id is a substring of another in source descriptions
  val id: String = s"[feed-${Feed.ids.incrementAndGet()}]"
  val released = new AtomicInteger(0)
  @volatile var maxChunksPerBatch: Int = Int.MaxValue
}

object Feed {
  /** `chunks(k)(p)`: the rows of chunk `k` in partition `p`. */
  type Chunks = IndexedSeq[Array[Array[InternalRow]]]

  private val feeds = new ConcurrentHashMap[String, Feed]()
  private[perfbench] val ids = new AtomicInteger(0)

  /** Registers `f` under its `id`, the `feed` option value that reads it. */
  def register(f: Feed): String = { feeds.put(f.id, f); f.id }
  def unregister(f: Feed): Unit = feeds.remove(f.id)
  def apply(id: String): Feed = feeds.get(id)

  /** Chunk index encoded in a source offset JSON (`"12"`). */
  def offsetOf(json: String): Int = if (json == null) 0 else json.trim.stripPrefix("\"").stripSuffix("\"").toInt
}

class FeedProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Feed(options.get("feed")).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FeedTable(properties.get("feed"))
}

private class FeedTable(id: String) extends Table with SupportsRead {
  override def name(): String = id
  override def schema(): StructType = Feed(id).schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    override def readSchema(): StructType = Feed(id).schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = new FeedStream(id)
  }
}

private case class ChunkOffset(chunk: Int) extends Offset {
  override def json(): String = chunk.toString
}

private case class FeedPartition(id: String, from: Int, until: Int, part: Int) extends InputPartition

private class FeedStream(id: String) extends MicroBatchStream with SupportsAdmissionControl {
  private def feed = Feed(id)
  override def initialOffset(): Offset = ChunkOffset(0)
  override def latestOffset(): Offset = ChunkOffset(feed.released.get)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ChunkOffset].chunk
    val cap = feed.maxChunksPerBatch
    ChunkOffset(math.min(feed.released.get, if (cap == Int.MaxValue) Int.MaxValue else from + cap))
  }
  override def deserializeOffset(json: String): Offset = ChunkOffset(Feed.offsetOf(json))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = id

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[ChunkOffset].chunk, end.asInstanceOf[ChunkOffset].chunk)
    val parts = if (e > s) feed.chunks(s).length else 0
    Array.tabulate[InputPartition](parts)(p => FeedPartition(id, s, e, p))
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[FeedPartition]
      val rows = (p.from until p.until).iterator.flatMap(k => Feed(p.id).chunks(k)(p.part).iterator)
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = rows.hasNext && { cur = rows.next(); true }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }
  }
}
