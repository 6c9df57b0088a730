package graft.perfbench

import graft.expressions.{Exprs, GramMatrixAgg}
import graft.sources.Sources
import graft.streaming.WikipediaParse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import scala.jdk.CollectionConverters._

/** Layer microbenchmarks of the traced run, on seeded generated rows:
  * the native expression kernels (codegen ns/row over an empty-projection
  * baseline on the same cached rows) and the replay source. */
object Micro {
  // a few words with composed and decomposable accents, for nfc_normalize
  private val Words = Array("fix", "typo", "cleanup", "ref", "added", "section", "revert", "\u00c5ngstr\u00f6m",
    "cafe\u0301", "link", "update", "infobox", "nai\u0308ve", "stub", "expand")
  private val Terms = Seq("fix", "typo", "ref", "link", "update", "stub", "image", "section")

  def kernels(spark: SparkSession, seed: Long, rows: Int, m: Metrics, trace: Trace): Unit = trace("kernels") { kid =>
    import spark.implicits._
    val r = new java.util.SplittableRandom(seed)
    def word() = Words(r.nextInt(Words.length))
    def name() = Array.fill(6 + r.nextInt(8))(('a' + r.nextInt(26)).toChar).mkString
    def hex() = Array.fill(16)("0123456789abcdef".charAt(r.nextInt(16))).mkString
    val data = (0 until rows).map { _ =>
      val a = name()
      (Array.fill(8 + r.nextInt(8))(word()).mkString(" "), a,
        if (r.nextBoolean()) a.reverse else name(), hex(), hex(),
        Array.fill(32)(r.nextFloat()), Array.fill(32)(r.nextFloat()), Array.fill(8)(r.nextInt(1000).toLong))
    }
    val df = data.toDF("text", "a", "b", "ha", "hb", "va", "vb", "lv").repartition(Runtime.getRuntime.availableProcessors()).cache()
    df.count()
    val bloom = {
      val f = org.apache.spark.util.sketch.BloomFilter.create(rows.toLong, 0.01)
      data.take(rows / 2).foreach(d => f.putString(d._2))
      spark.sparkContext.broadcast(f)
    }
    // a job costs tens of ms whatever its rows: enough rows and repeats that
    // the kernel, not that overhead, decides the difference to the baseline;
    // three repeats keep a traced run within its time limit
    def secs(d: => DataFrame): Double = Stats.median((0 until 3).map { _ =>
      val t = Stats.now(); d.write.format("noop").mode("overwrite").save(); Stats.now() - t
    })
    def nsPerRow(name: String, inputs: Seq[String], f: => Column): Unit = trace(s"kernel $name", kid) { _ =>
      val base = secs(df.select(inputs.map(col): _*))
      val t = secs(df.select(inputs.map(col) :+ f.as("k"): _*))
      m(s"kernel.${name}_ns_per_row") = (math.max(0.0, t - base) / rows * 1e9, "ns")
    }
    nsPerRow("cosine_sim", Seq("va", "vb"), Exprs.cosineSim(col("va"), col("vb")))
    nsPerRow("jaro_winkler", Seq("a", "b"), Exprs.jaroWinkler(col("a"), col("b")))
    nsPerRow("word_shingles", Seq("text"), Exprs.wordShingles(col("text"), 3))
    nsPerRow("hamming_dist", Seq("ha", "hb"), Exprs.hammingDist(col("ha"), col("hb")))
    nsPerRow("panel_term_stats", Seq("text"), Exprs.panelTermStats(col("text"), Terms))
    nsPerRow("letter_counts", Seq("text"), Exprs.letterCounts(col("text")))
    nsPerRow("nfc_normalize", Seq("text"), Exprs.nfcNormalize(col("text")))
    nsPerRow("bloom_might_contain", Seq("a"), Exprs.bloomMightContain(col("a"), bloom))
    trace("kernel gram_matrix", kid) { _ =>
      val base = secs(df.agg(count(col("lv"))))
      val gram = ColumnBridge.column(GramMatrixAgg(ColumnBridge.expression(col("lv"))).toAggregateExpression())
      val t = secs(df.agg(gram))
      m("kernel.gram_matrix_ns_per_row") = (math.max(0.0, t - base) / rows * 1e9, "ns")
    }
    trace("kernel wiki_parse", kid) { _ =>
      // a quarter of the rows: at ~10 µs a line the parse still dwarfs a job's overhead
      val lines = math.max(1, rows / 4)
      val feed = Gen.wikiEdits(seed, 0, lines, 0.5).map(Gen.feedEvent).toSeq.toDF()
        .repartition(Runtime.getRuntime.availableProcessors()).cache()
      feed.count()
      val base = secs(feed.select("channel", "raw", "time", "source"))
      val t = secs(WikipediaParse.parse(feed))
      m("kernel.wiki_parse_ns_per_row") = (math.max(0.0, t - base) / lines * 1e9, "ns")
      feed.unpersist()
    }
    df.unpersist()
    bloom.destroy()
  }

  /** Drains `Sources.replayFeed` over generated feed lines. */
  def replay(spark: SparkSession, seed: Long, lines: Int, o: Opts, m: Metrics, trace: Trace): Unit = trace("sources") { _ =>
    val path = o.work.resolve(s"replay-$seed.txt")
    java.nio.file.Files.write(path, Gen.wikiEdits(seed, 0, lines, 0.5).map(_.line).toSeq.asJava)
    val l = new ExecListener
    spark.sparkContext.addSparkListener(l)
    val q = Sources.replayFeed(spark, path.toString, linesPerBatch = 10000).writeStream.format("noop")
      .option("checkpointLocation", o.work.resolve(s"ckpt-replay-$seed").toString).start()
    val t = Stats.now()
    q.processAllAvailable()
    val secs = Stats.now() - t
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    m("sources.replay_rows_per_s") = (lines / secs, "1/s")
    m("sources.replay_partitions") = (l.tasks.get.toDouble / math.max(1, batches), "count")
  }
}
