package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Command-line options (see `perfbench/run.py`, which passes them). */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      bench: Path, work: Path, smoke: Boolean, corrupt: Boolean, record: Boolean,
                      digestInputs: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def flag(k: String) = kv.get(k).contains("1")
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, flag("trace"),
      Paths.get(kv("bench")), Paths.get(kv("work")), flag("smoke"), flag("corrupt"), flag("record"),
      flag("digest-inputs"))
  }
}

/** One benchmark run: prints the result object as the last stdout line. */
object Main {
  val EndToEnd = Seq("setup_s", "latency_p50_ms", "latency_p99_ms", "ops_per_s", "heap_peak_mb")
  val Workloads = Seq("wiki-stats", "profile-enrich", "batch-registry")

  /** Every per-layer metric with its unit. A traced run reports all of
    * them; a layer the workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "setup.jvm_s" -> "s", "setup.session_s" -> "s", "setup.warmup_s" -> "s", "setup.query_start_s" -> "s",
    "sources.replay_rows_per_s" -> "1/s", "sources.replay_partitions" -> "count",
    "mb.trigger_ms" -> "ms", "mb.add_batch_ms" -> "ms", "mb.query_planning_ms" -> "ms",
    "mb.wal_commit_ms" -> "ms", "mb.commit_offsets_ms" -> "ms", "mb.latest_offset_ms" -> "ms",
    "mb.get_batch_ms" -> "ms", "mb.events_per_batch" -> "count", "mb.batches" -> "count",
    "mb.backlog_chunks_end" -> "count", "sink.ms" -> "ms",
    "state.rows_total" -> "count", "state.rows_updated" -> "count", "state.rows_removed" -> "count",
    "state.memory_mb" -> "MB", "state.commit_ms" -> "ms", "state.updates_ms" -> "ms",
    "state.removals_ms" -> "ms", "state.rows_dropped_late" -> "count",
    "state.commit_ms.rocksdb" -> "ms", "state.events_per_s.rocksdb" -> "1/s",
    "state.sessions.events_per_s" -> "1/s", "state.sessions.updates_ms" -> "ms", "state.sessions.removals_ms" -> "ms",
    "exec.tasks_per_batch" -> "count", "exec.task_cpu_ms_per_kevent" -> "ms", "exec.core_util" -> "ratio",
    "exec.gc_ms" -> "ms", "exec.shuffle_write_kb_per_batch" -> "KB",
    "scaling.events_per_s_1core" -> "1/s", "scaling.speedup" -> "ratio",
    "gen.late_ms_p99" -> "ms", "gen.latency_samples" -> "count",
    "registry.suite_s" -> "s", "registry.queries" -> "count",
    "registry.construct_s" -> "s", "registry.construct_jobs" -> "count", "registry.eager_queries" -> "count",
    "registry.plan_s" -> "s", "registry.exec_s" -> "s", "registry.exec_jobs" -> "count",
    "registry.construct_share" -> "ratio", "registry.plan_share" -> "ratio", "registry.exec_share" -> "ratio",
    "registry.plan_exchanges" -> "count", "registry.plan_checkpoint_barriers" -> "count",
    "registry.tasks" -> "count", "registry.task_cpu_s" -> "s", "registry.core_util" -> "ratio",
    "registry.single_task_stages" -> "count", "registry.gc_s" -> "s", "registry.shuffle_read_mb" -> "MB",
    "registry.shuffle_write_mb" -> "MB", "registry.spill_mb" -> "MB", "registry.input_mb" -> "MB",
    "registry.storage_peak_mb" -> "MB", "registry.storage_left_mb" -> "MB") ++
    Seq("cosine_sim", "jaro_winkler", "word_shingles", "hamming_dist", "panel_term_stats", "letter_counts",
      "nfc_normalize", "bloom_might_contain", "gram_matrix", "wiki_parse").map(k => s"kernel.${k}_ns_per_row" -> "ns") ++
    Seq("trace.setup_s" -> "s", "trace.latency_p50_ms" -> "ms", "trace.latency_p99_ms" -> "ms",
      "trace.ops_per_s" -> "1/s", "trace.heap_peak_mb" -> "MB", "trace.spans" -> "count")

  def main(args: Array[String]): Unit = {
    val jvmBoot = Stats.sinceJvmStart()
    val o = Opts.parse(args)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    Files.createDirectories(o.work)
    if (o.digestInputs) { println(inputDigest(o)); sys.exit(0) }
    val trace = new Trace(o.trace)
    val cores = Runtime.getRuntime.availableProcessors()
    val t = Stats.now()
    var spark = trace("session")(_ => Session.build(cores, o.work))
    val sessionS = Stats.now() - t

    val (m, attempted, failed) = trace(s"workload ${o.workload}") { _ =>
      if (o.workload == "batch-registry") {
        val r = new RegistryRun(o, trace).run(spark, sessionS, jvmBoot)
        (r.m, r.attempted, r.failed)
      } else {
        val c = StreamCases(o.workload)
        val r = new StreamRun(c, o, trace, corrupt = o.corrupt).run(spark, sessionS, jvmBoot)
        (r.m, r.attempted, r.failed)
      }
    }
    var probesOk = true

    if (o.trace) {
      EndToEnd.foreach(k => m(s"trace.$k") = m.get(k))
      Micro.kernels(spark, o.seed, if (o.smoke) 2000 else 200000, m, trace)
      Micro.replay(spark, o.seed, if (o.smoke) 2000 else 100000, o, m, trace)
      if (o.workload != "batch-registry") {
        // the same short drain, warm-up included, at nproc and on one
        // core; then, for the stateful workload, the sessions drain and its
        // own drain on the RocksDB state store
        val (warm, timed) = if (o.smoke) (1, 2) else (3, 3)
        val many = new StreamRun(StreamCases(o.workload), o, trace).drainOnly(spark, s"${cores}core", timed, warm)
        spark.stop()
        spark = Session.build(1, o.work)
        val one = new StreamRun(StreamCases(o.workload), o, trace).drainOnly(spark, "1core", timed, warm)
        probesOk &&= many.ok && one.ok
        m("scaling.events_per_s_1core") = (one.eventsPerS, "1/s")
        m("scaling.speedup") = (many.eventsPerS / math.max(one.eventsPerS, 1e-9), "ratio")
        spark.stop()
        val c = StreamCases(o.workload)
        if (c.stateProbes) {
          spark = Session.build(cores, o.work)
          // the state store's write/evict side: sessionization, where every
          // event writes state and every batch times sessions out
          val s = new StreamRun(StreamCases("sessions"), o, trace).drainOnly(spark, "sessions", if (o.smoke) 2 else 3)
          probesOk &&= s.ok
          m("state.sessions.events_per_s") = (s.eventsPerS, "1/s")
          m("state.sessions.updates_ms") = (s.updatesMs, "ms")
          m("state.sessions.removals_ms") = (s.removalsMs, "ms")
          spark.stop()
          spark = Session.build(cores, o.work, Seq("spark.sql.streaming.stateStore.providerClass" -> Session.RocksDb))
          val rocks = new StreamRun(c, o, trace).drainOnly(spark, "rocksdb", if (o.smoke) 2 else 3)
          probesOk &&= rocks.ok
          m("state.commit_ms.rocksdb") = (rocks.commitMs, "ms")
          m("state.events_per_s.rocksdb") = (rocks.eventsPerS, "1/s")
        }
      }
      m("setup.jvm_s") = (jvmBoot, "s")
      m("trace.spans") = (trace.size, "count")
      PerLayer.foreach { case (k, u) => if (!m.contains(k)) m(k) = (0.0, u) }
      trace.write(o.work.resolve(s"spans-${o.workload}-${o.seed}.jsonl"))
      System.err.println(s"[perfbench] ${trace.size} spans written under ${o.work}")
    }
    Option(spark).foreach(_.stop())
    val correct = failed == 0 && probesOk

    val keep: String => Boolean = if (o.trace) PerLayer.map(_._1).toSet else EndToEnd.toSet
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${m.json(keep)}}""")
    sys.exit(if (correct) 0 else 1)
  }

  /** SHA-256 over the encoded bytes of a workload's first generated chunks
    * (streaming) or its query order (batch): equal seeds, equal inputs. */
  def inputDigest(o: Opts): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    if (o.workload == "batch-registry") new RegistryRun(o, new Trace(false)).order().foreach(q => md.update(q._1.getBytes))
    else {
      val c = StreamCases(o.workload)
      c.generate(o.seed, 60, 4)
      for (f <- c.feeds(); chunk <- f.chunks; part <- chunk; row <- part)
        md.update(row.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow].getBytes)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
