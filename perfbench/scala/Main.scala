package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Memo, SparkEntry, Tables}

/** The benchmark's JVM side. One process runs one workload:
  *
  *   run <workload> <dataDir> <outDir> <seconds> <trace>   build the session,
  *       register the inputs, print `PB_SETUP <epoch µs>`, run a cold pass and
  *       warm passes for `seconds` (at least two), print one `PB_RESULT {json}`;
  *   oracle-sql <file>   write `SparkEntry.oracleSql` as JSON.
  *
  * A pass calls every operation of the workload once, in a fixed order,
  * after `Memo.clear`, and forces each result by writing it as parquet to
  * `<outDir>/out/<op>`; the last pass's files are what the checks read.
  * `Memo.sweep` runs after every operation, as in `graft.Bench`.
  */
object Main {

  /** One operation: `layer` names the program layer its time belongs to
    * (`<layer>.*` metrics); `gate` marks operations called through
    * `SparkEntry.queries` (`gates.*` metrics). */
  final case class Op(name: String, layer: String, gate: Boolean,
      run: (SparkSession, String) => DataFrame)

  /** The gate `q_<name>` of `SparkEntry.queries`. */
  private def gate(name: String, layer: String) =
    Op(name, layer, gate = true, SparkEntry.queries(s"q_$name"))

  def ops(workload: String): Seq[Op] = workload match {
    case "sensor_batch" => Seq(
      gate("etl_wide", "etl"),                  // SensorEtl.wide
      gate("lead_window", "operators.windows"), // TimeWindows.leadWindow
      gate("resample_30m", "operators.windows"),
      gate("interpolate", "operators.windows"),
      gate("holt_forecast", "timeseries"),      // HoltForecast.forecast
      gate("ar_forecast", "timeseries"),        // ArForecast.forecast
      Op("gbt_regression", "ml", gate = false, graft.ml.Pipelines.regression))
    case "corpus_prep" => Seq(
      gate("corpus_clean", "etl"),              // CorpusPipeline.corpusClean
      gate("corpus_pack", "etl"),
      gate("pack_greedy", "etl"),               // Packing.greedy
      gate("tfidf", "functions"),               // TextAnalytics.tfidfTopTerms
      gate("minhash_lsh", "operators.dedup"),   // Dedup.minhashBanded
      gate("bloom_decontaminate", "operators.dedup"),
      gate("ivf_pq_topk", "operators.similarity"),
      gate("maxsim_rescore_adc", "operators.similarity"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val tables: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events" -> Tables.events, "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings)

  def inputs(workload: String): Seq[String] = workload match {
    case "sensor_batch" => Seq("events")
    case _ => Seq("documents", "embeddings")
  }

  /** The one session configuration every workload runs under. */
  def session(scratch: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
  }

  private def epochMicros: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuNs: Long = osBean.getProcessCpuTime
  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after a full collection: the live heap. Used heap read
    * at an arbitrary instant is mostly uncollected garbage and reads as
    * whatever the collector let the young generation grow to. */
  private def liveHeapBytes: Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "oracle-sql" =>
      import graft.JsonUtil.jstr
      val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",\n", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), json)
    case "run" =>
      val Array(_, workload, data, out, seconds, trace) = args
      val spark = session(s"$out/scratch")
      spark.sparkContext.setLogLevel("ERROR")
      inputs(workload).foreach(t => tables(t)(spark, data).createOrReplaceTempView(t))
      println(s"PB_SETUP $epochMicros")
      new Run(spark, workload, data, out, seconds.toInt, trace == "1").apply()
      spark.stop()
    case other => throw new IllegalArgumentException(s"unknown mode $other")
  }

  /** One call of one operation in one pass. */
  final case class Call(op: Op, startMs: Long, endMs: Long, wallNs: Long,
      built: Boolean, touched: Boolean, failed: Boolean, tag: String)

  final case class Pass(index: Int, wallNs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, liveHeap: Long, calls: Seq[Call])

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private final class Run(spark: SparkSession, workload: String, data: String,
      out: String, seconds: Int, trace: Boolean) {
    private val sc = spark.sparkContext
    private val listener = new Listener
    sc.addSparkListener(listener)
    private val workOps = ops(workload)

    private def force(o: Op): Unit =
      o.run(spark, data).write.mode("overwrite").parquet(s"$out/out/${o.name}")

    private def runPass(index: Int): Pass = {
      Memo.clear(spark)
      PerfbenchDrain(sc)
      val shuffle0 = listener.totals(_.shuffleWrite)
      val gc0 = gcMillis
      val cpu0 = processCpuNs
      val t0 = System.nanoTime()
      val calls = workOps.map { o =>
        val tag = s"pb_${index}_${o.name}"
        val label = s"$index/${o.name}"
        if (trace) sc.addJobTag(tag)
        val memo0 = Memo.buildSeconds
        val startMs = System.currentTimeMillis()
        val w0 = System.nanoTime()
        val failed =
          try { if (trace) Memo.withContext(label)(force(o)) else force(o); false }
          catch { case NonFatal(e) =>
            System.err.println(s"[perfbench] ${o.name} pass=$index FAILED: $e")
            true
          }
        val wall = System.nanoTime() - w0
        val endMs = System.currentTimeMillis()
        if (trace) sc.removeJobTag(tag)
        val built = Memo.buildSeconds > memo0
        val touched = trace && Memo.consumersOf("").contains(label)
        Memo.sweep(spark)
        Call(o, startMs, endMs, wall, built, touched, failed, tag)
      }
      val wall = System.nanoTime() - t0
      val cpu = processCpuNs - cpu0
      val gc = gcMillis - gc0
      val heap = liveHeapBytes
      PerfbenchDrain(sc)
      val shuffle = listener.totals(_.shuffleWrite) - shuffle0
      System.err.println(f"[perfbench] pass=$index wall=${wall / 1e9}%.3fs cpu=${cpu / 1e9}%.3fs " +
        f"heap=${heap / 1e6}%.1fMB " + calls.map(c => f"${c.op.name}=${c.wallNs / 1e9}%.3f").mkString(" "))
      Pass(index, wall, cpu, gc, shuffle, heap, calls)
    }

    /** Per-layer metrics of one traced pass. */
    private def layers(p: Pass): Map[String, Double] = {
      val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      val mb = 1e6
      p.calls.foreach { c =>
        val a = listener.tag(c.tag)
        val wall = c.wallNs / 1e9
        m("tables.scan_mb") += a.inBytes / mb
        m("tables.scan_rows") += a.inRows.toDouble
        m("spark.spill_mb") += a.spillDisk / mb
        val l = c.op.layer
        m(s"$l.wall_s") += wall
        m(s"$l.exec_cpu_s") += a.cpuNs / 1e9
        m(s"$l.shuffle_mb") += a.shuffleWrite / mb
        m(s"$l.gc_s") += a.gcMs / 1e3
        m(s"$l.spill_mb") += a.spillDisk / mb
        m(s"$l.jobs") += a.jobs.toDouble
        m(s"$l.driver_s") += math.max(0.0, wall - a.busyMs / 1e3)
        if (c.built) { m("memo.builds") += 1; m("memo.build_s") += wall }
        else if (c.touched) m("memo.hit_s") += wall
        if (c.op.gate) {
          if (a.firstJobMs != Long.MaxValue)
            m("gates.pre_job_s") += math.max(0L, a.firstJobMs - c.startMs) / 1e3
          m("gates.jobs") += a.jobs.toDouble
          m("gates.tasks") += a.tasks.toDouble
          m("gates.exec_cpu_s") += a.cpuNs / 1e9
        }
      }
      m("jvm.gc_s") = p.gcMs / 1e3
      m.toMap
    }

    private def writeSpans(passes: Seq[Pass]): Unit = {
      import graft.JsonUtil.jstr
      val lines = passes.flatMap { p =>
        p.calls.map { c =>
          val a = listener.tag(c.tag)
          s"""{"span":${jstr(c.tag)},"parent":"pass_${p.index}","op":${jstr(c.op.name)},""" +
            s""""layer":${jstr(c.op.layer)},"start_ms":${c.startMs},"end_ms":${c.endMs},""" +
            s""""jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
            s""""exec_run_ms":${a.runMs},"exec_cpu_ns":${a.cpuNs},"gc_ms":${a.gcMs},""" +
            s""""input_bytes":${a.inBytes},"shuffle_write_bytes":${a.shuffleWrite},""" +
            s""""shuffle_read_bytes":${a.shuffleRead},"spill_disk_bytes":${a.spillDisk},""" +
            s""""memo_built":${c.built},"memo_touched":${c.touched},"failed":${c.failed}}"""
        }
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/spans.jsonl"),
        lines.mkString("", "\n", "\n"))
    }

    def apply(): Unit = {
      val cold = runPass(0)
      val warmStart = System.nanoTime()
      val warm = mutable.ArrayBuffer.empty[Pass]
      while (warm.length < 2 || System.nanoTime() - warmStart < seconds * 1000000000L)
        warm += runPass(warm.length + 1)
      val all = cold +: warm.toSeq
      val calls = all.flatMap(_.calls)
      // warm figures are the fastest warm pass (per operation for warm_s):
      // the first warm pass still carries JIT warm-up, and other tenants
      // of the machine only ever add time
      val opBest = workOps.map { o =>
        o.name -> warm.toSeq.flatMap(_.calls.filter(_.op == o).map(_.wallNs / 1e9)).min
      }
      val e2e = Seq(
        "cold_s" -> cold.wallNs / 1e9,
        "warm_s" -> opBest.map(_._2).sum,
        "cpu_s" -> warm.map(_.cpuNs / 1e9).min,
        "shuffle_mb" -> warm.map(_.shuffleWrite / 1e6).min,
        "peak_heap_mb" -> all.map(_.liveHeap).max / 1e6)
      val layerM: Seq[(String, Double)] =
        if (!trace) Nil
        else {
          val per = warm.toSeq.map(layers)
          per.flatMap(_.keys).distinct.sorted.map(k => k -> median(per.map(_.getOrElse(k, 0.0))))
        }
      if (trace) writeSpans(all)
      def obj(kv: Seq[(String, Double)]): String =
        kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      println(s"""PB_RESULT {"attempted":${calls.length},"failed":${calls.count(_.failed)},""" +
        s""""passes":${all.length},"e2e":${obj(e2e)},"layers":${obj(layerM)},""" +
        s""""ops":${obj(opBest)}}""")
    }
  }
}
