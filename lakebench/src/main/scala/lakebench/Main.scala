package lakebench

import java.nio.file.Paths

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set the workload up `--setups` times,
  * warm up, then measure a closed loop of single-client ops for `--seconds`.
  * With `--trace 1` every second block of the op mix is traced, so traced
  * and untraced ops share the JVM's warm-up state and the machine's load,
  * and their rates give the tracing overhead. Between ops the client times
  * a fixed reference task ([[HostRef]]), off the clock, so run.py can scale
  * the window's timings to a reference host speed. Raw samples, spans and
  * counters go to `--out`; run.py turns them into metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <k> --setups <n> --work <dir> --out <file.json> */
object Main {
  final case class OpRecord(kind: String, ms: Double, cpuMs: Double, ok: Boolean,
      traced: Boolean, sub: Map[String, Double])

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val out = Paths.get(opt("out"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val checks = new Checks
      val wl = Workloads(workload, spark, seed, s"$work/tables", checks)

      val setupS = (1 to opt("setups").toInt).map { r =>
        val t0 = System.nanoTime()
        wl.setup()
        val s = (System.nanoTime() - t0) / 1e9
        log(f"setup $r took $s%.2f s")
        s
      }
      val p0 = System.nanoTime()
      wl.prepare()
      val prepareS = (System.nanoTime() - p0) / 1e9
      log(f"prepare took $prepareS%.2f s")

      val window = measure(spark, wl, seed, seconds, trace, out)
      wl.finish()
      listener.drain()

      val result = Map(
        "workload" -> workload,
        "seed" -> seed,
        "trace" -> trace,
        "fingerprint" -> Map(
          "nproc" -> Runtime.getRuntime.availableProcessors,
          "local_k" -> cores,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
          "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
          "spark" -> spark.version),
        "main_kinds" -> wl.mainKinds.toSeq.sorted,
        "side_kinds" -> wl.sideKinds.toSeq.sorted,
        "setup_s" -> setupS,
        "prepare_s" -> prepareS,
        "window" -> window,
        "exec" -> Seq("u", "t").map { w =>
          val t = listener.of(w)
          val scan = listener.of(w, wl.mainKinds)
          w -> Map(
            "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
            "run_ms" -> t.runMs, "cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs,
            "shuffle_read_bytes" -> t.shuffleRead, "shuffle_write_bytes" -> t.shuffleWrite,
            "spill_bytes" -> t.spill,
            "scan_input_bytes" -> scan.inputBytes, "scan_input_records" -> scan.inputRecords)
        }.toMap,
        "checks" -> Map("passed" -> checks.passed, "failures" -> checks.failures.toSeq),
        "peak_rss_mb" -> peakRssMb(),
        "report" -> wl.report())
      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      mapper.writeValue(out.toFile, result)
    } finally spark.stop()
  }

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[lakebench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $msg")

  /** Warm up, then run the closed loop for `seconds` of op time, rounded up
    * to a whole block of the op mix: a window cut inside a block would hold
    * a seed- and timing-dependent share of the slow ops. Follow-up work
    * (checks, model updates, counters) is excluded from the window. */
  private def measure(spark: SparkSession, wl: Workload, seed: Long, seconds: Double,
      trace: Boolean, out: java.nio.file.Path): Map[String, Any] = {
    val sc = spark.sparkContext
    val tr = new Tracer
    sc.setJobGroup("warmup", "warmup")
    wl.warmup(new Random(seed * 31 + 7), tr)
    (1 to 10).foreach(_ => HostRef.sample())
    log("warm-up done")
    val rng = new Random(seed)
    val mix = new Mix(wl.templates, rng)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val errors = mutable.ArrayBuffer.empty[String]
    var offClock = 0L
    var blocks = 0
    val refMs = mutable.ArrayBuffer.empty[Double]
    var lastRef = 0L
    val start = System.nanoTime()
    def elapsed = System.nanoTime() - start - offClock
    var i = 0L
    while (elapsed < seconds * 1e9 || !mix.atBlockStart) {
      if (mix.atBlockStart) {
        blocks += 1
        tr.enabled = trace && blocks % 2 == 0
      }
      val kind = mix.next()
      tr.op = i
      sc.setJobGroup(s"lakebench-${if (tr.enabled) "t" else "u"}-$kind-$i", kind)
      wl.lastSub.clear()
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val followUp = try Some(tr.span(s"op.$kind")(wl.run(kind, rng, tr)))
        catch {
          case e: Exception =>
            if (errors.size < 5) errors += s"$kind: $e"
            log(s"op $i ($kind) failed: $e")
            None
        }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
      ops += OpRecord(kind, ms, cpuMs, followUp.isDefined, tr.enabled, wl.lastSub.toMap)
      val c0 = System.nanoTime()
      followUp.foreach(_())
      // sample the host's speed while the engine is idle, at most every 250 ms
      if (c0 - lastRef > 250000000L) {
        refMs ++= HostRef.sample()
        lastRef = System.nanoTime()
      }
      offClock += System.nanoTime() - c0
      i += 1
    }
    tr.enabled = false
    val windowS = elapsed / 1e9
    log(f"$i ops in $windowS%.2f s")
    sc.clearJobGroup()
    val spansFile = out.resolveSibling(out.getFileName.toString.stripSuffix(".json") +
      "-spans.jsonl")
    if (trace) tr.writeSpans(spansFile)
    Map(
      "seconds" -> windowS,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "cpu_ms" -> o.cpuMs,
        "ok" -> o.ok, "traced" -> o.traced, "sub" -> o.sub)),
      "errors" -> errors.toSeq,
      "ref_ms" -> refMs.toSeq,
      "counters" -> tr.counters.toMap,
      "spans" -> (if (trace) spansFile.getFileName.toString else null))
  }

  /** A fixed task (copy and sort 64k seeded longs) that tracks how fast the
    * host runs the benchmark at the moment. Its speed differs from core to
    * core and from moment to moment, so a sample runs it on every core at
    * once and each thread times its own CPU time, which leaves out waiting
    * for a core. */
  object HostRef {
    private val data = Array.tabulate(1 << 16)(i => Gen.mix(1L, i.toLong))
    private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    private val cores = Runtime.getRuntime.availableProcessors

    private def sortCpuMs(): Double = {
      val c0 = threads.getCurrentThreadCpuTime
      val a = data.clone()
      java.util.Arrays.sort(a)
      if (a(0) > a(a.length - 1)) throw new IllegalStateException("sort")
      (threads.getCurrentThreadCpuTime - c0) / 1e6
    }

    def sample(): Seq[Double] = {
      val out = new Array[Double](cores)
      val ts = (0 until cores).map(i => new Thread(() => out(i) = sortCpuMs()))
      ts.foreach(_.start())
      ts.foreach(_.join())
      out.toSeq
    }
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      finally src.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
