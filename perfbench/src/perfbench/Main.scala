package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.datagen.SyntheticTranscripts
import graft.lexer.PatternBank
import graft.pipeline.{RunPipeline, Staging}
import graft.schema.SchemaConfig

final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, cores: Int)

/** Every timed operation and every output check is one attempt. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$name: $detail" }
    ok
  }
}

/** One timed iteration: the workload's headline pass, its secondary pass,
  * and the process CPU both used.
  */
final case class Sample(mainS: Double, auxS: Double, cpuS: Double)

/** Closed-loop driver: one JVM, one Spark session on `local[cores]`, one job
  * at a time.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>
  *   Main --selftest --work <dir> --cores <n>
  *
  * Prints one line `PERFBENCH {...}` with the metrics, the attempt and
  * failure counts, and (when the dedup/ANN probes ran) the directory of
  * query outputs that `run.py` compares against DuckDB.
  */
object Main {

  /** CPU seconds the JVM's Java threads (driver, executor tasks, Spark's
    * own threads) use from construction to [[seconds]]. JIT compiler and GC
    * threads are not Java threads and do not count: process CPU still fell
    * by a third over the first minute of a run as compilation died down.
    * A thread that ends in between loses its time; the executor and
    * exchange pools keep theirs alive between back-to-back iterations.
    */
  final class ThreadCpu {
    private val mx = ManagementFactory.getThreadMXBean
    private def snapshot(): Map[Long, Long] =
      mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
    private val start = snapshot()
    def seconds(): Double = snapshot().map { case (id, t) => t - start.getOrElse(id, 0L) }.sum / 1e9
  }

  /** CPU time the hypervisor gave to other guests while this machine's
    * CPUs wanted to run (the `steal` column of /proc/stat), in seconds
    * summed over CPUs; 0 where the kernel does not report it.
    */
  def stealSeconds(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+").lift(8).map(_.toLong / 100.0).getOrElse(0.0)
      finally f.close()
    } catch { case _: Exception => 0.0 }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  val WarmUpIterations = 6

  /** Heap still reachable after a full collection, in MB: what the program
    * keeps (caches, broadcasts, retained plans and Spark's per-query status
    * records) after the warm-up passes. The resident-set peak was tried
    * first and moved by a quarter between runs of one input, with the
    * collector's timing.
    */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner frees shuffle and broadcast state only once a
    // collection has found its handles unreachable: collect, let it run,
    // collect again
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** One set-up: session, compiled bank, and a warm-up pipeline run over a
    * fixed tiny in-memory input (JIT and codegen caches warm).
    */
  def setUp(conf: Conf): SparkSession = {
    val spark = RunPipeline.sparkSession(conf.cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    PatternBank.compile(SchemaConfig.example)
    RunPipeline.run(spark, SyntheticTranscripts.generate(spark, 64, 7L),
      s"${conf.work}/out/warmup", sinkMode = "noop")
    spark
  }

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(kv("work")).toAbsolutePath.toString
    val cores = kv("cores").toInt
    if (args.contains("--selftest")) {
      sys.exit(if (SelfTest.run(work, cores)) 0 else 1)
    }
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      work, cores)

    // set-up is repeated and its median reported: the first includes JVM
    // start, the later ones rebuild the session in the warm JVM
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s  $what")
    var spark = setUp(conf)
    val setups = ArrayBuffer((System.currentTimeMillis() - jvmStartMs) / 1e3)
    for (_ <- 1 to 2) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val (s, secs) = timed(setUp(conf))
      spark = s
      setups += secs
    }

    mark(s"set-ups ${setups.map(x => f"$x%.2f").mkString(" ")}")
    val outcome = new Outcome
    val w = Workloads(conf.workload, new Ctx(spark, conf, new Inputs(s"$work/inputs"), outcome))
    w.stage()
    mark("input staged")
    // untimed passes while the JIT settles (the CPU-s of a pass still falls
    // by a fifth over the first six); a fixed count, so every run times
    // from the same point and keeps the same history on the heap
    val warm = (1 to WarmUpIterations).map(_ => w.iterate())
    val liveHeap = liveHeapMb()
    mark("warmed up: " + warm.map(x => f"${x.mainS}%.3f/${x.auxS}%.3f/${x.cpuS}%.2f").mkString(" "))

    val tracer = new Tracer(spark.sparkContext, s"${conf.workload}-s${conf.seed}")
    val samples = ArrayBuffer.empty[Sample]
    val steal = ArrayBuffer.empty[Double]
    val tracedSamples = ArrayBuffer.empty[Sample]
    // a traced run's loop only estimates the tracing overhead
    val loopSeconds = if (conf.trace) math.min(conf.seconds, 10) else conf.seconds
    val tEnd = System.nanoTime() + loopSeconds * 1000000000L
    var ok = true
    while (ok && (samples.isEmpty || (conf.trace && tracedSamples.isEmpty) ||
        System.nanoTime() < tEnd)) {
      // a traced run alternates plain and traced iterations, so the
      // tracing overhead is measured on the same input in the same JVM
      val traceThis = conf.trace && samples.length > tracedSamples.length
      try {
        if (traceThis) {
          spark.sparkContext.addSparkListener(tracer)
          try tracedSamples += tracer.span("iteration")(w.iterate())._1
          finally spark.sparkContext.removeSparkListener(tracer)
        } else {
          val (st0, t0) = (stealSeconds(), System.nanoTime())
          samples += w.iterate()
          steal += (stealSeconds() - st0) /
            ((System.nanoTime() - t0) / 1e9 * Runtime.getRuntime.availableProcessors)
        }
        outcome.attempted += 1
      } catch { case e: Exception =>
        ok = outcome.check("iteration", ok = false, e.toString)
      }
    }
    mark(s"timed ${samples.length} + ${tracedSamples.length} traced iterations: " +
      samples.zip(steal).map { case (x, st) => f"${x.mainS}%.3f/${x.auxS}%.3f/${x.cpuS}%.2f/$st%.3f" }
        .mkString(" "))
    if (ok) {
      try w.check()
      catch { case e: Exception => outcome.check("output check", ok = false, e.toString) }
    }
    mark("checked")

    val metrics: Map[String, Double] =
      if (!conf.trace) Map(
        "setup_s" -> median(setups.toSeq),
        "cpu_s" -> median(samples.map(_.cpuS).toSeq),
        "live_heap_mb" -> liveHeap)
      else if (!ok) Map.empty
      else {
        spark.sparkContext.addSparkListener(tracer)
        val layers =
          try w.layers(tracer)
          catch { case e: Exception => outcome.check("traced probes", ok = false, e.toString); Map.empty }
          finally spark.sparkContext.removeSparkListener(tracer)
        def total(s: Sample) = s.mainS + s.auxS
        val common = Map(
          "bank.compile_s" -> median((1 to 5).map(_ => timed(PatternBank.compile(SchemaConfig.example))._2)),
          "spark.gc_s" -> tracer.all.gcMs / 1e3,
          "spark.tasks" -> tracer.all.tasks.toDouble,
          "spark.failed_tasks" -> tracer.all.failedTasks.toDouble,
          "spark.spill_mb" -> tracer.all.spillBytes / 1e6,
          "host.steal_frac" -> median(steal.toSeq),
          "trace.overhead_frac" ->
            (median(tracedSamples.map(total).toSeq) / median(samples.map(total).toSeq) - 1),
          "failed_frac" -> outcome.failed.toDouble / math.max(1L, outcome.attempted)) ++
          Lexer.measure(w.lexerTexts())
        val traceDir = Paths.get(work, "trace")
        Files.createDirectories(traceDir)
        Files.write(traceDir.resolve(s"${tracer.runId}.json"),
          tracer.spansJson.getBytes(StandardCharsets.UTF_8))
        Workloads.zeroLayers ++ common ++ layers
      }

    println("PERFBENCH " + Json.obj(Seq(
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "failures" -> outcome.failures.toSeq,
      "dumps" -> w.dumps.orNull,
      "metrics" -> metrics)))
    mark("done")
    spark.stop()
    Staging.deleteRecursively(s"$work/out")
  }
}

/** Single-thread production lexer (`ByteTokenizer.tokenize`) over a sample
  * of the workload's own texts: the unit the reference reports (MB/s and
  * tokens/s on one core).
  */
object Lexer {
  def measure(texts: Seq[Array[Byte]]): Map[String, Double] = {
    val bank = PatternBank.compile(SchemaConfig.example)
    var tokens = 0L
    val sink = new graft.lexer.ByteTokenizer.Sink {
      def token(tokenType: Byte, schemaId: Int, start: Int, end: Int, line: Int): Unit = tokens += 1
    }
    def pass(): Unit = texts.foreach(t => graft.lexer.ByteTokenizer.tokenize(bank, t, sink))
    pass()
    tokens = 0
    var bytes = 0L
    val passBytes = texts.map(_.length.toLong).sum
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < 3 || System.nanoTime() - t0 < 1500000000L) {
      pass(); passes += 1; bytes += passBytes
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Map("lexer.mb_per_s" -> bytes / 1e6 / secs, "lexer.mtok_per_s" -> tokens / 1e6 / secs)
  }
}
