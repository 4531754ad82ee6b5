package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `perfbench/run.py` builds and launches it;
  * it runs one workload, writes the raw measurements (and, when traced,
  * the spans) into `--work`, and leaves metrics and checks to run.py.
  *
  * Arguments: --workload q-cold|p-bulk|p-single --seed N
  * --seconds S --trace 0|1 --data DIR --work DIR --cpus N. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: File, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("data")).getAbsolutePath, new File(need("work")).getAbsoluteFile,
      need("cpus").toInt)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.Tables.nanosFlag, "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .config("spark.local.dir", new File(a.work, "local").getPath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val tracer = new Tracer(a.trace, a.seed)
    val runSpan = tracer.newId()
    val runStart = System.nanoTime()

    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val sparkTrace = new SparkTrace(tracer)
    if (a.trace) spark.sparkContext.addSparkListener(sparkTrace)

    val workload: Workload = a.workload match {
      case "q-cold" => new QueryRun(a, spark, tracer, runSpan)
      case "p-bulk" | "p-single" => new PipelineRun(a, spark, tracer, runSpan)
      case w => sys.error(s"unknown workload $w")
    }
    val result = workload.run()

    if (a.trace) {
      sparkTrace.settle()
      sparkTrace.emit(workload.triggerSpan)
      tracer.add(Span(runSpan, 0, "run", "run", Clock.us(runStart), Clock.nowUs(),
        Map("workload" -> a.workload)))
      tracer.write(new File(a.work, "spans.jsonl"))
      tracer.clear()
    }

    val retainedMb = retainedHeapMb()
    val raw = result ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "session_start_s" -> sessionStartS,
      "retained_mb" -> retainedMb,
      "host" -> Map(
        "cpus" -> a.cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version))
    Files.writeString(Paths.get(a.work.getPath, "raw.json"), Json.render(raw))
    spark.stop()
  }

  /** One workload run. `run` returns the raw measurements and must drop
    * its own large buffers before returning, so they do not count as
    * retained heap. */
  trait Workload {
    def run(): Map[String, Any]
    /** Trigger span for a streaming (query id, batch id), if traced. */
    def triggerSpan(key: (String, Long)): Option[Long] = None
  }

  /** Heap in use after a full collection, in MB: the least of several
    * collections, so garbage that a background thread makes meanwhile
    * does not count. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
