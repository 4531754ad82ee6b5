package graftbench

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray, AtomicLong, AtomicLongArray}
import java.util.concurrent.locks.LockSupport

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.core.{BatchPipeline, FlushContext, Flusher, FlusherFactory, PipelineConfig,
  PipelineStats}

/** Delivery ledger shared by the benchmark's sink and producer. Items
  * carry their id as the payload prefix `<id>|`; the sink counts every
  * delivery of every id of the current pass and stamps when the sink call
  * that carried it started and returned. Local mode runs the sink in this
  * JVM, so the ledger is a plain static object. */
object Ledger {
  @volatile var base: Long = 0
  @volatile var count: AtomicIntegerArray = new AtomicIntegerArray(0)
  @volatile var enterNs: AtomicLongArray = new AtomicLongArray(0)
  @volatile var returnNs: AtomicLongArray = new AtomicLongArray(0)
  val stray = new AtomicLong
  /** Ids of the current pass delivered at least once. */
  val delivered = new AtomicLong
  val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger
  /** (enter ns, return ns, items, worker) per sink call. */
  val calls = new ConcurrentLinkedQueue[Array[Long]]()
  @volatile var recordCalls = false

  def open(from: Long, n: Int): Unit = {
    count = new AtomicIntegerArray(n)
    enterNs = new AtomicLongArray(n)
    returnNs = new AtomicLongArray(n)
    delivered.set(0)
    base = from
  }

  def close(): Unit = open(0, 0)

  def idOf(payload: String): Long = payload.substring(0, payload.indexOf('|')).toLong
}

/** Sink standing in for the reference's asynchronous reporter: sleeps
  * `latencyMs` per batch, then marks every item in the ledger. */
final class LedgerSink(latencyMs: Long) extends Flusher[String] {
  override def flush(batch: Seq[String], ctx: FlushContext): Unit = {
    val enter = System.nanoTime()
    Ledger.inflightMax.accumulateAndGet(Ledger.inflight.incrementAndGet(), math.max)
    try {
      if (latencyMs > 0) Thread.sleep(latencyMs)
      val count = Ledger.count; val ent = Ledger.enterNs; val ret = Ledger.returnNs
      val base = Ledger.base
      val now = System.nanoTime()
      batch.foreach { p =>
        val i = Ledger.idOf(p) - base
        if (i < 0 || i >= count.length) Ledger.stray.incrementAndGet()
        else {
          if (count.incrementAndGet(i.toInt) == 1) Ledger.delivered.incrementAndGet()
          ent.set(i.toInt, enter); ret.set(i.toInt, now)
        }
      }
    } finally Ledger.inflight.decrementAndGet()
    val end = System.nanoTime()
    if (Ledger.recordCalls) Ledger.calls.add(Array(enter, end, batch.size.toLong, ctx.workerIndex))
  }
}

/** The pipeline workloads, driven through `BatchPipeline`'s public calls.
  *
  * p-bulk: one producer pushes passes of [[PipelineRun.BulkPass]] items
  * through `putAll` in [[PipelineRun.Slice]]-item slices as fast as
  * admission allows, with no barrier between passes, until `--seconds`
  * have passed. The sink takes no time.
  *
  * p-single: one producer calls `put()` per item on a seeded Poisson
  * schedule of [[PipelineRun.Rate]] items/s for `--seconds`. The sink
  * sleeps 5 ms per batch.
  *
  * Both end their window with one final barrier (`drainAndFlush`).
  *
  * Per item the run records when it was scheduled (p-bulk: when the
  * `putAll` call carrying it started), when `put` returned, and, from
  * the ledger, when the sink call carrying it started and returned. */
object PipelineRun {
  val BulkPass = 131072
  val Slice = 4096
  val MaxBatch = 1024
  /** p-single's measured rate. A trigger's time grows with the blocks it
    * carries, one per `put()`, and the blocks it carries grow with its
    * time. That feedback amplifies host noise into the run-to-run spread
    * of the latency; 25/s spread less than 50/s (see perfbench/README.md). */
  val Rate = 25.0
  val SingleSinkMs = 5L
  /** p-single warm-up: seconds of schedule at `WarmupRate` items/s. Its
    * latency keeps falling for tens of seconds as the JIT compiles the
    * per-trigger and per-task paths; the faster warm-up rate runs more
    * tasks through them. */
  val SingleWarmupS = 12.0
  val WarmupRate = 100.0
  /** Items per measured second p-bulk's ledger has room for; a run that
    * fills it ends its window early. */
  val BulkPerS = 500000.0
  /** Distinct payload tails; a payload is `<id>|` plus a prefix of one. */
  val Tails = 4096
  /** Ids of warm-up items start here, clear of the measured ids. */
  val WarmupBase = 1L << 40
  /** Longest wait, at the end of the window, for every item to reach the
    * ledger and then for `stat().pending` to reach 0. */
  val DrainS = 20.0
}

final class PipelineRun(a: Main.Args, spark: SparkSession, tracer: Tracer, runSpan: Long)
    extends Main.Workload {
  import PipelineRun._

  private val bulk = a.workload == "p-bulk"
  private val cpus = a.cpus
  private val rnd = new java.util.SplittableRandom(a.seed)
  private val tails: Array[String] = Array.fill(Tails) {
    val chars = "abcdefghijklmnopqrstuvwxyz0123456789"
    val len = 16 + rnd.nextInt(241)
    val sb = new StringBuilder(len)
    (0 until len).foreach(_ => sb.append(chars.charAt(rnd.nextInt(chars.length))))
    sb.toString
  }

  /** A 16–256 byte payload for item `id`; the length is drawn from the seed. */
  private def payload(id: Long): String = {
    val tail = tails((id % Tails).toInt)
    val head = s"$id|"
    head + tail.substring(0, math.max(tail.length - head.length, 1))
  }

  private val streamTrace = new StreamTrace(tracer, runSpan)
  override def triggerSpan(key: (String, Long)): Option[Long] = streamTrace.spanFor(key)

  private def config(name: String) =
    if (bulk) PipelineConfig(name = name, numWorkers = cpus, maxConcurrency = cpus,
      maxBatchSize = MaxBatch, maxPendingRows = 65536, flushInterval = 1.second,
      triggerInterval = Some(100.millis))
    else PipelineConfig(name = name, numWorkers = cpus, maxConcurrency = 2,
      maxBatchSize = MaxBatch, flushInterval = 1.second, triggerInterval = Some(100.millis))

  private def pipeline(name: String): BatchPipeline[String] = {
    val latencyMs = if (bulk) 0L else SingleSinkMs
    BatchPipeline[String](spark, config(name),
      FlusherFactory(() => new LedgerSink(latencyMs)))(Encoders.STRING).start()
  }

  /** Per-item records of the measured window, appended pass by pass as
    * little-endian int64 columns: id, scheduled, put return, sink enter,
    * sink return (ns since the window began) and delivery count. */
  private val itemsFile = new File(a.work, "items.bin")
  private val out =
    new DataOutputStream(new BufferedOutputStream(new FileOutputStream(itemsFile), 1 << 20))
  private var origin = 0L
  private var windowEnd = 0L
  private def le(v: Long): Unit = out.writeLong(java.lang.Long.reverseBytes(v))

  private def dump(sched: Array[Long], putRet: Array[Long]): Unit = {
    val c = Ledger.count; val e = Ledger.enterNs; val r = Ledger.returnNs
    sched.indices.foreach { i =>
      val seen = c.get(i) > 0
      le(Ledger.base + i); le(sched(i) - origin); le(putRet(i) - origin)
      le(if (seen) e.get(i) - origin else -1); le(if (seen) r.get(i) - origin else -1)
      le(c.get(i).toLong)
    }
  }

  /** Samples `stat().pending` every 5 ms while traced. */
  private final class PendingSampler(p: BatchPipeline[String]) extends Thread("pending-sampler") {
    @volatile var min = Long.MaxValue
    @volatile var running = true
    setDaemon(true)
    override def run(): Unit = while (running) {
      min = math.min(min, p.stat().pending)
      Thread.sleep(5)
    }
  }

  private def putSpan(start: Long, end: Long, n: Int): Unit =
    if (tracer.enabled) tracer.add(Span(tracer.newId(), runSpan, "put", "core", Clock.us(start),
      Clock.us(end), Map("items" -> n)))

  /** Starts the measured window: ledger strays and in-flight peak so far
    * belong to the warm-up. */
  private def openWindow(): Unit = {
    Ledger.stray.set(0)
    Ledger.inflightMax.set(0)
    Ledger.recordCalls = true
    origin = System.nanoTime()
  }

  /** Closed loop: puts passes of `BulkPass` items through `putAll` in
    * `Slice`-item slices, with no barrier between passes, until `seconds`
    * have passed (two passes at least) or `cap` items are in. Returns per
    * item the start and return of its putAll call, and per pass its wall
    * time from the first putAll start to the last putAll return. */
  private def closedLoop(p: BatchPipeline[String], seconds: Double, from: Long, cap: Int)
      : (Array[Long], Array[Long], Vector[Double]) = {
    val sched = new Array[Long](cap)
    val putRet = new Array[Long](cap)
    val passes = Vector.newBuilder[Double]
    val t0 = System.nanoTime()
    var n = 0
    while (n + BulkPass <= cap && (n < 2 * BulkPass || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val slices = Array.tabulate(BulkPass)(i => payload(from + n + i)).grouped(Slice)
        .map(x => x.toSeq).toArray
      val p0 = System.nanoTime()
      slices.foreach { slice =>
        val s0 = System.nanoTime()
        p.putAll(slice)
        val s1 = System.nanoTime()
        java.util.Arrays.fill(sched, n, n + slice.length, s0)
        java.util.Arrays.fill(putRet, n, n + slice.length, s1)
        putSpan(s0, s1, slice.length)
        n += slice.length
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    (java.util.Arrays.copyOf(sched, n), java.util.Arrays.copyOf(putRet, n), passes.result())
  }

  private def runBulk(): Map[String, Any] = {
    // warm-up: a throwaway pipeline, so the timed one starts as a user's would
    val w0 = System.nanoTime()
    val warm = pipeline("graftbench-warmup")
    closedLoop(warm, 0, WarmupBase, 2 * BulkPass)
    warm.flush()
    warm.stop()
    val ps0 = System.nanoTime()
    val p = pipeline("graftbench")
    val ps1 = System.nanoTime()
    val warmupS = (ps0 - w0) / 1e9
    val passes = math.min(a.seconds * BulkPerS, 1 << 24) / BulkPass
    val cap = math.max(2, passes.ceil.toInt) * BulkPass
    Ledger.open(0L, cap)
    val sampler = new PendingSampler(p)
    if (a.trace) sampler.start()
    openWindow()
    val (sched, putRet, walls) = closedLoop(p, a.seconds, 0L, cap)
    val f0 = System.nanoTime()
    val st = drainAndFlush(p, sched.length)
    windowEnd = System.nanoTime()
    tracer.add(Span(tracer.newId(), runSpan, "flush", "core", Clock.us(f0), Clock.us(windowEnd)))
    dump(sched, putRet)
    finish(p, st, sampler, warmupS, (ps1 - ps0) / 1e9, (windowEnd - f0) / 1e9,
      walls.map(w => Map("items" -> BulkPass, "wall_s" -> w)), Seq.empty)
  }

  private def runSingle(): Map[String, Any] = {
    val ps0 = System.nanoTime()
    val p = pipeline("graftbench")
    val ps1 = System.nanoTime()
    // warm-up: the same open loop on the same pipeline, ledger off
    openLoop(p, SingleWarmupS, WarmupBase, WarmupRate)
    p.flush()
    val warmupS = (System.nanoTime() - ps1) / 1e9
    val sampler = new PendingSampler(p)
    if (a.trace) sampler.start()
    openWindow()
    val (sched, putRet, late) = openLoop(p, a.seconds, 0L, Rate, ledger = true)
    val f0 = System.nanoTime()
    val st = drainAndFlush(p, sched.length)
    windowEnd = System.nanoTime()
    tracer.add(Span(tracer.newId(), runSpan, "flush", "core", Clock.us(f0), Clock.us(windowEnd)))
    dump(sched, putRet)
    finish(p, st, sampler, warmupS, (ps1 - ps0) / 1e9, (windowEnd - f0) / 1e9,
      Vector(Map("items" -> sched.length, "wall_s" -> (windowEnd - origin) / 1e9)), late.toSeq)
  }

  /** Puts `rate` × `seconds` items on a seeded Poisson schedule over
    * `seconds`: a Poisson process given its count, whose arrival times are
    * sorted uniform draws, so every seed puts the same number of items.
    * Returns per item the scheduled time, the put return time and the
    * lateness. */
  private def openLoop(p: BatchPipeline[String], seconds: Double, from: Long, rate: Double,
      ledger: Boolean = false): (Array[Long], Array[Long], Array[Long]) = {
    val n = math.max(1, math.round(rate * seconds).toInt)
    val offsets = Array.fill(n)((rnd.nextDouble() * seconds * 1e9).toLong).sorted
    if (ledger) Ledger.open(from, n)
    val payloads = Array.tabulate(n)(i => payload(from + i))
    val sched = new Array[Long](n)
    val putRet = new Array[Long](n)
    val late = new Array[Long](n)
    val start = System.nanoTime() + 1000000L
    var i = 0
    while (i < n) {
      val due = start + offsets(i)
      var now = System.nanoTime()
      while (now < due) {
        if (due - now > 200000L) LockSupport.parkNanos(due - now - 100000L)
        now = System.nanoTime()
      }
      p.put(payloads(i))
      val r = System.nanoTime()
      sched(i) = due; putRet(i) = r; late(i) = now - due
      putSpan(now, r, 1)
      i += 1
    }
    (sched, putRet, late)
  }

  /** The final barrier of the window. `flush()` resets `stat().pending`
    * to 0, which would hide a leak in the counter, so this first waits
    * (for at most `DrainS`) until the ledger holds all `n` items and
    * `pending` has come down to 0, reads `stat()`, and only then flushes.
    * Returns that `stat()`; run.py fails the run if its `pending` is not 0. */
  private def drainAndFlush(p: BatchPipeline[String], n: Int): PipelineStats = {
    val deadline = System.nanoTime() + (DrainS * 1e9).toLong
    while (Ledger.delivered.get() < n && System.nanoTime() < deadline) Thread.sleep(1)
    while (p.stat().pending != 0 && System.nanoTime() < deadline) Thread.sleep(1)
    val st = p.stat()
    p.flush()
    st
  }

  private def finish(p: BatchPipeline[String], st: PipelineStats, sampler: PendingSampler,
      warmupS: Double, startS: Double, flushS: Double, passes: Vector[Map[String, Any]],
      lateNs: Seq[Long]): Map[String, Any] = {
    sampler.running = false
    if (sampler.isAlive) sampler.join()
    Ledger.recordCalls = false
    p.stop()
    out.close()
    Ledger.close()
    val calls = Ledger.calls.asScala.toVector
    Ledger.calls.clear()
    if (a.trace) {
      streamTrace.emit()
      calls.foreach(c => tracer.add(Span(tracer.newId(), runSpan, "sink", "core", Clock.us(c(0)),
        Clock.us(c(1)), Map("items" -> c(2), "worker" -> c(3)))))
    }
    spark.streams.removeListener(streamTrace)
    Map("warmup_s" -> warmupS, "pipeline_start_s" -> startS, "flush_s" -> flushS,
      "window_s" -> (windowEnd - origin) / 1e9, "passes" -> passes,
      "items_file" -> itemsFile.getName, "late_ns" -> lateNs,
      "window_us" -> Seq(Clock.us(origin), Clock.us(windowEnd)),
      "stray" -> Ledger.stray.get(), "inflight_max" -> Ledger.inflightMax.get(),
      "pending_min" -> (if (sampler.min == Long.MaxValue) None else Some(sampler.min)),
      "max_batch" -> MaxBatch,
      "stat" -> Map("itemsIn" -> st.itemsIn, "itemsFlushed" -> st.itemsFlushed,
        "batchesFlushed" -> st.batchesFlushed, "retries" -> st.retries,
        "itemsDropped" -> st.itemsDropped, "pending" -> st.pending))
  }

  def run(): Map[String, Any] = {
    if (a.trace) spark.streams.addListener(streamTrace)
    if (bulk) runBulk() else runSingle()
  }
}
