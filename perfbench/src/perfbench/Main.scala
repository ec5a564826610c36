package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run in one JVM: set up, the untimed warm-up passes, then
  * timed passes until the time budget is spent. Writes raw records for
  * `perfbench/run.py`, which checks them and computes the metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <outDir> <cores>
  */
object Main {

  final class Ctx(val spark: SparkSession, val workload: String,
      val seed: Long, val out: String, val cores: Int, traceOn: Boolean) {
    private val baseNs = System.nanoTime()
    private val baseMs = System.currentTimeMillis().toDouble
    /** Wall clock in epoch milliseconds at nanosecond resolution. */
    def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

    val trace: Option[Trace] =
      if (traceOn) Some(new Trace(spark.sparkContext)) else None
    /** The listeners are attached for the timed passes only. */
    var tracing = false
    val spans = new Spans
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    var pass = -1
    private var seq = 0

    /** Run one operation under its own job group; `body` returns the
      * result digest and any extra fields for the record. An exception
      * marks the operation failed. */
    def op(name: String)(body: => (String, Map[String, Any])): Boolean =
      opAs(name, nextOpId())(body)

    def opAs(name: String, id: String)(body: => (String, Map[String, Any])): Boolean = {
      val sc = spark.sparkContext
      trace.foreach(_.current = id)
      sc.setJobGroup(id, s"$workload:$name")
      val t0 = nowMs
      val (ok, digest, err, extra) =
        try { val (d, x) = body; (true, d, "", x) }
        catch { case e: Throwable =>
          (false, "", s"${e.getClass.getName}: ${e.getMessage}".take(500), Map.empty[String, Any])
        }
      val t1 = nowMs
      endOp()
      sc.clearJobGroup()
      sampleLiveHeap()
      record(name, id, t0, t1, ok, digest, err, extra)
      ok
    }

    /** Peak of the heap in use after a full collection, taken right
      * after each operation of the last warm-up pass returns and before
      * anything it cached or persisted is dropped: the memory graft holds
      * on to, which the fixed-size heap hides from the process RSS. Only
      * traced runs sample, in the untimed warm-up, so the collections
      * cost no timed pass. */
    var liveHeapMb = 0.0
    var sampling = false
    def sampleLiveHeap(): Unit = if (sampling) {
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      liveHeapMb = math.max(liveHeapMb, used / 1048576.0)
    }

    /** Close the current operation's attribution: wait until the listener
      * bus has delivered its events, then tag nothing until the next
      * operation, so checks and clean-up between operations are not
      * charged to any of them. */
    def endOp(): Unit = trace.foreach { t =>
      if (tracing) t.drain()
      t.current = ""
    }

    def record(name: String, id: String, t0: Double, t1: Double, ok: Boolean,
        digest: String, err: String, extra: Map[String, Any]): Unit = {
      ops += (Map[String, Any]("pass" -> pass, "name" -> name, "id" -> id,
        "start_ms" -> t0, "end_ms" -> t1, "ok" -> ok, "digest" -> digest,
        "err" -> err) ++ extra)
    }

    def nextOpId(): String = { seq += 1; s"op$seq" }

    /** A workload-level correctness check; `failedOps` are the ids of the
      * operations it shows wrong. */
    def check(name: String, ok: Boolean, detail: String, failedOps: Seq[String]): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.take(500),
        "failed_ops" -> failedOps)

    var streamProgress: Seq[Map[String, Any]] = Seq.empty

    /** Drop what one operation cached, so operations never subsidize
      * each other: Spark caches, persisted RDDs and graft's driver-side
      * memo when the engine has one. */
    def clearState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      try {
        val memo = Class.forName("graft.core.QueryCache$")
        val inst = memo.getField("MODULE$").get(null)
        memo.getMethod("clear").invoke(inst)
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => }
    }
  }

  /** Order-insensitive digest of collected rows (the oracle compare is
    * order-insensitive too). */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  def session(cores: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$out/tmp")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, out, coresS) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val seconds = secondsS.toDouble
    val cores = coresS.toInt
    Files.createDirectories(Paths.get(out))
    val spark = session(cores, out)
    val ctx = new Ctx(spark, workload, seedS.toLong, out, cores, traceS == "1")
    val w = Workloads(workload, ctx)
    val sessionMs = ctx.nowMs

    w.setup()
    val setupMs = ctx.nowMs

    ctx.pass = 0
    (0 until w.warmPasses).foreach { i =>
      ctx.sampling = ctx.trace.isDefined && i == w.warmPasses - 1
      w.pass(warm = i == 0)
      ctx.sampling = false
      w.afterPass()
    }
    val warmMs = ctx.nowMs

    // timed passes, at least one; a traced run traces all of them
    ctx.trace.foreach { t =>
      ctx.tracing = true
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = ctx.nowMs
    val firstTimedMs = t0
    var p = 0
    while (p == 0 || ctx.nowMs - t0 < seconds * 1000) {
      p += 1
      ctx.pass = p
      val c0 = processCpuS()
      val s = ctx.nowMs
      w.pass(warm = false)
      val e = ctx.nowMs
      val cpu = processCpuS() - c0
      passes += Map("idx" -> p, "traced" -> ctx.tracing, "start_ms" -> s,
        "end_ms" -> e, "cpu_s" -> cpu)
      w.afterPass()
    }
    val endMs = ctx.nowMs
    w.finish()
    ctx.trace.foreach(_.drain())

    val raw = Map[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "cores" -> cores,
      "trace" -> ctx.trace.isDefined,
      "setup" -> Map("jvm_start_ms" -> jvmStartMs, "session_ms" -> sessionMs,
        "setup_ms" -> setupMs, "warm_ms" -> warmMs,
        "first_timed_ms" -> firstTimedMs, "end_ms" -> endMs),
      "passes" -> passes.toSeq, "ops" -> ctx.ops.toSeq,
      "checks" -> ctx.checks.toSeq,
      "stream_progress" -> ctx.streamProgress,
      "live_heap_mb" -> ctx.liveHeapMb)
    Files.writeString(Paths.get(s"$out/raw.json"), Json.value(raw))
    ctx.trace.foreach(t => TraceOut.write(ctx, t, passes.toSeq, s"$out/trace.json"))
    spark.stop()
  }
}
