package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** A workload: what one pass runs over the generated inputs, and the
  * checks that close the run. */
abstract class Workload(ctx: Main.Ctx) {
  protected val spark = ctx.spark
  /** The generated inputs, `<table>.parquet` each. */
  protected val dataDir = s"${ctx.out}/data"

  /** Set-up beyond input generation (derived corpora, stream start). */
  def setup(): Unit = ()
  def pass(warm: Boolean): Unit
  /** Untimed work after each pass: checks and clean-up. */
  def afterPass(): Unit = ()
  def finish(): Unit = ()
  /** Untimed passes before the timed ones. */
  def warmPasses: Int = 1
}

object Workloads {
  def apply(name: String, ctx: Main.Ctx): Workload = name match {
    case "batch" => new Composite(ctx, Seq(
      new QueryWorkload(ctx, Seq("graph_pagerank", "graph_bfs", "q21_salted_join", "ml_logreg")),
      new CurateWorkload(ctx)))
    case "stream_ingest" => new StreamWorkload(ctx, rows = 400)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Several workloads' operations in one pass, in order. */
final class Composite(ctx: Main.Ctx, parts: Seq[Workload]) extends Workload(ctx) {
  override def setup(): Unit = parts.foreach(_.setup())
  def pass(warm: Boolean): Unit = parts.foreach(_.pass(warm))
  override def afterPass(): Unit = parts.foreach(_.afterPass())
  override def finish(): Unit = parts.foreach(_.finish())
}

/** A fixed list of `graft.SparkEntry.queries` entries, each collected in
  * full. The warm pass also writes each result as parquet, with the
  * oracle SQL beside it, for the DuckDB replay. */
final class QueryWorkload(ctx: Main.Ctx, queries: Seq[String]) extends Workload(ctx) {

  override def setup(): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(s"${ctx.out}/oracle"))
    Files.writeString(Paths.get(s"${ctx.out}/oracle/oracle_sql.json"),
      Json.value(queries.flatMap(q => sql.get(q).map(q -> _)).toMap))
  }

  def pass(warm: Boolean): Unit = queries.foreach { q =>
    val fn = graft.SparkEntry.queries(q)
    ctx.op(q) {
      val df = fn(spark, dataDir)
      val rows = df.collect()
      if (warm) spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${ctx.out}/oracle/$q")
      (Main.digest(rows), Map("rows" -> rows.length))
    }
    ctx.clearState()
  }
}

/** `graft.llm.Pipeline.curateChain` over the generated documents and
  * embeddings, ending in a partitioned JSONL export. One operation per
  * chain stage; a stage's time runs from the previous stage's end (the
  * chain reports each stage as it finishes). */
final class CurateWorkload(ctx: Main.Ctx) extends Workload(ctx) {
  private val stageNames = Seq("curate", "bloom_decontam", "semdedup", "split_export")

  def pass(warm: Boolean): Unit = {
    val exportDir = s"${ctx.out}/export/pass${ctx.pass}"
    val ids = stageNames.map(_ => ctx.nextOpId())
    val sc = spark.sparkContext
    ctx.trace.foreach(_.current = ids.head)
    sc.setJobGroup(ids.head, s"${ctx.workload}:curate_chain")
    var marks = Vector(ctx.nowMs)
    val result = try Right(graft.llm.Pipeline.curateChain(spark, dataDir, exportDir,
        Seq("en", "und"), log = _ => {
          marks :+= ctx.nowMs
          if (marks.size <= ids.size) {
            if (ctx.tracing) ctx.trace.foreach(_.drain())
            ctx.trace.foreach(_.current = ids(marks.size - 1))
            sc.setJobGroup(ids(marks.size - 1), s"${ctx.workload}:curate_chain")
          }
        }))
      catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    ctx.endOp()
    sc.clearJobGroup()
    ctx.sampleLiveHeap()
    val survivors = result.toOption.map(_._2.map(_.survivors)).getOrElse(Seq.empty)
    stageNames.indices.foreach { i =>
      val done = i + 1 < marks.size
      val end = if (done) marks(i + 1) else marks.last
      ctx.record(stageNames(i), ids(i), marks(i).min(end), end, done && result.isRight,
        survivors.lift(i).map(_.toString).getOrElse(""), result.left.getOrElse(""),
        Map("survivors" -> survivors.lift(i).getOrElse(-1L)))
    }
    lastPass = Some((exportDir, ids, survivors))
  }

  private var lastPass: Option[(String, Seq[String], Seq[Long])] = None

  /** The export must hold exactly the semdedup survivors, each once. */
  override def afterPass(): Unit = lastPass.foreach { case (exportDir, ids, survivors) =>
    lastPass = None
    if (survivors.size == stageNames.size) {
      val exported = spark.read.json(s"$exportDir/train_set")
      val n = exported.count()
      val distinct = exported.select("doc_id").distinct().count()
      val ok = n == survivors(2) && distinct == n &&
        survivors.sliding(2).take(2).forall(s => s(0) >= s(1))
      ctx.check(s"export_rows_pass${ctx.pass}", ok,
        s"exported=$n distinct=$distinct survivors=${survivors.mkString(",")}",
        if (ok) Seq.empty else ids)
    }
    ctx.clearState()
    deleteTree(exportDir)
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
  }
}

/** A closed loop with one client: each trigger feeds a fixed-size,
  * seed-generated micro-batch to one of two long-running queries and
  * waits for it (`processAllAvailable`). The near-dup screen
  * (`EventStreams.streamingNearDups`, the minhash kernel against a static
  * corpus) and sessionize (`EventStreams.sessionize`, the state store)
  * alternate. A pass is [[triggersPerPass]] triggers. */
final class StreamWorkload(ctx: Main.Ctx, rows: Int) extends Workload(ctx) {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
  import graft.streaming.EventStreams
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  val triggersPerPass = 2
  private val t0Ms = 1704067200000L
  private def ts(minutes: Double) = new Timestamp(t0Ms + (minutes * 60000).toLong)

  private var corpusTexts: Array[(Long, String)] = _
  private var freshTexts: Array[String] = _
  private var ndMem: MemoryStream[(Long, Timestamp, String)] = _
  private var ssMem: MemoryStream[EventStreams.SessionEvent] = _
  private var nd: StreamingQuery = _
  private var ss: StreamingQuery = _
  private var batch = 0
  private val ndFed = scala.collection.mutable.ArrayBuffer.empty[(Long, Timestamp, String)]
  private val ssFed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Timestamp, Double)]
  private val ndOps = scala.collection.mutable.Map.empty[Int, String]
  private val ssOps = scala.collection.mutable.ArrayBuffer.empty[String]
  /** The pass of each trigger, per probe, in feed order. */
  private val ndPasses, ssPasses = scala.collection.mutable.ArrayBuffer.empty[Int]
  private val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private val stateParts = math.max(1, math.min(ctx.cores, rows / 2000))

  override def setup(): Unit = {
    val docs = graft.sources.Tables(spark, dataDir, "documents")
    corpusTexts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // the fresh (non-duplicate) feed texts
    freshTexts = spark.read.parquet(s"$dataDir/feed.parquet").orderBy("i")
      .select("text").collect().map(_.getString(0))
    val corpus = docs.select("doc_id", "text")
    ndMem = MemoryStream[(Long, Timestamp, String)]
    nd = EventStreams.streamingNearDups(ndMem.toDF().toDF("doc_id", "ts", "text"), corpus)
      .writeStream.format("memory").queryName("perfbench_nd")
      .option("checkpointLocation", s"${ctx.out}/ckpt/nd")
      .outputMode(OutputMode.Append()).start()
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
    ssMem = MemoryStream[EventStreams.SessionEvent]
    ss = EventStreams.sessionize(ssMem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("perfbench_ss")
      .option("checkpointLocation", s"${ctx.out}/ckpt/ss")
      .outputMode(OutputMode.Append()).start()
    spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Every trigger of a probe draws the same payload (new ids, later event
    * times), so each pass does the same work and its counters repeat. */
  private def rng(salt: Int) = new java.util.SplittableRandom(ctx.seed * 1000003L + salt)

  private def nearDupTrigger(): Unit = {
    val r = rng(1)
    val base = 100000000L + batch.toLong * rows
    val data = (0 until rows).map { i =>
      val id = base + i
      val text =
        if (i % 10 == 0) {
          val (src, t) = corpusTexts(r.nextInt(corpusTexts.length))
          planted += id -> src
          t
        } else freshTexts(r.nextInt(freshTexts.length))
      (id, ts(batch * 30.0 + r.nextDouble() * 10), text)
    }
    ndFed ++= data
    val id = ctx.nextOpId()
    ndOps(batch) = id
    ndPasses += ctx.pass
    ctx.opAs("neardup_trigger", id) {
      ndMem.addData(data: _*)
      nd.processAllAvailable()
      ("", Map("batch" -> batch))
    }
    tracePlan(nd, id)
  }

  private def sessionizeTrigger(): Unit = {
    val r = rng(2)
    val users = math.max(1, rows / 10)
    val data = (0 until rows).map { i =>
      val e = EventStreams.SessionEvent(r.nextInt(users).toLong,
        ts(batch * 120.0 + r.nextDouble() * 20), (1 + r.nextInt(50000)) / 100.0)
      ssFed += ((e.user_id, batch.toLong * rows + i, e.ts, e.value))
      e
    }
    val id = ctx.nextOpId()
    ssOps += id
    ssPasses += ctx.pass
    ctx.opAs("sessionize_trigger", id) {
      ssMem.addData(data: _*)
      ss.processAllAvailable()
      ("", Map("batch" -> batch))
    }
    tracePlan(ss, id)
  }

  /** The streaming plans keep compiling for a dozen triggers. */
  override def warmPasses: Int = 6

  /** Micro-batches do not reach the query-execution listeners; a traced
    * trigger hands its last execution to the trace directly. */
  private def tracePlan(q: StreamingQuery, op: String): Unit =
    if (ctx.tracing) ctx.trace.foreach { t =>
      import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
      Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
        .foreach(t.planned(_, op))
    }

  def pass(warm: Boolean): Unit = (0 until triggersPerPass).foreach { i =>
    batch += 1
    if (i % 2 == 0) nearDupTrigger() else sessionizeTrigger()
  }

  override def finish(): Unit = {
    // flush: two far-future events of a user outside the feed's range
    // move the watermark past every fed session, so all of them close
    val sentinel = Long.MaxValue / 2
    Seq(1, 2).foreach { k =>
      ssMem.addData(EventStreams.SessionEvent(sentinel, ts((batch + 10 * k) * 120.0), 0.0))
      ss.processAllAvailable()
    }
    progress()
    nd.stop(); ss.stop()

    // near-dup screen vs its batch twin: the same operator over the fed
    // documents as a static frame, compared trigger by trigger
    val corpus = graft.sources.Tables(spark, dataDir, "documents").select("doc_id", "text")
    val fed = ndFed.toSeq.toDF("doc_id", "ts", "text")
    def pairs(df: DataFrame): Map[Int, Set[String]] = df.collect().toSeq
      .map(r => (((r.getLong(0) - 100000000L) / rows).toInt,
        s"${r.getLong(0)}:${r.getLong(1)}:${r.get(2)}"))
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).toSet }
    val streamed = pairs(spark.table("perfbench_nd").select("new_id", "corpus_id", "jaccard"))
    val twin = pairs(graft.llm.Dedup.incrementalNearDups(fed.select("doc_id", "text"), corpus)
      .select("new_id", "corpus_id", "jaccard"))
    val plantedOk = planted.filterNot { case (id, src) =>
      streamed.values.exists(_.contains(s"$id:$src:1.0"))
    }.map(_._1).toSet
    val badNd = ndOps.collect { case (b, id)
      if streamed.getOrElse(b, Set.empty) != twin.getOrElse(b, Set.empty) ||
        plantedOk.exists(x => ((x - 100000000L) / rows).toInt == b) => id }
    ctx.check("neardup_vs_batch_twin", badNd.isEmpty,
      s"triggers=${ndOps.size} mismatched=${badNd.size} planted_missed=${plantedOk.size} " +
        s"pairs=${streamed.values.map(_.size).sum}", badNd.toSeq)

    // sessionize vs sessionizeBatch over every fed event
    val batchSessions = EventStreams.sessionizeBatch(
        ssFed.toSeq.toDF("user_id", "event_id", "ts", "value"), gapMinutes = 30)
      .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}:" +
        s"${r.getLong(3)}:${r.getDouble(4)}").toSet
    val streamSessions = spark.table("perfbench_ss").collect()
      .filter(_.getLong(0) != sentinel)
      .map(r => s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}:${r.getInt(3).toLong}:" +
        s"${math.floor(r.getDouble(4) * 1e4 + 0.5) / 1e4}").toSet
    val ssOk = batchSessions == streamSessions
    ctx.check("sessionize_vs_batch_twin", ssOk,
      s"sessions batch=${batchSessions.size} stream=${streamSessions.size} " +
        s"missing=${(batchSessions -- streamSessions).size} " +
        s"extra=${(streamSessions -- batchSessions).size}",
      if (ssOk) Seq.empty else ssOps.toSeq)
  }

  /** Per-trigger progress of both queries, for the streaming layer: the
    * k-th micro-batch that read a full trigger is the probe's k-th trigger. */
  private def progress(): Unit = {
    def perTrigger(q: StreamingQuery, probe: String, passes: Seq[Int]) = q.recentProgress.toSeq
      .filter(_.numInputRows == rows).zip(passes).map { case (p, pass) =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        Map[String, Any]("probe" -> probe, "pass" -> pass, "batch_id" -> p.batchId,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "plan_ms" -> d.getOrElse("queryPlanning", 0L),
          "addbatch_ms" -> d.getOrElse("addBatch", 0L),
          "commit_ms" -> (d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L)),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    ctx.streamProgress = perTrigger(nd, "neardup", ndPasses.toSeq) ++
      perTrigger(ss, "sessionize", ssPasses.toSeq)
  }
}
