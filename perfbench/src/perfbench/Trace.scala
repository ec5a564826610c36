package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side event capture for the traced run. Every event is tagged
  * with the operation (operator call or trigger) that was current when
  * the listener bus delivered it; the caller [[drain]]s after each
  * operation and then clears [[current]], which makes that tag exact.
  * Events that arrive while no operation is current (checks, clean-up)
  * are dropped. Jobs also keep their job group, which is how the
  * caller's operation id (or a stream's run id) reaches the scheduler. */
final class Trace(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Trace._
  @volatile var current: String = ""

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  /** (op, rdd id) -> block id -> stored bytes. */
  val blocks = new java.util.concurrent.ConcurrentHashMap[(String, Int),
    java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]()

  /** Wait until every posted event has reached the listeners. The bus is
    * internal to Spark, so it is reached reflectively. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = tagged { op =>
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, op, group, e.time, stages = e.stageIds))
  }

  /** Runs `f` with the current operation, unless there is none. */
  private def tagged(f: String => Unit): Unit = {
    val op = current
    if (op.nonEmpty) f(op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = tagged { op =>
    val s = e.stageInfo
    stages.add(Stage(s.stageId, s.attemptNumber(), op, s.name,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
      s.numTasks, s.failureReason.isDefined))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tagged { op =>
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m == null)
      tasks.add(Task(op, e.stageId, i.launchTime, i.finishTime,
        i.successful, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    else {
      val r = m.shuffleReadMetrics
      tasks.add(Task(op, e.stageId, i.launchTime, i.finishTime,
        i.successful, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        r.remoteBytesRead + r.localBytesRead, r.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = tagged { op =>
    val b = e.blockUpdatedInfo
    b.blockId.asRDDId.foreach { rid =>
      val size = b.memSize + b.diskSize
      if (b.storageLevel.isValid && size > 0)
        blocks.computeIfAbsent((op, rid.rddId),
          _ => new java.util.concurrent.ConcurrentHashMap())
          .merge(b.blockId.name, size, (a, c) => math.max(a, c))
    }
  }

  def planned(qe: QueryExecution, op: String): Unit = if (op.nonEmpty) {
    val ph = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum
    plans.add(Plan(op, ms, Trace.nativeNodes(qe.executedPlan)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe, current)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    planned(qe, current)

  /** Per-operation checkpoint/persist footprint: (rdds, bytes). */
  def persisted(op: String): (Int, Long) = {
    val mine = blocks.asScala.filter(_._1._1 == op)
    (mine.size, mine.values.map(_.values.asScala.map(_.longValue).sum).sum)
  }
}

object Trace {
  final case class Job(id: Int, op: String, group: String, start: Long,
      var end: Long = 0L, var ok: Boolean = true, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, op: String, name: String,
      submitted: Long, completed: Long, tasks: Int, failed: Boolean)
  final case class Task(op: String, stage: Int, launch: Long, finish: Long,
      ok: Boolean, runMs: Long, cpuNs: Long, gcMs: Long, shWrite: Long,
      shRead: Long, fetchWaitMs: Long, spill: Long, input: Long, output: Long)
  final case class Plan(op: String, planMs: Long, nativeNodes: Int)

  /** Physical nodes that are graft's own, or that evaluate one of graft's
    * expressions (the native kernels and the TopK join). */
  def nativeNodes(plan: SparkPlan): Int = {
    def graftClass(o: AnyRef) = o.getClass.getName.startsWith("graft.")
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ =>
        val own = if (graftClass(p) ||
          p.expressions.exists(_.find(e => graftClass(e)).isDefined)) 1 else 0
        own + (p.children ++ p.subqueries).map(walk).sum
    }
    walk(plan)
  }
}

/** In-memory span tree (workload → pass → operation → job → stage),
  * written out as JSON lines at the end of the run. */
final class Spans {
  private val rows = mutable.ArrayBuffer.empty[String]
  def add(kind: String, id: String, parent: String, name: String,
      startMs: Double, endMs: Double, attrs: (String, Any)*): Unit = {
    val extra = attrs.map { case (k, v) => s",${Json.str(k)}:${Json.value(v)}" }.mkString
    rows += s"""{"kind":${Json.str(kind)},"id":${Json.str(id)},"parent":${Json.str(parent)},""" +
      s""""name":${Json.str(name)},"start_ms":$startMs,"end_ms":$endMs$extra}"""
  }
  def write(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      rows.map(_ + "\n").mkString)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** Folds the captured events into per-operation counters and the span
  * tree, for the traced passes only. */
object TraceOut {
  def write(ctx: Main.Ctx, t: Trace, passes: Seq[Map[String, Any]], path: String): Unit = {
    val traced = passes.filter(_("traced") == true)
    val passOf: Map[String, Int] = ctx.ops.iterator
      .map(o => o("id").asInstanceOf[String] -> o("pass").asInstanceOf[Int]).toMap
    val tracedPasses = traced.map(_("idx").asInstanceOf[Int]).toSet
    def inTraced(op: String) = passOf.get(op).exists(tracedPasses)

    val tasks = t.tasks.asScala.toSeq.filter(x => inTraced(x.op))
    val stages = t.stages.asScala.toSeq.filter(x => inTraced(x.op))
    val jobs = t.jobs.values.asScala.toSeq.filter(x => inTraced(x.op))
    val plans = t.plans.asScala.toSeq.filter(x => inTraced(x.op))

    val perOp = ctx.ops.filter(o => inTraced(o("id").asInstanceOf[String])).map { o =>
      val id = o("id").asInstanceOf[String]
      val ts = tasks.filter(_.op == id)
      val (rdds, bytes) = t.persisted(id)
      Map[String, Any]("id" -> id, "name" -> o("name"), "pass" -> o("pass"),
        "jobs" -> jobs.count(_.op == id), "stages" -> stages.count(_.op == id),
        "tasks" -> ts.size, "failed_tasks" -> ts.count(!_.ok),
        "run_ms" -> ts.map(_.runMs).sum, "cpu_ns" -> ts.map(_.cpuNs).sum,
        "gc_ms" -> ts.map(_.gcMs).sum, "shuffle_write" -> ts.map(_.shWrite).sum,
        "shuffle_read" -> ts.map(_.shRead).sum,
        "fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum, "spill" -> ts.map(_.spill).sum,
        "input" -> ts.map(_.input).sum, "output" -> ts.map(_.output).sum,
        "plan_ms" -> plans.filter(_.op == id).map(_.planMs).sum,
        "native_nodes" -> plans.filter(_.op == id).map(_.nativeNodes).sum,
        "persisted_rdds" -> rdds, "persisted_bytes" -> bytes)
    }
    val taskIntervals = traced.map { p =>
      val idx = p("idx").asInstanceOf[Int]
      Map("pass" -> idx, "intervals" -> tasks.filter(x => passOf(x.op) == idx)
        .map(x => Seq(x.launch, x.finish)))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json.value(Map(
      "ops" -> perOp.toSeq, "tasks" -> taskIntervals)))

    // span tree: workload -> pass -> operation -> job -> stage
    val s = ctx.spans
    if (traced.nonEmpty) {
      val w0 = traced.map(_("start_ms").asInstanceOf[Double]).min
      val w1 = traced.map(_("end_ms").asInstanceOf[Double]).max
      s.add("workload", "w", "", ctx.workload, w0, w1, "seed" -> ctx.seed)
    }
    traced.foreach { p =>
      s.add("pass", s"p${p("idx")}", "w", s"pass ${p("idx")}",
        p("start_ms").asInstanceOf[Double], p("end_ms").asInstanceOf[Double])
    }
    ctx.ops.filter(o => inTraced(o("id").asInstanceOf[String])).foreach { o =>
      s.add("op", o("id").asInstanceOf[String], s"p${o("pass")}",
        o("name").asInstanceOf[String], o("start_ms").asInstanceOf[Double],
        o("end_ms").asInstanceOf[Double], "ok" -> o("ok"))
    }
    val jobOfStage = jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    jobs.sortBy(_.id).foreach { j =>
      s.add("job", s"j${j.id}", j.op, s"job ${j.id}", j.start.toDouble,
        j.end.toDouble, "group" -> j.group, "ok" -> j.ok)
    }
    stages.sortBy(x => (x.id, x.attempt)).foreach { st =>
      val parent = jobOfStage.get(st.id).map(j => s"j$j").getOrElse(st.op)
      s.add("stage", s"s${st.id}.${st.attempt}", parent, st.name,
        st.submitted.toDouble, st.completed.toDouble, "tasks" -> st.tasks,
        "failed" -> st.failed)
    }
    s.write(path.replace("trace.json", "spans.jsonl"))
  }
}
