package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

object Trace {
  val JobGroup = "spark.jobGroup.id"
  val JobDescription = "spark.job.description"
}

/** One traced call into a layer: `layer` is the graft module the call
  * enters, `parent` the enclosing span (0 at the top). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into graft's public layer functions.
  * Spans are kept in memory and written out at the end. While a span is
  * open, its layer is the Spark job group of the calling thread, so the
  * [[LayerListener]] charges the jobs it runs to that layer. */
final class Tracer(sc: SparkContext, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](layer: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = open.get.headOption.getOrElse(0)
    val prevGroup = sc.getLocalProperty(Trace.JobGroup)
    val prevDesc = sc.getLocalProperty(Trace.JobDescription)
    sc.setJobGroup(layer, name)
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      spans.synchronized { spans += Span(id, parent, layer, name, t0, t1, runId) }
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.seconds)

  /** Σ per key of each span's time minus the time its child spans cover. */
  private def selfBy(spans: Seq[Span], key: Span => String): Map[String, Double] = {
    val childTime = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(key).map { case (k, ss) =>
      k -> ss.map(x => x.seconds - childTime.getOrElse(x.id, 0.0)).sum
    }
  }

  /** Self seconds per layer. */
  def selfSeconds: Map[String, Double] = selfBy(all, _.layer)

  /** Self seconds of one layer's spans, by span name. */
  def selfByName(layer: String): Map[String, Double] = selfBy(all.filter(_.layer == layer), _.name)

  def writeJson(path: String): Unit = {
    val body = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":"${s.runId}"}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

/** Spark task counts per job group (= per layer while tracing). */
final class LayerListener extends SparkListener {
  final class Counts {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
  }
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup: mutable.Map[String, Counts] = mutable.Map.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.JobGroup)))
    g.foreach { group =>
      byGroup.getOrElseUpdate(group, new Counts).jobs += 1
      e.stageIds.foreach(stageGroup(_) = group)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (group <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = byGroup.getOrElseUpdate(group, new Counts)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
    }
  }
}

/** Plan guard: records the physical operators of every SQL execution the
  * benchmark tagged with a `guard:<call>` job description, including the
  * adaptive final plan, so each timed action can be checked to still run
  * the Window / Aggregate operators its workload asks for (a plan pruned
  * down to a row count has neither). */
final class PlanGuard extends SparkListener {
  private val execCall = mutable.Map.empty[Long, String]
  private val nodes = mutable.Map.empty[(String, Long), Set[String]]
  private val expected = mutable.LinkedHashMap.empty[String, Set[String]]
  private val calls = new AtomicInteger(0)

  private def names(p: SparkPlanInfo): Set[String] =
    p.children.flatMap(names).toSet + p.nodeName

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart if s.description != null &&
          s.description.startsWith("guard:") =>
        execCall(s.executionId) = s.description
        nodes((s.description, s.executionId)) = names(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate if execCall.contains(u.executionId) =>
        val k = (execCall(u.executionId), u.executionId)
        nodes(k) = nodes.getOrElse(k, Set.empty) ++ names(u.sparkPlanInfo)
      case _ =>
    }
  }

  /** Run `action` tagged as one guarded call that must show `expect`
    * (operator kinds: "Window", "Aggregate"). */
  def apply[T](sc: SparkContext, name: String, expect: Set[String])(action: => T): T = {
    val call = s"guard:$name#${calls.incrementAndGet()}"
    synchronized { expected(call) = expect }
    val prev = sc.getLocalProperty(Trace.JobDescription)
    sc.setJobDescription(call)
    try action finally sc.setJobDescription(prev)
  }

  private def kinds(ns: Set[String]): Set[String] = ns.collect {
    case "Window" => "Window"
    case "HashAggregate" | "ObjectHashAggregate" | "SortAggregate" => "Aggregate"
  }

  /** (guarded calls, failures as "call: missing kinds") — call after the
    * listener bus has drained. */
  def verdict: (Int, Seq[String]) = synchronized {
    val fails = expected.toSeq.flatMap { case (call, want) =>
      val seen = kinds(nodes.collect { case ((c, _), ns) if c == call => ns }.flatten.toSet)
      val missing = want -- seen
      if (missing.isEmpty) None else Some(s"${call.stripPrefix("guard:")}: no ${missing.mkString("/")}")
    }
    (expected.size, fails)
  }
}
