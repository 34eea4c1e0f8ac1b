package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Task totals of the Spark jobs run under one job group. */
final case class Work(jobs: Long = 0, cpuS: Double = 0, shuffleBytes: Long = 0,
    shuffleBlocks: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, cpuS + o.cpuS, shuffleBytes + o.shuffleBytes,
    shuffleBlocks + o.shuffleBlocks)
  def -(o: Work): Work = Work(jobs - o.jobs, cpuS - o.cpuS, shuffleBytes - o.shuffleBytes,
    shuffleBlocks - o.shuffleBlocks)
}

/** A layer boundary crossed by one traced run: start and end in
  * nanoseconds since the tracer was made. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** One cumulative-prefix materialization: the job up to and including a
  * layer, written to the noop sink. */
final case class Prefix(wallS: Double, work: Work, rows: Long, observed: Map[String, Long],
    joinRows: Long)

/** In-memory tracing for the benchmark's own calls into the program:
  * spans around each public call, job groups that attribute Spark task
  * metrics to those calls, and prefix materializations that split one
  * action's time among the layers it runs. Nothing inside the program is
  * instrumented. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private var run = 0

  private val byGroup = mutable.Map.empty[String, Work]
  private val stageGroup = mutable.Map.empty[Int, String]
  private var lastQe: QueryExecution = _

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = byGroup.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      byGroup(g) = byGroup.getOrElse(g, Work()).copy(jobs = byGroup.getOrElse(g, Work()).jobs + 1)
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = byGroup.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val g = stageGroup.getOrElse(e.stageId, "")
        val r = m.shuffleReadMetrics
        byGroup(g) = byGroup.getOrElse(g, Work()) + Work(0, m.executorCpuTime / 1e9,
          m.shuffleWriteMetrics.bytesWritten, r.localBlocksFetched + r.remoteBlocksFetched)
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = lastQe = qe
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def nextRun(): Int = { run += 1; run }

  /** Run `f` under job group `group`; its jobs and task totals are then
    * available from [[work]]. */
  def inGroup[T](group: String)(f: => T): T = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  def work(group: String): Work = {
    PerfbenchBus.drain(sc)
    byGroup.synchronized(byGroup.getOrElse(group, Work()))
  }

  /** Time `f` as a span named `name`, nested in the innermost open span,
    * with its Spark jobs in job group `group` (the span name when absent). */
  def span[T](name: String, group: String = null)(f: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val t0 = System.nanoTime()
    val r = try inGroup(Option(group).getOrElse(name))(f) finally open.pop()
    val s = Span(id, name, t0 - origin, System.nanoTime() - origin, parent, run)
    spans += s
    (r, s)
  }

  /** Write `df` to the noop sink under `group`, counting its rows and
    * evaluating `observe` (name → per-row 0/1 or count column, summed). */
  def materialize(df: DataFrame, group: String, observe: Seq[(String, Column)] = Nil): Prefix = {
    val obs = Observation(group)
    val aggs = count(lit(1)).as("__rows") +:
      observe.map { case (n, c) => sum(c.cast("long")).as(n) }
    val observed = df.observe(obs, aggs.head, aggs.tail: _*)
    val (_, s) = span(s"prefix:$group", group) {
      observed.write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    PerfbenchBus.drain(sc)
    Prefix(s.seconds, work(group), m("__rows").asInstanceOf[Long],
      observe.map { case (n, _) => n -> Option(m(n)).map(_.asInstanceOf[Long]).getOrElse(0L) }.toMap,
      Option(lastQe).map(q => Tracer.joinRows(q.executedPlan)).getOrElse(0L))
  }

  def spansJson: String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
      s""""parent":${s.parent},"run":${s.run}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Rows output by every join operator of an executed plan. */
  def joinRows(p: SparkPlan): Long = {
    val here =
      if (p.nodeName.contains("Join")) p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      else 0L
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children
    }
    here + kids.map(joinRows).sum
  }
}
