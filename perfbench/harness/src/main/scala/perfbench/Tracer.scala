package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query trace of one traced run.
  *
  * Spans form the chain query -> construct / execute -> job -> stage; each has
  * an id, a parent, a kind, a name, a start and an end (epoch milliseconds),
  * and all spans of one query carry that query's id. Spans are kept in memory
  * and written once, after the last round.
  *
  * Alongside the spans it sums, per query, the task metrics Spark reports
  * (run time, CPU, input, output, shuffle, spill), the JVM's GC time, and
  * the planning phases and rule statistics of every `QueryPlanningTracker`
  * the query produced.
  * Queries run one at a time and the listener bus is drained at the end of
  * each, so every event seen between `begin` and `end` is that query's.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Span
  private val json = new Json
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private def newId(): Int = { nextId += 1; nextId }

  private final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, inBytes, inRecords, outBytes = 0L
    var shuffleWrite, shuffleRead, spillDisk, spillMem = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var graftRuleNs, graftRulesFired = 0L
    val jobStart = mutable.Map[Int, (Int, Double)]() // job -> (span id, start)
    val jobSpans = mutable.ArrayBuffer[(Int, Int, Double, Double)]() // span, job, start, end
    val stageJob = mutable.Map[Int, Int]() // stage -> job
  }

  // current query (written by the harness thread, read by the listener
  // thread; the bus drain in `end` orders the two)
  @volatile private var acc: Acc = null
  private var querySpan, roundNo = 0
  private var queryName = ""
  private var t0, tConstructed = 0.0
  // local mode runs every task in this JVM, so the collectors' total is the
  // GC time of the query (task jvmGCTime would count a pause once per task)
  private val collectors = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs(): Long = { var t = 0L; collectors.forEach(c => t += c.getCollectionTime); t }
  private var gc0 = 0L

  private def tracked[T](f: Acc => T): Unit = {
    val a = acc
    if (a != null) a.synchronized { f(a) }
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = tracked { a =>
      a.jobs += 1
      a.jobStart(e.jobId) = (newIdSync(), e.time.toDouble)
      e.stageIds.foreach(s => a.stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = tracked { a =>
      a.jobStart.remove(e.jobId).foreach { case (id, st) =>
        a.jobSpans += ((id, e.jobId, st, e.time.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = tracked { a =>
      val si = e.stageInfo
      a.stageJob.get(si.stageId).foreach { job =>
        a.stages += 1
        val parent = a.jobStart.get(job).map(_._1)
          .orElse(a.jobSpans.find(_._2 == job).map(_._1)).getOrElse(querySpan)
        spansAdd(Span(newIdSync(), parent, querySpan, "stage", s"stage ${si.stageId}",
          si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tracked { a =>
      val m = e.taskMetrics
      if (a.stageJob.contains(e.stageId) && m != null) {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spillDisk += m.diskBytesSpilled
        a.spillMem += m.memoryBytesSpilled
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      tracked(a => planning(a, qe.tracker))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      tracked(a => planning(a, qe.tracker))
  })

  private def planning(a: Acc, t: QueryPlanningTracker): Unit = {
    val ph = t.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    a.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
    a.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
    a.planningMs += ms(QueryPlanningTracker.PLANNING)
    t.rules.foreach { case (rule, s) =>
      if (rule.startsWith("graft.")) {
        a.graftRuleNs += s.totalTimeNs
        a.graftRulesFired += s.numEffectiveInvocations
      }
    }
  }

  private def newIdSync(): Int = synchronized(newId())
  private def spansAdd(s: Span): Unit = synchronized(spans += s)

  def begin(query: String, round: Int): Unit = {
    querySpan = newIdSync()
    queryName = query
    roundNo = round
    t0 = now()
    tConstructed = t0
    gc0 = gcMs()
    acc = new Acc
  }

  /** The query's DataFrame exists: its construction-time planning (analysis,
    * and any eager checkpoint it ran) is over. */
  def constructed(df: DataFrame): Unit = {
    tConstructed = now()
    tracked(a => planning(a, df.queryExecution.tracker))
  }

  /** Closes the query's spans and returns its metrics as a JSON object. */
  def end(): String = {
    PerfbenchBus.drain(spark.sparkContext)
    val t1 = now()
    val a = acc
    acc = null
    val construct = newIdSync()
    val execute = newIdSync()
    val jobs = a.jobSpans.toSeq ++ a.jobStart.map { case (j, (id, st)) => (id, j, st, t1) }
    jobs.foreach { case (id, j, st, en) =>
      spansAdd(Span(id, if (st < tConstructed) construct else execute, querySpan, "job",
        s"job $j", st, en))
    }
    spansAdd(Span(querySpan, 0, querySpan, "query", s"$queryName#$roundNo", t0, t1))
    spansAdd(Span(construct, querySpan, querySpan, "construct", "construct", t0, tConstructed))
    spansAdd(Span(execute, querySpan, querySpan, "execute", "execute", tConstructed, t1))
    val l = (x: Long) => json.num(x)
    json.obj(
      "jobs" -> l(a.jobs), "stages" -> l(a.stages), "tasks" -> l(a.tasks),
      "run_ms" -> l(a.runMs), "cpu_ns" -> l(a.cpuNs), "gc_ms" -> l(gcMs() - gc0),
      "input_bytes" -> l(a.inBytes), "input_records" -> l(a.inRecords),
      "output_bytes" -> l(a.outBytes), "shuffle_write_bytes" -> l(a.shuffleWrite),
      "shuffle_read_bytes" -> l(a.shuffleRead), "spill_disk_bytes" -> l(a.spillDisk),
      "spill_memory_bytes" -> l(a.spillMem),
      "analysis_ms" -> l(a.analysisMs), "optimization_ms" -> l(a.optimizationMs),
      "planning_ms" -> l(a.planningMs), "graft_rule_ns" -> l(a.graftRuleNs),
      "graft_rules_fired" -> l(a.graftRulesFired), "span" -> querySpan.toString)
  }

  def spansJson(): String = synchronized {
    json.arr(spans.map(s => json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
      "query" -> s.query.toString, "kind" -> json.str(s.kind), "name" -> json.str(s.name),
      "start" -> json.num(s.start), "end" -> json.num(s.end))))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, query: Int, kind: String,
      name: String, start: Double, end: Double)
}
