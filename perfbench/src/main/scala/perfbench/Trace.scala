package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of a run. Timed ops are always recorded (they give
  * the end-to-end metrics); spans, Spark events and file-system counts
  * only in a traced run. Times are epoch milliseconds as doubles, the
  * clock Spark's listener events use. Everything is written out once,
  * at exit. */
object Trace {
  final case class Op(id: Int, kind: String, t0: Double, t1: Double, ok: Boolean) {
    def wall: Double = (t1 - t0) / 1000.0
  }
  final case class Span(op: Int, layer: String, name: String, t0: Double, t1: Double) {
    def secs: Double = (t1 - t0) / 1000.0
  }
  final case class Job(id: Int, start: Double, var end: Double, site: String, stages: Seq[Int]) {
    def module: String = moduleOfCallSite(site)
  }
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, inputBytes: Long,
      shuffleBytes: Long, spillBytes: Long)
  final case class Qe(start: Double, analysisMs: Long, optimizationMs: Long, planningMs: Long)

  @volatile var traced = false
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  val jobs = ArrayBuffer[Job]()
  val tasks = ArrayBuffer[Task]()
  val stagesDone = ArrayBuffer[Int]()
  val qes = ArrayBuffer[Qe]()
  /** File-system call counts (see [[CountingLocalFs]]) and bytes
    * written through Hadoop's `file` scheme, at each op's start and end. */
  val fsAtOp = scala.collection.mutable.Map[Int, ((Array[Long], Long), (Array[Long], Long))]()

  private var currentOp = -1

  def fsNow(): (Array[Long], Long) = {
    import scala.jdk.CollectionConverters._
    val written = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    (CountingLocalFs.snapshot(), written)
  }

  /** Time one op of the closed loop: only `body` is timed; `check`
    * then judges its result outside the timed region. A body that throws
    * or a result that fails its check counts as a failed op. */
  def op[T](kind: String)(body: => T)(check: T => Boolean): Boolean = {
    val id = ops.size
    currentOp = id
    val fs0 = if (traced) fsNow() else null
    val t0 = now()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = now()
    if (traced) fsAtOp(id) = (fs0, fsNow())
    val ok = result match {
      case Right(r) =>
        try check(r) catch { case e: Throwable =>
          System.err.println(s"perfbench: op $id ($kind) check failed: $e"); false
        }
      case Left(e) =>
        System.err.println(s"perfbench: op $id ($kind) failed: $e"); false
    }
    ops.synchronized { ops += Op(id, kind, t0, t1, ok) }
    currentOp = -1
    ok
  }

  /** Time a call into one of the program's layers from the benchmark's
    * own code; a no-op wrapper when the run is not traced. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!traced) body
    else {
      val t0 = now()
      try body finally {
        val t1 = now()
        spans.synchronized { spans += Span(currentOp, layer, name, t0, t1) }
      }
    }

  /** Source file name → program module, filled from the checkout's
    * source tree so `callSite.short` ("csv at Csv.scala:24") can be
    * attributed. */
  @volatile var moduleOfFile: Map[String, String] = Map.empty

  def moduleOfCallSite(short: String): String = {
    val at = short.lastIndexOf(" at ")
    val file = (if (at >= 0) short.substring(at + 4) else short).takeWhile(_ != ':')
    moduleOfFile.getOrElse(file, "other")
  }
}

/** Records jobs (interval, call-site module, stages), finished stages
  * and task metrics. Registered through `spark.extraListeners`. */
class TraceListener(conf: SparkConf) extends SparkListener {
  import Trace._
  private val open = scala.collection.concurrent.TrieMap[Int, Job]()
  /** SQL execution id → the call site of the action that started it. */
  private val execSites = scala.collection.concurrent.TrieMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // a stage's name is its job's short call site, e.g. "csv at Csv.scala:24";
    // jobs Spark starts from its own threads (adaptive query stages) take
    // the call site of the SQL execution they belong to
    val own = prop("callSite.short")
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    val site = if (moduleOfCallSite(own) != "other") own
      else prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong)).getOrElse(own)
    val j = Job(e.jobId, e.time.toDouble, Double.NaN, site, e.stageIds)
    open.put(e.jobId, j)
    jobs.synchronized { jobs += j }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    open.remove(e.jobId).foreach(_.end = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.synchronized { stagesDone += e.stageInfo.stageId }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.synchronized {
      tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Records Catalyst's phase timings per action. Registered through
  * `spark.sql.queryExecutionListeners`. */
class TraceQeListener extends QueryExecutionListener {
  import Trace._
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    qes.synchronized { qes += Qe(start, ms("analysis"), ms("optimization"), ms("planning")) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
