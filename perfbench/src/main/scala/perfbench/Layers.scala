package perfbench

/** Per-layer metrics every workload shares, computed from [[Trace]]
  * after the listener bus has drained. Ops are attributed by time: the
  * loop is closed with one client, so whatever Spark ran inside an op's
  * window ran for that op. Counts (jobs, stages, tasks, bytes, file-system
  * calls, actions) are taken over the first `counted` ops, a prefix every
  * run completes, so they repeat exactly across runs of one seed; times
  * are means over every timed op. */
object Layers {
  /** File-system calls of each kind made during op `id`. */
  def fsCalls(id: Int): Array[Long] = Trace.fsAtOp.get(id) match {
    case Some(((c0, _), (c1, _))) => c0.indices.map(i => c1(i) - c0(i)).toArray
    case None => Array.fill(CountingLocalFs.names.size)(0L)
  }

  def bytesWritten(id: Int): Long =
    Trace.fsAtOp.get(id).map { case ((_, b0), (_, b1)) => b1 - b0 }.getOrElse(0L)

  val modules = Seq("io", "ops", "sources", "queries", "text", "functions",
    "streaming", "multimodal", "jobs")

  def generic(counted: Int, cores: Int): Map[String, Double] = {
    import Trace._
    val all = ops.toSeq
    val n = all.size.toDouble
    val head = all.take(counted)
    val nHead = head.size.toDouble
    def inOp(o: Op, t: Double) = t >= o.t0 && t <= o.t1
    val jobsOf: Map[Int, Seq[Job]] = all.map(o => o.id -> jobs.toSeq.filter(j => inOp(o, j.start))).toMap
    val stageToJob: Map[Int, Job] = jobs.toSeq.flatMap(j => j.stages.map(_ -> j)).toMap
    val tasksOfJob: Map[Int, Seq[Task]] = tasks.toSeq.groupBy(t => stageToJob.get(t.stage).map(_.id).getOrElse(-1))
    def opTasks(o: Op): Seq[Task] = jobsOf(o.id).flatMap(j => tasksOfJob.getOrElse(j.id, Nil))
    val doneStages = stagesDone.toSet
    def inJob(o: Op): Double =
      Stats.unionLength(jobs.toSeq.map(j => (j.start, if (j.end.isNaN) o.t1 else j.end)), o.t0, o.t1) / 1000.0
    val inJobS = all.map(inJob)
    val qeOf: Map[Int, Seq[Qe]] = all.map(o => o.id -> qes.toSeq.filter(q => inOp(o, q.start))).toMap
    def perHead(f: Op => Double) = Stats.ratio(head.map(f).sum, nHead)
    def perOp(f: Op => Double) = Stats.ratio(all.map(f).sum, n)
    val taskRun = all.map(o => opTasks(o).map(_.runMs).sum / 1000.0)

    val fs: Map[String, Double] =
      CountingLocalFs.names.indices.map(i =>
        s"io.fs_calls.${CountingLocalFs.names(i)}" -> perHead(o => fsCalls(o.id)(i))).toMap +
        ("io.bytes_written" -> perHead(o => bytesWritten(o.id)))

    Map(
      "exec.jobs" -> perHead(o => jobsOf(o.id).size),
      "exec.stages" -> perHead(o => jobsOf(o.id).flatMap(_.stages).count(doneStages)),
      "exec.tasks" -> perHead(o => opTasks(o).size),
      "exec.input_bytes" -> perHead(o => opTasks(o).map(_.inputBytes).sum),
      "exec.shuffle_bytes" -> perHead(o => opTasks(o).map(_.shuffleBytes).sum),
      "exec.spill_bytes" -> perHead(o => opTasks(o).map(_.spillBytes).sum),
      "exec.task_run_s" -> Stats.ratio(taskRun.sum, n),
      "exec.task_cpu_s" -> perOp(o => opTasks(o).map(_.cpuNs).sum / 1e9),
      "exec.utilization" -> Stats.ratio(taskRun.sum, inJobS.sum * cores),
      "exec.in_job_s" -> Stats.ratio(inJobS.sum, n),
      "driver.only_s" -> Stats.ratio(all.map(_.wall).sum - inJobS.sum, n),
      "catalyst.analysis_s" -> perOp(o => qeOf(o.id).map(_.analysisMs).sum / 1000.0),
      "catalyst.optimization_s" -> perOp(o => qeOf(o.id).map(_.optimizationMs).sum / 1000.0),
      "catalyst.planning_s" -> perOp(o => qeOf(o.id).map(_.planningMs).sum / 1000.0),
      "catalyst.actions" -> perHead(o => qeOf(o.id).size),
    ) ++ modules.map(m => s"exec.task_run_s.$m" ->
      perOp(o => jobsOf(o.id).filter(_.module == m).flatMap(j => tasksOfJob.getOrElse(j.id, Nil))
        .map(_.runMs).sum / 1000.0)) ++ fs
  }
}
