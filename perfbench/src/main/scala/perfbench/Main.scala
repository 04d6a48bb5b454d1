package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it, writes the seeded
  * inputs and starts it as
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --inputs <dir> --work <dir> --src <checkout> --cores <n> --spans <file>
  * }}}
  * It sets up, runs one client's closed loop of checked ops for the given
  * seconds, and prints one `PERFBENCH_RESULT {...}` line. */
object Main {
  /** Per-layer metric names in the order BENCHMARK.json lists them; a
    * workload that does not exercise a layer reports 0 for it. */
  val perLayer: Seq[String] = Seq(
    "jobs.request_p50_s", "jobs.overhead_p50_s", "jobs.latency_drift",
    "io.csv_read_s", "io.csv_write_s") ++
    CountingLocalFs.names.map(n => s"io.fs_calls.$n") ++ Seq(
    "io.bytes_written", "io.tmp_dirs_left",
    "ops.pipeline_build_s") ++
    LakeRw.opKinds.map(k => s"ops.${k}_p50_s") ++ Seq(
    "ops.fs_calls_per_commit", "ops.jobs_per_commit",
    "ops.write_bytes_per_user_byte", "ops.bytes_stored_per_user_byte",
    "ops.live_files", "ops.dv_files", "ops.scan_rows_per_s",
    "sources.scan_rows_per_s", "sources.sql_read_p50_s", "sources.sql_dml_p50_s",
    "queries.construct_s") ++
    RegistryMix.families.map(f => s"family.${f}_s") ++ Seq(
    "queries.memo_build_s", "queries.cached_left",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s", "catalyst.actions",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.input_bytes", "exec.shuffle_bytes", "exec.spill_bytes", "exec.utilization") ++
    Layers.modules.map(m => s"exec.task_run_s.$m") ++ Seq(
    "exec.in_job_s", "driver.only_s", "exec.storage_mb_end",
    "host.load_1m", "trace.throughput_ops_s")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(work: Path, cores: Int, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.catalog.lake", "graft.sources.LakeCatalog")
    val s = (if (!traced) b else b
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .config("spark.extraListeners", classOf[TraceListener].getName)
      .config("spark.sql.queryExecutionListeners", classOf[TraceQeListener].getName))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (traced) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        s.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingLocalFs], s"file: resolves to ${fs.getClass}, not the counting FS")
    }
    s
  }

  /** Source file name → module, from the checkout's source tree. */
  private def moduleMap(src: Path): Map[String, String] = {
    val root = src.resolve("src/main/scala/graft")
    val prog = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).map { p =>
      val rel = root.relativize(p)
      p.getFileName.toString -> (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
    }.toMap
    val bench = Files.walk(src.resolve("perfbench/src")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(_.getFileName.toString -> "perfbench").toMap
    prog ++ bench
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(args: Array[String]): Unit = {
    // The program's job server keeps non-daemon threads alive, so the
    // run ends the JVM itself once the result line is out.
    val rc = try { run(args); 0 } catch { case e: Throwable =>
      System.err.println(s"perfbench: run failed: $e")
      e.printStackTrace()
      1
    }
    System.out.flush()
    System.exit(rc)
  }

  private def run(args: Array[String]): Unit = {
    val t0 = Trace.now()
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val inputs = Paths.get(arg(args, "inputs"))
    val work = Paths.get(arg(args, "work"))
    val cores = arg(args, "cores").toInt
    Trace.traced = traced
    val src = Paths.get(arg(args, "src"))
    Trace.moduleOfFile = moduleMap(src)

    val spark = session(work, cores, traced)
    val sessionS = (Trace.now() - t0) / 1000.0
    val w: Workload = workload match {
      case "report_jobs" => new ReportJobs(spark, inputs, work, src, seed)
      case "registry_mix" => new RegistryMix(spark, inputs, src.resolve("perfbench"), seed)
      case "lake_rw" => new LakeRw(spark, work, seed)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val loop0 = Trace.now()
    val setupS = (loop0 - t0) / 1000.0

    // at least the counted prefix, so every run's counts cover the same ops
    var i = 0
    while (Trace.now() - loop0 < seconds * 1000.0 || i < w.countedOps) { w.runOp(i); i += 1 }
    val end = w.endCheck()
    if (traced) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

    val ops = Trace.ops.toSeq
    val walls = ops.map(_.wall)
    val attempted = ops.size + end.size
    val failed = ops.count(!_.ok) + end.count(!_)
    val throughput = Stats.ratio(ops.count(_.ok), walls.sum)
    // the cycle the time limit cut short still counts in attempted,
    // failed and throughput, but not in the percentiles
    val whole = if (walls.size < w.cycle) walls else walls.take(walls.size / w.cycle * w.cycle)
    val e2e = Map(
      "setup_s" -> setupS,
      "throughput_ops_s" -> throughput,
      "latency_p50_s" -> Stats.pct(whole, 0.5),
      "latency_p90_s" -> Stats.pct(whole, 0.9))
    val load = Stats.loadAvg1m()
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
        perLayer.map(_ -> 0.0).toMap ++ Layers.generic(w.countedOps, cores) ++ w.layerMetrics() ++ Map(
          "exec.storage_mb_end" -> storageMb,
          "host.load_1m" -> load,
          "trace.throughput_ops_s" -> throughput)
      }
    val unknown = layers.keySet -- perLayer
    require(unknown.isEmpty, s"per-layer metrics missing from the declared list: $unknown")
    if (traced) writeSpans(Paths.get(arg(args, "spans")))
    w.close()
    spark.stop()

    val metrics = (e2e ++ layers).toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${fmt(v)}""" }
    System.err.println(f"perfbench: $workload seed=$seed ops=$attempted failed=$failed " +
      f"setup=$setupS%.3f session=$sessionS%.3f load_1m=$load%.2f")
    println(s"""PERFBENCH_RESULT {"attempted":$attempted,"failed":$failed,"load_1m":${fmt(load)},""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
  }

  /** Ops, spans and Spark jobs as JSON lines, written once at exit. */
  private def writeSpans(out: Path): Unit = {
    import Trace._
    val lines = ops.map(o => s"""{"type":"op","id":${o.id},"kind":"${o.kind}","t0":${fmt(o.t0)},"t1":${fmt(o.t1)},"ok":${o.ok}}""") ++
      spans.map(s => s"""{"type":"span","op":${s.op},"layer":"${s.layer}","name":"${s.name}","t0":${fmt(s.t0)},"t1":${fmt(s.t1)}}""") ++
      jobs.map(j => s"""{"type":"job","id":${j.id},"t0":${fmt(j.start)},"t1":${fmt(j.end)},"site":"${j.site.replace("\"", "'")}","module":"${j.module}","stages":${j.stages.size}}""")
    Files.createDirectories(out.getParent)
    Files.write(out, lines.asJava)
  }
}
