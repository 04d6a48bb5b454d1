package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.io.Csv
import graft.jobs.JobServer
import graft.ops.MarketPipeline

/** `report_jobs`: the reference's own product. One long-lived
  * [[JobServer]] per market shape; one client sends `POST /api/submit`
  * requests over loopback HTTP in a closed loop, each for a seeded date
  * range, and checks both report files against [[ReturnsModel]].
  *
  * Nothing clears Spark's cache between requests: `MarketPipeline.run`
  * caches each job's returns and the job layer never releases them, and
  * a long-lived server pays for that. */
final class ReportJobs(spark: SparkSession, inputs: Path, work: Path, src: Path, seed: Long)
    extends Workload {
  import ReportJobs._
  ReturnsModel.selfTest()
  if (Trace.traced) checkMarketJobCalls(src)
  private val shapes = Seq("narrow", "wide", "long")
  private val markets = shapes.map(s => s -> ReturnsModel.readMarket(csv(s))).toMap
  private val rnd = new java.util.SplittableRandom(seed)
  private val http = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()
  private var servers = Map.empty[String, (JobServer, Int, Path)]
  private val jobsSent = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)

  /** Op id → seconds spent inside the injected job body (traced runs). */
  private val inside = scala.collection.mutable.Map[Int, Double]()

  private def csv(shape: String): Path = inputs.resolve(s"market_$shape.csv")

  /** The server's job body. Untraced runs use the program's own wiring
    * (`JobServer.forDataset` → `MarketJob.run`); traced runs make the
    * same four calls `MarketJob.run` makes, each wrapped in a span
    * ([[checkMarketJobCalls]] keeps the two the same). */
  private def newServer(shape: String, outRoot: Path): JobServer = {
    val data = csv(shape).toString
    if (!Trace.traced) JobServer.forDataset(spark, data, outRoot.toString)
    else new JobServer((init, fin, jobId) => {
      val t0 = Trace.now()
      val market = Trace.span("io", "csv_read")(Csv.readInferred(spark, data))
      val (returns, average) = Trace.span("ops", "pipeline_build")(
        MarketPipeline.run(market, init, fin))
      Trace.span("io", "csv_write")(Csv.writeSingle(returns, s"$outRoot/$jobId/daily_returns"))
      Trace.span("io", "csv_write")(Csv.writeSingle(average, s"$outRoot/$jobId/average_daily_return"))
      inside.synchronized { inside(Trace.ops.size) = (Trace.now() - t0) / 1000.0 }
    })
  }

  def setup(): Unit = {
    servers = shapes.map { s =>
      val out = work.resolve("reports").resolve(s)
      Files.createDirectories(out)
      val srv = newServer(s, out)
      s -> (srv, srv.start(0), out)
    }.toMap
    // warm-up: one request per shape, checked like a timed one
    shapes.foreach { s =>
      val (from, to) = window(s)
      require(check(s, from, to, request(s, from, to)), s"warm-up request for $s failed")
    }
  }

  private def window(shape: String): (String, String) = {
    val d = markets(shape).dates
    val len = d.length / 2
    val start = rnd.nextInt(d.length - len + 1)
    (d(start), d(start + len - 1))
  }

  /** One `POST /api/submit`; returns the response and the job's output
    * directory (the server numbers its jobs job-1, job-2, …). */
  private def request(shape: String, from: String, to: String): (HttpResponse[String], Path) = {
    val (_, port, out) = servers(shape)
    val body = s"""{"initial_date":"$from","final_date":"$to","email":"user${rnd.nextInt(1000)}@example.com"}"""
    val resp = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/submit"))
      .timeout(Duration.ofSeconds(150))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    jobsSent(shape) += 1
    (resp, out.resolve(s"job-${jobsSent(shape)}"))
  }

  private def check(shape: String, from: String, to: String,
      r: (HttpResponse[String], Path)): Boolean = {
    val (resp, jobDir) = r
    if (resp.statusCode != 200 || !resp.body.contains("\"success\":true")) {
      System.err.println(s"perfbench: $shape job answered ${resp.statusCode}: ${resp.body}")
      false
    } else {
      val errs = ReturnsModel.check(jobDir, ReturnsModel.report(markets(shape), from, to))
      errs.foreach(e => System.err.println(s"perfbench: $shape $from..$to: $e"))
      errs.isEmpty
    }
  }

  /** Shapes rotate in a fixed order, so every run of a given length
    * carries the same mix; the seed sets the prices and date ranges. */
  def runOp(i: Int): Boolean = {
    val shape = shapes(i % shapes.size)
    val (from, to) = window(shape)
    Trace.op(s"report.$shape")(request(shape, from, to))(check(shape, from, to, _))
  }

  def cycle: Int = shapes.size
  def countedOps: Int = 12

  def layerMetrics(): Map[String, Double] = {
    val timed = Trace.ops.toSeq
    val walls = timed.map(_.wall)
    val q = math.max(1, walls.size / 4)
    val overhead = timed.flatMap(o => inside.get(o.id).map(o.wall - _))
    def spanMean(layer: String, name: String): Double = {
      val per = Trace.spans.filter(s => s.op >= 0 && s.layer == layer && s.name == name)
        .groupBy(_.op).values.map(_.map(_.secs).sum).toSeq
      Stats.mean(per)
    }
    Map(
      "jobs.request_p50_s" -> Stats.median(walls),
      "jobs.overhead_p50_s" -> Stats.median(overhead),
      "jobs.latency_drift" -> Stats.ratio(Stats.median(walls.takeRight(q)), Stats.median(walls.take(q))),
      "io.csv_read_s" -> spanMean("io", "csv_read"),
      "io.csv_write_s" -> spanMean("io", "csv_write"),
      "ops.pipeline_build_s" -> spanMean("ops", "pipeline_build"))
  }

  def close(): Unit = servers.values.foreach(_._1.stop())
}

object ReportJobs {
  /** The body of `graft.jobs.MarketJob.run`, call by call, as the traced
    * server repeats it. */
  val marketJobCalls: Seq[String] = Seq(
    "val market = Csv.readInferred(spark, datasetPath)",
    "val (returns, average) = MarketPipeline.run(market, initialDate, finalDate)",
    "Csv.writeSingle(returns, s\"$outputRoot/$jobId/daily_returns\")",
    "Csv.writeSingle(average, s\"$outputRoot/$jobId/average_daily_return\")")

  /** Fails when `MarketJob.run` in the checkout's source no longer makes
    * exactly [[marketJobCalls]]: the traced run would then time other
    * code than the untraced one. */
  def checkMarketJobCalls(src: Path): Unit = {
    val lines = Files.readAllLines(src.resolve("src/main/scala/graft/jobs/MarketJob.scala")).asScala.toSeq
    val sig = lines.indexWhere(_.trim.startsWith("def run("))
    val open = lines.indexWhere(_.trim.endsWith("= {"), sig)
    val body = lines.drop(open + 1).takeWhile(_.trim != "}").map(_.trim).filter(_.nonEmpty)
    require(sig >= 0 && open >= 0 && body == marketJobCalls,
      "MarketJob.run no longer makes the calls the traced report server repeats " +
        s"(found: ${body.mkString("; ")}); update ReportJobs.newServer and marketJobCalls")
  }
}
