package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Versioned

/** One row of the seeded trades ledger. `bucket` (= trade_id mod
  * [[LakeRw.Buckets]]) is the table's partition column. */
final case class Trade(trade_id: Long, account: Int, symbol: String, day: Int,
    qty: Long, price_cents: Long, bucket: Int)

object LakeRw {
  val opKinds = Seq("append", "merge", "delete", "update", "compact", "vacuum", "read", "time_travel")
  val Buckets = 8
  val BaseRows = 60000
  val KeepVersions = 4
  private val symbols = Array("AAPL", "MSFT", "PETR4", "VALE3", "ITUB4", "BBDC4", "S&P500", "DOLAR")

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Row `id` of the ledger for `seed`, a pure function of both: the
    * table and the model are built from it independently. */
  def trade(seed: Long, id: Long, version: Long = 0L): Trade = {
    val h = mix(seed * 1000003L + id * 31L + version)
    def bits(shift: Int, n: Int): Int = ((h >>> shift) & 0x7fffffffL).toInt % n
    Trade(id, bits(0, 5000), symbols(bits(7, symbols.length)), 18000 + bits(13, 3650),
      1L + bits(23, 1000), 100L + bits(33, 900000), (id % Buckets).toInt)
  }

  /** Bytes of a row as a user would count them: fixed-width fields plus
    * the symbol's characters. */
  def userBytes(t: Trade): Long = 8 + 4 + t.symbol.length + 4 + 8 + 8 + 4
}

/** `lake_rw`: the versioned lake used as a store. A seeded trades ledger
  * of sf0.01-lineitem size is created once; then one client runs cycles
  * of eighteen ops — ten commits (append, merge, vectored delete,
  * vectored update, the four SQL DML statements through the lake
  * catalog, compaction, and vacuum last) and eight reads (two
  * `Versioned.read` aggregates, two SQL aggregates, a range and a point
  * read that exercise file skipping, two `VERSION AS OF` reads). An
  * in-memory model of the live rows checks every read, every commit's
  * row count, and the table once more after the last op. */
final class LakeRw(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import LakeRw._
  import spark.implicits._

  private val rnd = new java.util.SplittableRandom(seed)
  private val path = work.resolve("ledger").toString
  private val model = scala.collection.mutable.LongMap[Trade]()
  private var nextId = BaseRows.toLong
  /** Live-row aggregates per committed version: (rows, Σqty, Σqty·price). */
  private val versions = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
  private var version = 0L
  /** Op id → (rows, user bytes) a commit added or changed. */
  private val committed = scala.collection.mutable.Map[Int, (Long, Long)]()
  private val scanned = scala.collection.mutable.Map[Int, Long]()

  def setup(): Unit = {
    val s = seed
    val base = spark.range(BaseRows).map(id => LakeRw.trade(s, id)).toDF()
    (0L until BaseRows).foreach(id => model(id) = trade(seed, id))
    version = Versioned.init(base, path, partitionCol = Some("bucket"),
      statsCols = Seq("trade_id", "day"))
    versions(version) = aggregates(model.values)
    // warm-up: one checked read of each kind
    require(checkAgg(readAgg(Versioned.read(spark, path)), versions(version)), "warm-up read")
    require(checkAgg(readAgg(spark.sql(s"SELECT * FROM lake.`$path`")), versions(version)), "warm-up SQL read")
  }

  private def aggregates(rows: Iterable[Trade]): (Long, Long, Long) = {
    var n = 0L; var q = 0L; var v = 0L
    rows.foreach { t => n += 1; q += t.qty; v += t.qty * t.price_cents }
    (n, q, v)
  }

  private def readAgg(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("qty"), lit(0L)),
      coalesce(sum(col("qty") * col("price_cents")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def checkAgg(got: (Long, Long, Long), want: (Long, Long, Long)): Boolean = {
    if (got != want) System.err.println(s"perfbench: lake read $got != model $want")
    got == want
  }

  /** Record a commit: the model now equals the new version. */
  private def committedAs(v: Long, rows: Seq[Trade]): Boolean = {
    if (v > 0) {
      version = v
      versions(v) = aggregates(model.values)
    }
    val id = Trace.ops.size
    committed(id) = (rows.size.toLong, rows.map(userBytes).sum)
    true
  }

  private def sqlValues(rows: Seq[Trade]): String = rows.map(t =>
    s"(${t.trade_id}L, ${t.account}, '${t.symbol}', ${t.day}, ${t.qty}L, ${t.price_cents}L, ${t.bucket})")
    .mkString(", ")

  private val cols = "trade_id, account, symbol, day, qty, price_cents, bucket"

  private def pickBucket(): Int = rnd.nextInt(Buckets)
  private def newRows(n: Int, bucket: Option[Int]): Seq[Trade] = (0 until n).map { _ =>
    var id = nextId
    bucket.foreach(b => while (id % Buckets != b) id += 1)
    nextId = id + 1
    trade(seed, id)
  }

  private def liveIn(bucket: Int, n: Int): Seq[Long] = {
    val ids = model.keysIterator.filter(_ % Buckets == bucket).take(20000).toArray
    (0 until n).map(_ => ids(rnd.nextInt(ids.length))).distinct
  }

  private def write(kind: String): Boolean = kind match {
    case "append" =>
      val rows = newRows(500, None)
      Trace.op("append")(Versioned.append(rows.toDF(), path, partitionCol = Some("bucket"))) { v =>
        rows.foreach(t => model(t.trade_id) = t)
        committedAs(v, rows)
      }
    case "merge" =>
      val b = pickBucket()
      val upd = liveIn(b, 200).map(id => trade(seed, id, version + 1))
      val rows = upd ++ newRows(200, Some(b))
      Trace.op("merge")(Versioned.merge(rows.toDF(), path, Seq("trade_id"), partitionCol = Some("bucket"))) { v =>
        rows.foreach(t => model(t.trade_id) = t)
        committedAs(v, rows)
      }
    case "delete" =>
      val (b, r) = (pickBucket(), rnd.nextInt(97))
      Trace.op("delete")(Versioned.deleteVectored(spark, path,
          col("bucket") === b && pmod(col("trade_id"), lit(97L)) === r)) { e =>
        val hit = model.valuesIterator.filter(t => t.bucket == b && t.trade_id % 97 == r).toSeq
        hit.foreach(t => model.remove(t.trade_id))
        e.deletedRows == hit.size && committedAs(e.version, hit)
      }
    case "update" =>
      val (b, r) = (pickBucket(), rnd.nextInt(89))
      Trace.op("update")(Versioned.updateVectored(spark, path,
          col("bucket") === b && pmod(col("trade_id"), lit(89L)) === r,
          Map("qty" -> (col("qty") + 1L)), partitionCol = Some("bucket"))) { u =>
        val hit = model.valuesIterator.filter(t => t.bucket == b && t.trade_id % 89 == r).toSeq
          .map(t => t.copy(qty = t.qty + 1))
        hit.foreach(t => model(t.trade_id) = t)
        u.updatedRows == hit.size && committedAs(u.version, hit)
      }
    case "sql_insert" =>
      val rows = newRows(50, None)
      Trace.op("sql_insert")(spark.sql(s"INSERT INTO lake.`$path` ($cols) VALUES ${sqlValues(rows)}")) { _ =>
        rows.foreach(t => model(t.trade_id) = t)
        committedAs(Versioned.currentVersion(spark, path).get, rows)
      }
    case "sql_update" =>
      val (b, r) = (pickBucket(), rnd.nextInt(83))
      Trace.op("sql_update")(spark.sql(s"UPDATE lake.`$path` SET qty = qty + 2 " +
          s"WHERE bucket = $b AND pmod(trade_id, 83) = $r")) { _ =>
        val hit = model.valuesIterator.filter(t => t.bucket == b && t.trade_id % 83 == r).toSeq
          .map(t => t.copy(qty = t.qty + 2))
        hit.foreach(t => model(t.trade_id) = t)
        committedAs(Versioned.currentVersion(spark, path).get, hit)
      }
    case "sql_delete" =>
      val (b, r) = (pickBucket(), rnd.nextInt(79))
      Trace.op("sql_delete")(spark.sql(s"DELETE FROM lake.`$path` " +
          s"WHERE bucket = $b AND pmod(trade_id, 79) = $r")) { _ =>
        val hit = model.valuesIterator.filter(t => t.bucket == b && t.trade_id % 79 == r).toSeq
        hit.foreach(t => model.remove(t.trade_id))
        committedAs(Versioned.currentVersion(spark, path).get, hit)
      }
    case "sql_merge" =>
      val b = pickBucket()
      val rows = liveIn(b, 25).map(id => trade(seed, id, version + 7)) ++ newRows(25, Some(b))
      rows.toDF().createOrReplaceTempView("perfbench_src")
      Trace.op("sql_merge")(spark.sql(s"MERGE INTO lake.`$path` t USING perfbench_src s " +
          "ON t.trade_id = s.trade_id WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")) { _ =>
        rows.foreach(t => model(t.trade_id) = t)
        committedAs(Versioned.currentVersion(spark, path).get, rows)
      }
    case "compact" =>
      Trace.op("compact")(Versioned.compactSmall(spark, path, minBytes = 1L << 20, targetFiles = 2,
          partitionCol = Some("bucket"))) { c => committedAs(c.version, Nil) }
    case "vacuum" =>
      Trace.op("vacuum")(Versioned.vacuum(spark, path, keepLast = KeepVersions)) { _ =>
        val keep = versions.keys.toSeq.sorted.takeRight(KeepVersions).toSet
        versions.filterInPlace((v, _) => keep(v))
        true
      }
  }

  private def read(kind: String): Boolean = kind match {
    case "read" =>
      Trace.op("read")(readAgg(Versioned.read(spark, path))) { got =>
        scanned(Trace.ops.size) = got._1
        checkAgg(got, versions(version))
      }
    case "sql_read" =>
      Trace.op("sql_read")(readAgg(spark.sql(s"SELECT qty, price_cents FROM lake.`$path`"))) { got =>
        scanned(Trace.ops.size) = got._1
        checkAgg(got, versions(version))
      }
    case "read_range" =>
      val lo = 18000 + rnd.nextInt(3600)
      Trace.op("read_range")(readAgg(Versioned.readRange(spark, path, "day", lo, lo + 30)
          .df.filter(col("day").between(lo, lo + 30)))) { got =>
        checkAgg(got, aggregates(model.valuesIterator.filter(t => t.day >= lo && t.day <= lo + 30).toSeq))
      }
    case "read_point" =>
      val keys = model.keysIterator.take(50000).toArray
      val id = keys(rnd.nextInt(keys.length))
      Trace.op("read_point")(Versioned.readRange(spark, path, "trade_id", id.toDouble, id.toDouble)
          .df.filter(col("trade_id") === id).as[Trade].collect().toSeq) { got =>
        got == Seq(model(id))
      }
    case "time_travel" =>
      val vs = versions.keys.toSeq.sorted
      val v = vs(rnd.nextInt(vs.size))
      Trace.op("time_travel")(readAgg(spark.sql(
          s"SELECT qty, price_cents FROM lake.`$path` VERSION AS OF $v"))) { got =>
        checkAgg(got, versions(v))
      }
  }

  private val dml = Seq("sql_insert", "sql_update", "sql_delete", "sql_merge")
  private val dmlOrder = new scala.util.Random(seed).shuffle(dml)

  /** Every cycle runs the same kinds of op in the same slots, so every
    * run measures the same mix; the seed sets each op's inputs (rows,
    * predicates, ranges, versions) and the order of the four SQL DML
    * statements. */
  private def kindOf(i: Int): String = Seq(
    "read", "append", "sql_read", dmlOrder(0), "time_travel", "merge",
    "read_range", dmlOrder(1), "delete", "read", dmlOrder(2), "update",
    "read_point", dmlOrder(3), "compact", "sql_read", "time_travel", "vacuum")(i % cycle)

  def runOp(i: Int): Boolean = {
    val kind = kindOf(i)
    if (kind.startsWith("read") || kind == "sql_read" || kind == "time_travel") read(kind) else write(kind)
  }

  def cycle: Int = 18
  def countedOps: Int = 18

  override def endCheck(): Option[Boolean] = Some(
    try checkAgg(readAgg(Versioned.read(spark, path)), versions(version))
    catch { case e: Exception =>
      System.err.println(s"perfbench: lake read after the last op failed: $e")
      false
    })

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def layerMetrics(): Map[String, Double] = {
    val all = Trace.ops.toSeq
    def p50(kind: String) = Stats.median(all.filter(_.kind == kind).map(_.wall))
    val head = all.take(countedOps)
    val headCommits = head.filter(o => committed.contains(o.id))
    val nCommits = headCommits.size.toDouble
    val jobsIn = (o: Trace.Op) => Trace.jobs.count(j => j.start >= o.t0 && j.start <= o.t1)
    val written = headCommits.map(o => Layers.bytesWritten(o.id)).sum.toDouble
    val changed = headCommits.map(o => committed(o.id)._2).sum.toDouble
    def rate(kind: String) = Stats.median(all.filter(o => o.kind == kind && scanned.contains(o.id))
      .map(o => scanned(o.id) / o.wall))
    val live = model.valuesIterator.map(userBytes).sum.toDouble
    val tableDir = java.nio.file.Paths.get(path)
    val dvFiles = Files.list(tableDir.resolve("_versions")).iterator.asScala
      .count(_.getFileName.toString.endsWith(".dv"))
    opKinds.map(k => s"ops.${k}_p50_s" -> p50(k)).toMap ++ Map(
      "ops.fs_calls_per_commit" -> Stats.ratio(headCommits.map(o => Layers.fsCalls(o.id).sum).sum, nCommits),
      "ops.jobs_per_commit" -> Stats.ratio(headCommits.map(jobsIn).sum, nCommits),
      "ops.write_bytes_per_user_byte" -> Stats.ratio(written, changed),
      "ops.bytes_stored_per_user_byte" -> Stats.ratio(dirBytes(tableDir), live),
      "ops.live_files" -> Versioned.files(spark, path).size.toDouble,
      "ops.dv_files" -> dvFiles.toDouble,
      "ops.scan_rows_per_s" -> rate("read"),
      "sources.scan_rows_per_s" -> rate("sql_read"),
      "sources.sql_read_p50_s" -> p50("sql_read"),
      "sources.sql_dml_p50_s" -> Stats.median(all.filter(o => dml.contains(o.kind)).map(_.wall)))
  }

  def close(): Unit = ()
}
