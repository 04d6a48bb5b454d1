package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

object RegistryMix {
  val families = Seq("relational", "finance", "text", "search", "graph", "streaming", "lake", "multimodal")
  val SampleSize = 12
  val Tiers = 3
  /** Warm-up passes over the sample in set-up: the second lets the JIT
    * compile the hot paths the first one found, before the timed ops. */
  val WarmupPasses = 2
  /** Queries whose reference cost exceeds this are outside the pool: the
    * workload is the short-query population where per-job and driver
    * fixed costs dominate; graft.Bench still times the heavy tail. */
  val MaxRefSeconds = 0.5
  /** The sample is drawn once, with this seed; the run seed only orders
    * the timed passes (see the benchmark's README for why). */
  val SampleSeed = 42L

  private def rows(file: Path): Seq[Array[String]] =
    new String(Files.readAllBytes(file), UTF_8).split("\n").toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))

  /** query → (family, reference seconds), from the committed table;
    * fails loudly when the registry's key set and the table differ. */
  def familyTable(file: Path): Map[String, (String, Double)] = {
    val t = rows(file).map(r => r(0) -> (r(1), r(2).toDouble)).toMap
    val keys = SparkEntry.queries.keySet
    val missing = keys -- t.keySet
    val stale = t.keySet -- keys
    require(missing.isEmpty && stale.isEmpty,
      s"registry and ${file.getFileName} differ: not in the table ${missing.toSeq.sorted.mkString(",")}; " +
        s"not in the registry ${stale.toSeq.sorted.mkString(",")}")
    val badFamily = t.collect { case (q, (f, _)) if !families.contains(f) => q }
    require(badFamily.isEmpty, s"unknown family for ${badFamily.mkString(",")}")
    t
  }

  def goldens(file: Path): Map[String, String] = rows(file).map(r => r(0) -> r(1)).toMap

  /** Stratified by family: each family gets a share of the sample in
    * proportion to its size (at least one), spread evenly over its
    * queries ordered by reference cost, one query drawn per stratum. */
  def sample(table: Map[String, (String, Double)], eligible: Set[String]): Seq[String] = {
    val rnd = new java.util.SplittableRandom(SampleSeed)
    val pools = families.map(f => f -> table.toSeq.collect {
      case (q, (`f`, ref)) if eligible(q) && ref <= MaxRefSeconds => (q, ref)
    }.sortBy { case (q, ref) => (ref, q) }.map(_._1)).toMap
    val total = pools.values.map(_.size).sum.toDouble
    val exact = families.map(f => f -> SampleSize * pools(f).size / total).toMap
    val alloc = scala.collection.mutable.Map(families.map(f => f -> math.max(1, exact(f).toInt)): _*)
    families.sortBy(f => -(exact(f) - exact(f).toInt)).iterator
      .takeWhile(_ => alloc.values.sum < SampleSize).foreach(f => alloc(f) += 1)
    families.flatMap { f =>
      val p = pools(f)
      val k = math.min(alloc(f), p.size)
      (0 until k).map(s => p(s * p.size / k + rnd.nextInt(math.max(1, (s + 1) * p.size / k - s * p.size / k))))
    }
  }

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case st: StructType => st.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** The timed action and the output check in one: the sum of xxhash64
    * over every column, as graft.Bench times a query, so column pruning
    * cannot drop work. Values are normalised the way the oracle compares
    * them — columns in name order, integers at one width, maps as JSON —
    * so the digest changes only when a compared value does. */
  def digest(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case ByteType | ShortType | IntegerType => c.cast(LongType)
        case dt if hasMap(dt) => to_json(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(struct(cols: _*)).as("h")).agg(sum("h"), count(lit(1))).head()
    s"${if (r.isNullAt(0)) "null" else r.getLong(0).toString}/${r.getLong(1)}"
  }
}

/** `registry_mix`: a family-stratified sample of the query registry over
  * the benchmark's generated tables. A whole-sample warm-up pass (memo and
  * fixture builds included) is set-up; the timed passes then run the
  * sample in seeded order, clearing Spark's cache before each query as
  * graft.Bench does, and check each result's digest against a golden. */
final class RegistryMix(spark: SparkSession, data: Path, benchDir: Path, seed: Long) extends Workload {
  import RegistryMix._
  private val table = familyTable(benchDir.resolve("registry_families.tsv"))
  private val golden = goldens(benchDir.resolve("registry_goldens.tsv"))
  val chosen: Seq[String] = sample(table, golden.keySet)
  private val fns = SparkEntry.queries
  private val rnd = new java.util.SplittableRandom(seed)
  private var order = IndexedSeq.empty[String]
  private val cachedLeft = scala.collection.mutable.Map[Int, Int]()

  private def runQuery(q: String): String = {
    val df = Trace.span("queries", "construct")(fns(q)(spark, data.toString))
    digest(df)
  }

  private def checked(q: String)(d: String): Boolean = {
    val ok = d == golden(q)
    if (!ok) System.err.println(s"perfbench: $q digest $d != golden ${golden(q)}")
    ok
  }

  def setup(): Unit = {
    System.err.println(s"perfbench: registry sample ${chosen.mkString(",")}")
    for (_ <- 1 to WarmupPasses; q <- chosen) {
      spark.catalog.clearCache()
      val d = try runQuery(q) catch { case e: Throwable => s"error: $e" }
      checked(q)(d)
    }
  }

  /** Each pass interleaves the sample's cost tiers in a fixed pattern
    * (slowest third, middle, fastest, …) and the seed orders the queries
    * within each tier, so any prefix of the run holds the same cost mix. */
  private def pass(): IndexedSeq[String] = {
    val byCost = chosen.sortBy(q => (table(q)._2, q))
    val tiers = byCost.grouped(math.ceil(byCost.size.toDouble / Tiers).toInt).toSeq.reverse
      .map(t => scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong())).shuffle(t))
    (0 until tiers.map(_.size).max).flatMap(j => tiers.flatMap(_.lift(j)))
  }

  def runOp(i: Int): Boolean = {
    if (i % chosen.size == 0) order = pass()
    val q = order(i % chosen.size)
    if (i > 0) cachedLeft(i - 1) = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    Trace.op(s"query.$q")(runQuery(q))(checked(q))
  }

  def cycle: Int = chosen.size
  def countedOps: Int = chosen.size

  def layerMetrics(): Map[String, Double] = {
    val all = Trace.ops.toSeq
    val construct = Trace.spans.filter(s => s.op >= 0 && s.name == "construct").map(_.secs)
    val memo = graft.queries.Memo.buildLog.values.sum + graft.queries.LakeFixtures.buildLog.values.sum
    families.map(f => s"family.${f}_s" ->
      Stats.median(all.filter(o => table(o.kind.stripPrefix("query."))._1 == f).map(_.wall))).toMap ++ Map(
      "queries.construct_s" -> Stats.mean(construct.toSeq),
      "queries.memo_build_s" -> memo,
      "queries.cached_left" -> Stats.mean(cachedLeft.values.map(_.toDouble).toSeq))
  }

  def close(): Unit = ()
}
