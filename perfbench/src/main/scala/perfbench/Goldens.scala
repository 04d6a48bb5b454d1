package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Records `registry_goldens.tsv`: the result digest of every registry
  * query that passed the DuckDB oracle (`tools/check_oracle.py`) on the
  * benchmark's generated tables.
  * {{{
  * perfbench.Goldens <data dir> <check_oracle.py output> <out.tsv> <work dir>
  * }}}
  * Only queries whose oracle line reads `OK` get a golden, and only
  * queries with a golden are eligible for `registry_mix`. */
object Goldens {
  def main(args: Array[String]): Unit = {
    val Array(data, oracleLog, out, work) = args
    val ok = new String(Files.readAllBytes(Paths.get(oracleLog)), UTF_8).split("\n").toSeq
      .filter(_.startsWith("OK ")).map(_.split("\\s+")(1)).toSet
    val spark = Main.session(Paths.get(work), 4, traced = false)
    val fns = graft.SparkEntry.queries
    val lines = fns.keys.toSeq.sorted.filter(ok).map { q =>
      spark.catalog.clearCache()
      s"$q\t${RegistryMix.digest(fns(q)(spark, data))}"
    }
    Files.write(Paths.get(out), (("# query\tdigest (sum of xxhash64 over the normalised rows / row count)" +:
      lines).mkString("\n") + "\n").getBytes(UTF_8))
    System.exit(0)
  }
}
