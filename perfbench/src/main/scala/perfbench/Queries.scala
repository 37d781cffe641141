package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * The operator queries of read_mix's client: a fixed set of
 * `SparkEntry.queries`, looked up by name, over a seeded operator-query
 * corpus that run.py writes with sfgen.py.
 */
object Queries {

  /**
   * One or more per operator family: the two shingle joins ROADMAP item 5
   * targets and a vector top-k (similarity), plus text, relational and CDC.
   * `q_quality_score` is left out: its sf0.1 `round()` half-tie against
   * DuckDB fails the oracle on the seed code.
   */
  val Names: Seq[String] = Seq("q_cdc_fold_deletes", "q_cosine_topk", "q_dedup_exact",
    "q_join_enrich", "q_minhash_pairs", "q_ngram_jaccard")

  /** Queries per client cycle, taken round-robin from [[Names]]. */
  val PerCycle = 3

  def missing: Seq[String] = Names.filterNot(SparkEntry.queries.contains)

  /** One query, run to completion as `graft.Bench` times it: `count()`. */
  def count(spark: SparkSession, sf: String, name: String): Long =
    SparkEntry.queries(name)(spark, sf).count()

  /** Runs every query of `names` once: writes the results of the
    * oracle-checked ones as parquet, plus their DuckDB SQL as
    * `oracle_sql.json`, for oracle.py, and counts the others. */
  def writeResults(spark: SparkSession, sf: String, names: Seq[String], outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val oracles = SparkEntry.oracleSqlFor(sf).filter { case (k, _) => names.contains(k) }
    names.foreach { n =>
      if (oracles.contains(n)) SparkEntry.queries(n)(spark, sf).write.parquet(s"$outDir/$n.parquet")
      else count(spark, sf, n)
    }
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    Files.write(Paths.get(outDir, "oracle_sql.json"),
      oracles.map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString("{", ",\n", "}")
        .getBytes(StandardCharsets.UTF_8))
  }
}
