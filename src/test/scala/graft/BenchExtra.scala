package graft

import org.apache.spark.sql.SparkSession

/**
 * Optimization-round measurement harness (guide §1) — SEPARATE from the
 * frozen [[Bench]]: per-query isolated timings with the same session shape
 * the driver bench uses (local[SPARK_GRAFT_CPUS], shuffle partitions =
 * cores, AQE on), so numbers are comparable to BENCH_r*.json rows.
 *
 * Usage: sbt "Test/runMain graft.BenchExtra [all|q_name1 q_name2 ...]"
 *  - SPARK_GRAFT_SF_DIR     data dir (default /root/testdata/sf0.1)
 *  - SPARK_GRAFT_CPUS       cores (default 32)
 *  - SPARK_GRAFT_EXTRA_REPS reps per query (default 2; rep1 = cold-in-session,
 *                           rep2+ = warm; both are reported)
 *  - SPARK_GRAFT_EXTRA_PLANDIR  if set, writes .explain("formatted") of each
 *                           query to $PLANDIR/<name>.txt (plan evidence for
 *                           plans/r06/)
 *  - SPARK_GRAFT_EXTRA_WARM off = skip the bench's warmup pair
 *
 * Timing action is the SAME as the frozen bench (`df.count()`), so a
 * reported improvement here is an improvement under the driver's methodology;
 * queries are timed in the bench's alphabetical order unless named
 * explicitly.
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "2").toInt
    val planDir = sys.env.get("SPARK_GRAFT_EXTRA_PLANDIR")
    val warm = !sys.env.get("SPARK_GRAFT_EXTRA_WARM").contains("off")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val names: Seq[String] =
      if (args.isEmpty || args.sameElements(Array("all")))
        SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    if (warm) {
      // looked up outside the try: a renamed query fails here, at start,
      // instead of silently dropping the warmup
      val shingleWarmup = SparkEntry.queries("q_minhash_pairs")
      try { SparkEntry.entry(spark).count(); () }
      catch { case e: Throwable => System.err.println(s"[extra] warmup failed: $e") }
      try { shingleWarmup(spark, sfDir).count(); () }
      catch { case e: Throwable => System.err.println(s"[extra] shingle warmup failed: $e") }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      planDir.foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$name.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          ()
        } catch {
          case e: Throwable => System.err.println(s"[extra] plan of $name failed: $e")
        }
      }
      val times = (1 to reps).map { _ =>
        spark.sparkContext.setJobDescription(s"extra: $name")
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None } catch {
          case e: Throwable => Some(e.toString.take(160))
        }
        val sec = (System.nanoTime() - t0) / 1e9
        err.foreach(e => System.err.println(s"[extra] $name FAILED: $e"))
        sec
      }
      println(f"EXTRA $name ${times.map(t => f"$t%.3f").mkString(" ")}")
    }
    // graft maintenance (async folds) must not leak into a subsequent query's
    // wall-clock when queries are timed individually here
    graft.merge.Maintenance.await()
    spark.stop()
    System.exit(0)
  }
}
