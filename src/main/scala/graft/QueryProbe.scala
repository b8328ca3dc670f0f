package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** r14 optimization-round measurement harness (guide §1): time individual
  * declared queries with the SAME action the bench's sf suite uses
  * (`df.count()`, min-of-N) and dump `.explain("formatted")` for the plan
  * evidence in plans/r14/. Never run by the driver — iteration tooling only.
  *
  * Usage: runMain graft.QueryProbe <sfDir> <planOutDir> <tag> <query...>
  *   tag = suffix for the plan file (`before` / `after`), or `time` to skip
  *   plan dumps. `<query...>` may be `all` for every declared query.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val planDir = args(1)
    val tag = args(2)
    val names: Seq[String] =
      if (args.length == 4 && args(3) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.locality.wait", "0")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warm-up as Bench
    try {
      spark.range(1000000).agg(org.apache.spark.sql.functions.sum("id")).collect()
      SparkEntry.queries("flat_scan_cosine")(spark, sfDir).collect()
    } catch { case _: Throwable => () }
    Files.createDirectories(Paths.get(planDir))
    // per-run job/task accounting, drained before each read: how much of a
    // query is N tiny driver jobs vs actual task work (guide §1.1/§7.1
    // without the UI)
    val io = new org.apache.spark.sql.graft.BenchMetrics(spark.sparkContext)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      spark.sparkContext.setJobDescription(s"probe:$name")
      val ts = (1 to 3).map { _ =>
        val c0 = io.snapshot()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        val d = io.snapshot() - c0
        (t, d.jobs, d.taskMs / 1000.0)
      }
      if (tag != "time") {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(planDir, s"${name}_$tag.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
      }
      val best = ts.minBy(_._1)
      // every run's job count: adaptive execution can move a multi-stage
      // plan's count by ±2 between identical runs
      println(f"PROBE $name%-32s min=${best._1}%7.3f jobs=${ts.map(_._2).mkString(",")}%-8s " +
        f"taskSec=${best._3}%7.2f  " +
        f"runs=${ts.map(t => f"${t._1}%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
