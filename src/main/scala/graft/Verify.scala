package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[2,8,3072] runs the WHOLE harness
    // with real executor JVMs (scripts/cluster_verify.sh). It needs
    // SPARK_HOME at the Spark distribution — the standalone Worker builds
    // each executor's JVM command from its launcher classpath — and
    // SPARK_SCALA_VERSION=2.13, which the launcher reads instead of looking
    // for a source build's launcher/target directory
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      b.config("spark.executor.extraClassPath",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath)
        .config("spark.executor.memory", "2g")
        .config("spark.executor.extraJavaOptions",
          org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      // NonFatal only: an OOM/VM error means the JVM is no longer sound —
      // continuing would let unrelated queries fail (or write truncated
      // parquet) and pollute the round's gate with phantom failures
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonStr.quote(k)}: ${JsonStr.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
