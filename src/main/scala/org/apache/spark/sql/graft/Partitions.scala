package org.apache.spark.sql.graft

import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Partition counts of the catalog's resident frames. */
object Partitions {

  /** The widest file scan's partition count in `df`'s physical plan, 0 when
    * it reads no files. Planned, never run: no job. A cache scan (the
    * session's CacheManager holds a `sameResult` plan, perhaps another
    * catalog's resident frame) counts the file scans of the cached plan. */
  def scanParallelism(df: DataFrame): Int =
    fileScans(df.queryExecution.sparkPlan).maxOption.getOrElse(0)

  private def fileScans(plan: SparkPlan): Seq[Int] = plan.collectLeaves().flatMap {
    case s: FileSourceScanExec => Seq(s.inputRDD.getNumPartitions)
    case c: InMemoryTableScanExec => fileScans(c.relation.cachedPlan)
    case a: AdaptiveSparkPlanExec => fileScans(a.inputPlan)
    case _ => Nil
  }

  /** `df` in at most `n` partitions, narrowly (no shuffle, no job): output
    * partition i reads input partitions i, i + n, i + 2n, … in turn.
    * `Dataset.coalesce` merges CONTIGUOUS index ranges instead whenever its
    * input carries no preferred locations (checkpointed or local data), so
    * on a union of n equal partitions and a few small ones it merges the
    * large ones pairwise, and repeated unions pile every row into one
    * partition. */
  def strided(df: DataFrame, n: Int): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    register(ds.sparkSession)
    classic.Dataset.ofRows(ds.sparkSession, StridedCoalesce(n, ds.logicalPlan))
  }

  /** Adds the planner strategy for [[StridedCoalesce]] to `spark`, once. */
  private def register(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(StridedStrategy))
        exp.extraStrategies = exp.extraStrategies :+ StridedStrategy
    }
  }

  private case class StridedCoalesce(n: Int, child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(c: LogicalPlan): StridedCoalesce = copy(child = c)
  }

  private case class StridedCoalesceExec(n: Int, child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def outputPartitioning: Partitioning = UnknownPartitioning(n)
    override protected def doExecute(): RDD[InternalRow] =
      child.execute().coalesce(n, shuffle = false, Some(Strided))
    override protected def withNewChildInternal(c: SparkPlan): StridedCoalesceExec = copy(child = c)
  }

  private object StridedStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case StridedCoalesce(n, child) => StridedCoalesceExec(n, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  private object Strided extends PartitionCoalescer with Serializable {
    override def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val in = parent.partitions
      val groups = Array.fill(math.min(maxPartitions, in.length))(new PartitionGroup())
      in.foreach(p => groups(p.index % groups.length).partitions += p)
      groups
    }
  }
}
