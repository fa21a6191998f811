package graft.plans

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

import scala.annotation.tailrec
import scala.util.control.NonFatal

/** Optimizer rule: hash-repartition an under-split parquet scan on the
  * probe side of a broadcast hash join, so the probe stage runs on every
  * core instead of on the one split that owns the file's only row group.
  *
  * The trap: Spark sizes file splits by bytes (`FilePartition.maxSplitBytes`,
  * about total bytes / cores for small inputs), but a parquet split reads
  * only the row groups whose midpoint falls inside it. A 10.8 MB file
  * written as ONE row group plans 3 splits on 4 cores and 2 of them read
  * nothing; the whole probe stage (scan, both broadcast probes, every
  * per-row expression above them up to the next exchange) then runs on
  * one core.
  *
  * Fires on an equi-join when ALL of the following hold:
  *  - one side is a scan chain: Project/Filter over a non-streaming,
  *    unpartitioned, unbucketed parquet `HadoopFsRelation`;
  *  - the OTHER side is the side the planner will broadcast: the build
  *    side by hint, or (with no shuffle-join hint) by
  *    `spark.sql.autoBroadcastJoinThreshold` where the join type lets it
  *    be built — Spark's own `getBroadcastBuildSide`;
  *  - the scan chain is under-split: its files hold fewer row groups
  *    than the splits `maxSplitBytes` plans for them. A file with one
  *    planned split is never under-split and costs no footer read; the
  *    others' row-group counts come from their footers, read on the
  *    driver once per file version (path, length, modification time).
  *
  * It then inserts `RepartitionByExpression(scan-side join keys,
  * spark.sql.shuffle.partitions)` above the scan chain. The chain stays
  * below the exchange, so pushed filters, the pruned ReadSchema and
  * `input_file_name()` are unchanged (Spark rejects `input_file_name()`
  * above a join, so it can only sit in the chain). Once inserted, the
  * join side is an exchange, not a scan chain, so the rule never fires
  * twice in a fixed-point batch.
  *
  * Deliberately NOT handled:
  *  - sort-merge and shuffle-hash joins: the fan-out exchange is
  *    user-origin, and below a sort-merge join it would block AQE's skew
  *    split; those joins shuffle the scan anyway;
  *  - consumers with no broadcast join (aggregates, filters): they do too
  *    little per-row work for a full-width shuffle to pay for itself
  *    (a groupBy measured 0.44 → 0.74 s when fanned out);
  *  - partitioned relations: sizing their splits needs the partition
  *    pruning that file-source planning does later.
  *
  * At cluster scale files hold many row groups (one per ~128 MB) and the
  * rule never fires; PlanRuleSuite asserts fire and no-fire shapes.
  */
object ProbeScanFanOut extends Rule[LogicalPlan] with JoinSelectionHelper {

  /** Row groups per file version; -1 marks an unreadable footer. */
  private val rowGroups =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Integer]()
  /** Bounds the cache on a long-lived driver that sees many file versions. */
  private val MaxCachedFooters = 4096

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(JOIN)) {
      case j @ ExtractEquiJoinKeys(_, leftKeys, rightKeys, _, _, left, right, _) =>
        broadcastSide(j) match {
          case Some(BuildRight) if underSplit(left) => j.copy(left = fanOut(leftKeys, left))
          case Some(BuildLeft) if underSplit(right) => j.copy(right = fanOut(rightKeys, right))
          case _ => j
        }
    }

  /** The build side JoinSelection picks for a broadcast hash join. */
  private def broadcastSide(j: Join) =
    getBroadcastBuildSide(j, hintOnly = true, conf).orElse(
      if (hintToSortMergeJoin(j.hint) || hintToShuffleHashJoin(j.hint)) None
      else getBroadcastBuildSide(j, hintOnly = false, conf))

  private def fanOut(keys: Seq[Expression], side: LogicalPlan): LogicalPlan =
    RepartitionByExpression(keys, side, Some(conf.numShufflePartitions))

  @tailrec private def scanRelation(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case Project(_, child) => scanRelation(child)
    case Filter(_, child) => scanRelation(child)
    case l: LogicalRelation if !l.isStreaming => l.relation match {
      case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
          r.partitionSchema.isEmpty && r.bucketSpec.isEmpty => Some(r)
      case _ => None
    }
    case _ => None
  }

  private def underSplit(side: LogicalPlan): Boolean = scanRelation(side).exists { r =>
    val listing = r.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(r.sparkSession, listing)
    val multi = listing.flatMap(_.files).map { f =>
      f.fileStatus -> (f.getLen + maxSplit - 1) / maxSplit
    }.filter(_._2 > 1)
    val splits = multi.map(_._2).sum
    // stop reading footers as soon as the row groups cover the splits
    !multi.iterator.map { case (f, n) => footerRowGroups(r, f, n) }
      .scanLeft(0L)(_ + _).exists(_ >= splits)
  }

  /** `f`'s row-group count; an unreadable footer fails closed and counts
    * as `fileSplits` row groups (fully split). */
  private def footerRowGroups(r: HadoopFsRelation, f: FileStatus, fileSplits: Long): Long = {
    val key = (f.getPath.toString, f.getLen, f.getModificationTime)
    val n: Int = Option(rowGroups.get(key)).map(_.intValue).getOrElse {
      val read = try {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f,
          r.sparkSession.sessionState.newHadoopConfWithOptions(r.options)))
        try reader.getRowGroups.size finally reader.close()
      } catch { case NonFatal(_) => -1 }
      if (rowGroups.size > MaxCachedFooters) rowGroups.clear()
      rowGroups.put(key, read)
      read
    }
    if (n < 0) fileSplits else n.toLong
  }
}
