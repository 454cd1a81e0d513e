package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, LOCAL_RELATION, SORT}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.types.{DateType, IntegerType}

/** FOOTER AGGREGATE — an ungrouped MIN / MAX / COUNT over an unfiltered
  * parquet scan, answered from the files' footers as a one-row
  * `LocalRelation`: no Spark job. A footer holds exactly the mergeable
  * per-file partials the aggregate's combiner would emit (row count, and
  * per column the min, max and null count), so merging them on the driver
  * is the zero-error case of a per-block summary.
  *
  * Fires only when every aggregate is `min(c)`, `max(c)`, `count(1)` or
  * `count(c)` of a column of the scan, reached through attribute or alias
  * Projects alone, and the scan is a `HadoopFsRelation` over parquet with
  * no partition columns, without `ignoreCorruptFiles` or
  * `ignoreMissingFiles`, without field-id matching, and listing at most
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` files (Spark's
  * own cut between driver-side and distributed file metadata work). The
  * columns must pass `Layout.footerFileStats`' type and exactness gate
  * (INT32/INT64 integral, DATE, TIMESTAMP and TIMESTAMP_NTZ in MICROS); a
  * footer that cannot be read declines too, so the scan raises Spark's own
  * error. Anything else runs as before. Empty input gives (null, …, 0), as Spark's
  * aggregate does. */
object FooterAggregate extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case agg @ Aggregate(Nil, aggExprs, child, _) if !agg.isStreaming =>
        answer(aggExprs, child).fold[LogicalPlan](agg)(row => LocalRelation(agg.output, Seq(row)))
    }

  /** What one aggregate reads off the footers: the row count, or column
    * `col`'s min, max or non-null count. */
  private sealed trait Part
  private case object Rows extends Part
  private case class Lo(col: AttributeReference) extends Part
  private case class Hi(col: AttributeReference) extends Part
  private case class NonNull(col: AttributeReference) extends Part

  private def answer(aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[InternalRow] =
    scan(child).flatMap { case (fs, attrs) =>
      def column(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference => attrs.get(a.exprId)
        case _ => None
      }
      val parts = aggExprs.map {
        case Alias(AggregateExpression(fn, Complete, false, None, _), _) => fn match {
          case Min(c) => column(c).map(Lo(_))
          case Max(c) => column(c).map(Hi(_))
          case Count(Seq(l: Literal)) if l.value != null => Some(Rows)
          case Count(Seq(c)) => column(c).map(NonNull(_))
          case _ => None
        }
        case _ => None
      }
      if (parts.exists(_.isEmpty)) None
      else footers(fs, parts.flatten)
    }

  /** The parquet relation under `plan`, if only attribute and alias
    * Projects stand between, with the relation column each visible
    * attribute reads. */
  private def scan(plan: LogicalPlan)
      : Option[(HadoopFsRelation, Map[ExprId, AttributeReference])] = plan match {
    case Project(list, inner) => scan(inner).flatMap { case (fs, attrs) =>
      val mapped = list.map {
        case a: AttributeReference => attrs.get(a.exprId).map(a.exprId -> _)
        case al @ Alias(a: AttributeReference, _) => attrs.get(a.exprId).map(al.exprId -> _)
        case _ => None
      }
      if (mapped.exists(_.isEmpty)) None else Some((fs, mapped.flatten.toMap))
    }
    case rel @ LogicalRelation(fs: HadoopFsRelation, output, _, false, _)
        if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
          fs.partitionSchema.isEmpty &&
          output.map(_.name) == fs.dataSchema.fieldNames.toSeq =>
      Some((fs, rel.output.map(a => a.exprId -> a).toMap))
    case _ => None
  }

  private def footers(fs: HadoopFsRelation, parts: Seq[Part]): Option[InternalRow] = {
    val opts = new ParquetOptions(fs.options, conf)
    val files = fs.location.inputFiles
    if (opts.ignoreCorruptFiles || opts.ignoreMissingFiles || conf.parquetFieldIdReadEnabled ||
        files.length > conf.parallelPartitionDiscoveryThreshold) return None
    val cols = parts.collect {
      case Lo(c) => c
      case Hi(c) => c
      case NonNull(c) => c
    }.distinct
    val stats = try {
      graft.sources.Layout.footerFileStats(fs.getHadoopConf(fs.sparkSession, fs.options),
        files.toSeq.map(f => new org.apache.hadoop.fs.Path(new java.net.URI(f))),
        cols.map(c => c.name -> c.dataType))
    } catch { case _: java.io.IOException | _: RuntimeException => None }
    stats.map { perFile =>
      val rows = perFile.map(_.rows).sum
      def merged(c: AttributeReference) = perFile.map(_.cols(cols.indexOf(c)))
      // Internal values: DATE and INT are Int; LONG, TIMESTAMP and
      // TIMESTAMP_NTZ are Long.
      def internal(c: AttributeReference, v: Option[Long]): Any = v.map[Any] { x =>
        if (c.dataType == IntegerType || c.dataType == DateType) x.toInt else x
      }.orNull
      InternalRow.fromSeq(parts.map {
        case Rows => rows
        case Lo(c) => internal(c, merged(c).flatMap(_.min).minOption)
        case Hi(c) => internal(c, merged(c).flatMap(_.max).maxOption)
        case NonNull(c) => rows - merged(c).map(_.nulls).sum
      })
    }
  }
}

/** LOCAL SORT — a global `Sort` over a `LocalRelation` (rows the driver
  * already holds) becomes a `LocalRelation` of the same rows sorted on the
  * driver, instead of a range exchange whose sample, map and result jobs
  * re-sort them. Catalyst's interpreted row ordering compares as Spark's
  * sort does (direction, null placement, NaN above every number, −0.0
  * equal to 0.0, collations), and the sort is stable. Fires only on a
  * non-streaming relation and a deterministic, subquery-free order. */
object LocalSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(SORT, LOCAL_RELATION)) {
      case Sort(order, true, rel @ LocalRelation(output, data, false, _), _)
          if order.forall(o => o.deterministic && !SubqueryExpression.hasSubquery(o)) =>
        // Seq.sorted is java.util.Arrays.sort over objects: a stable TimSort.
        rel.copy(data = data.sorted(new InterpretedOrdering(order, output)))
    }
}

object DriverAnswers {
  /** The rules that answer on the driver what it already holds. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(FooterAggregate, LocalSort)

  /** Attach [[rules]] to a session the library does not own (idempotent)
    * — the runtime twin of the `GraftExtensions` session-build injection. */
  def attach(spark: SparkSession): Unit = spark.synchronized {
    val missing = rules.filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++ missing
  }
}
