package graft.io

import graft.conf.Tuning

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SubqueryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{PartitionedFileUtil, SQLExecution}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftplan.PlanBuilder
import org.apache.spark.storage.graftio.ReaderTask
import org.apache.spark.sql.types.StructType

/** Reads a small frame's rows on the driver, with no Spark job.
  *
  * A frame qualifies when its optimized plan is a `LocalRelation`, or a
  * bare batch file scan (no partition or bucket columns, listed bytes
  * below the size gate, [[graft.conf.Tuning.isSmallInput]]), under at
  * most one deterministic `Project`. Each file is read with the
  * relation's own `FileFormat.buildReaderWithPartitionValues` (rows, not
  * batches), its options and the referenced columns, split and ordered
  * as Spark's scan splits and orders it, so the rows and their order are
  * the ones a `toLocalIterator()` of the frame gives; the `Project` is
  * evaluated with `UnsafeProjection`, the same Catalyst expressions the
  * job would run. Anything else returns None, and the caller keeps its
  * job. A file's reader is opened in a [[ReaderTask]], so a read that
  * stops early closes it as a task's end would.
  */
object DriverScan {

  /** The rows of a frame the driver can read, read on demand. */
  final class Rows private[DriverScan] (
      spark: SparkSession, open: ReaderTask => Iterator[UnsafeRow]) {

    /** `use` applied to the rows, in the frame's columns' order: each an
      * `UnsafeRow` that the next call of `next()` may reuse (copy a row to
      * keep it). Files are opened one at a time as the iterator reaches
      * them; a file `use` leaves unread (it stops early or throws) is
      * closed before this returns.
      */
    def read[T](use: Iterator[UnsafeRow] => T): T = {
      val task = new ReaderTask(spark)
      try use(open(task)) finally task.close()
    }
  }

  /** The rows of `df`, or None when the driver cannot read them as the
    * job would.
    */
  def rows(df: DataFrame): Option[Rows] =
    plan(df.sparkSession, df.queryExecution.optimizedPlan)

  /** `df`'s rows as a frame over a `LocalRelation`, below the size gate
    * ([[graft.conf.Tuning.isSmallInput]]): read by [[rows]] when the
    * driver can read `df`, otherwise by one bounded collect (one
    * partition, at most the gate's row bound at the least bytes a row of
    * `df` holds, so one job: a streaming `foreachBatch` batch takes this
    * branch). The bytes of the copied rows are counted as they arrive.
    * None, and the caller keeps its lazy path, when `df`'s estimated
    * bytes or the rows held reach the gate. Catalyst's
    * `ConvertToLocalRelation` folds a projection or filter of the result
    * on the driver, so [[rows]] reads it with no job.
    */
  def local(df: DataFrame): Option[DataFrame] =
    localRows(df).map(frame(df.sparkSession, df.schema, _))

  /** The copied rows (Catalyst values of `df`'s schema) of [[local]]'s
    * frame, for a caller that reads them itself.
    */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] = {
    val spark = df.sparkSession
    if (!Tuning.isSmallInput(spark, Tuning.estimatedBytes(df))) return None
    val maxBytes = Tuning.smallInputRows(spark, 1L)
    def held(it: Iterator[UnsafeRow]): Option[Seq[InternalRow]] = {
      val kept = Vector.newBuilder[InternalRow]
      var bytes = 0L
      val within = it.forall { r =>
        val row = r.copy()
        kept += row
        bytes += row.getSizeInBytes
        bytes <= maxBytes
      }
      Option.when(within)(kept.result())
    }
    rows(df).fold {
      val n = df.schema.size
      val least =
        math.max(1L, UnsafeRow.calculateBitSetWidthInBytes(n) + 8L * n)
      val qe = df.coalesce(1)
        .limit(math.min(Tuning.smallInputRows(spark, least),
          Int.MaxValue - 1L).toInt + 1)
        .queryExecution
      SQLExecution.withNewExecutionId(qe, Some("collect"))(held(
        qe.executedPlan.executeToIterator().map(_.asInstanceOf[UnsafeRow])))
    }(_.read(held))
  }

  /** `rows` (Catalyst values of `schema`) as a frame over a
    * `LocalRelation`: [[rows]] reads it, and a plan over it reads a
    * `LocalTableScan`, with no job.
    */
  def frame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    PlanBuilder.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** [[rows]] of an analyzed plan of `spark` (a child of a union, say). */
  def rows(spark: SparkSession, analyzed: LogicalPlan): Option[Rows] =
    plan(spark, spark.sessionState.executePlan(analyzed).optimizedPlan)

  private def plan(spark: SparkSession, plan: LogicalPlan): Option[Rows] = {
    val (exprs, leaf) = plan match {
      case Project(list, child) if list.forall(evaluable) => (list, child)
      case other => (other.output, other)
    }
    val refs = AttributeSet(exprs)
    // the leaf's rows and the attributes they hold
    val raw: Option[(ReaderTask => Iterator[InternalRow], Seq[Attribute])] =
      leaf match {
        case l: LocalRelation if !l.isStreaming =>
          Some(((_: ReaderTask) => l.data.iterator) -> l.output)
        case l: LogicalRelation if !l.isStreaming &&
            refs.subsetOf(AttributeSet(l.output)) => l.relation match {
          case h: HadoopFsRelation
              if h.partitionSchema.isEmpty && h.bucketSpec.isEmpty =>
            val input = l.output.filter(refs.contains)
            scan(spark, h, StructType(input.map(a => h.dataSchema(a.name))))
              .map(_ -> input)
          case _ => None
        }
        case _ => None
      }
    raw.map { case (it, input) =>
      new Rows(spark, task => {
        val project = UnsafeProjection.create(exprs, input)
        it(task).map(project(_))
      })
    }
  }

  private def evaluable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)

  /** The `required` columns of `h`'s files, as Spark's scan reads them,
    * each file opened in the given task.
    */
  private def scan(spark: SparkSession, h: HadoopFsRelation,
      required: StructType)
      : Option[ReaderTask => Iterator[InternalRow]] = {
    val dirs = h.location.listFiles(Nil, Nil)
    val files = dirs.flatMap(_.files)
    if (!Tuning.isSmallInput(spark, files.map(_.getLen).sum)) None
    else {
      val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
      val splits = files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          h.fileFormat.isSplitable(spark, h.options, f.getPath), maxSplit,
          InternalRow.empty)
      }.sortBy(_.length)(Ordering[Long].reverse)
      val read = h.fileFormat.buildReaderWithPartitionValues(spark,
        h.dataSchema, new StructType(), required, Nil,
        h.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConfWithOptions(h.options))
      Some(task => splits.iterator.flatMap(s => task.open(read(s))))
    }
  }
}
