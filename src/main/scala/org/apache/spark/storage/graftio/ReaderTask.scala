package org.apache.spark.storage.graftio

import java.io.Closeable
import java.util.Properties

import org.apache.spark.{TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.BlockInfo
import org.apache.spark.util.NextIterator

/** Lives under Spark's storage namespace solely to reach the
  * `private[spark]` `TaskContext.setTaskContext` / `unset`,
  * `TaskContextImpl` and `NextIterator`, and the `private[storage]` id
  * that block locks take outside a task. No Spark internals are modified.
  *
  * Spark's file readers leave the closing of a reader that is not read to
  * its end to the task that scans with it: a text-based reader (CSV,
  * JSON) registers its close as a task-completion listener, and the scan
  * closes a closeable iterator a reader returns (parquet's). The driver
  * has no task: [[graft.io.DriverScan]] opens each file through [[open]],
  * and [[close]] does both, as a scan task's end would.
  */
final class ReaderTask(spark: SparkSession) extends AutoCloseable {

  // made by the first open: a read of local rows opens no file. Its
  // attempt id is the one block locks take outside a task, so a
  // broadcast a reader reads (its Hadoop conf) locks as on the driver
  private var task: TaskContextImpl = _

  /** A file's rows, as `read` opens them with this task set in the
    * calling thread, under the session's SQL conf (with a task set,
    * `SQLConf.get` would otherwise read the task's empty local
    * properties).
    */
  def open(read: => Iterator[InternalRow]): Iterator[InternalRow] = {
    if (task == null) task = new TaskContextImpl(0, 0, 0,
      BlockInfo.NON_TASK_WRITER, 0, 1, null, new Properties, null,
      TaskMetrics.empty, 1, Map.empty)
    val prev = TaskContext.get()
    TaskContext.setTaskContext(task)
    val rows =
      try SQLConf.withExistingConf(spark.sessionState.conf)(read)
      finally
        if (prev == null) TaskContext.unset()
        else TaskContext.setTaskContext(prev)
    rows match {
      case n: NextIterator[_] =>
        task.addTaskCompletionListener[Unit](_ => n.closeIfNeeded())
      case c: Closeable => task.addTaskCompletionListener[Unit](_ => c.close())
      case _ =>
    }
    rows
  }

  /** Close every reader [[open]] opened that is still open. */
  override def close(): Unit = if (task != null) task.markTaskCompleted(None)
}
