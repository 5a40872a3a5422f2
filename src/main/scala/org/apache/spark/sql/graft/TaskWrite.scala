package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.util.SerializableConfiguration

/** What a task that writes files itself needs of Spark, which Spark keeps
  * package-private: a Hadoop conf shipped inside a task closure, and the
  * task's output metrics, which the UI and listeners read as "output". */
object TaskWrite {
  /** A Hadoop conf that serializes into a task closure. */
  final class Conf(conf: Configuration) extends Serializable {
    private val wrapped = new SerializableConfiguration(conf)
    def value: Configuration = wrapped.value
  }

  /** Report what the running task wrote, as Spark's file writers do. */
  def reportOutput(tc: TaskContext, bytes: Long, records: Long): Unit = {
    val m = tc.taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(records)
  }
}
