package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Restore a context's checkpoint dir to an exact earlier value, `None`
  * included. The public setter appends a fresh UUID subdir to whatever it
  * is given (and creates it), so it cannot put a prior value back; the
  * field itself is `private[spark]`. */
object ContextBridge {
  def restoreCheckpointDir(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
