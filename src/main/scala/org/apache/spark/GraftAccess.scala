package org.apache.spark

import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.CallSite

/** The `private[spark]` hooks graft needs. */
object GraftAccess {
  /** Waits until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Runs `body` outside any SQL execution, with the jobs it starts on
    * this thread, and on the threads it hands work to, charged to the
    * call site whose stack is `frames` (innermost first). The thread's
    * execution ids and call site are restored afterwards. */
  def outsideExecution[A](sc: SparkContext, frames: Seq[StackTraceElement])(body: => A): A = {
    val executionIds = Seq(SQLExecution.EXECUTION_ID_KEY, SQLExecution.EXECUTION_ROOT_ID_KEY)
    val keys = executionIds ++ Seq(CallSite.SHORT_FORM, CallSite.LONG_FORM)
    val prev = keys.map(sc.getLocalProperty)
    executionIds.foreach(sc.setLocalProperty(_, null))
    sc.setCallSite(CallSite(
      frames.headOption.fold("<unknown>")(f => s"${f.getMethodName} at ${f.getFileName}:${f.getLineNumber}"),
      frames.take(20).mkString("\n")))
    try body
    finally keys.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
