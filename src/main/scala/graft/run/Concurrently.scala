package graft.run

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Fan-out of a DAG step's independent Spark actions (the five gold table
  * writes, the model save beside the evaluators). Each job is small and
  * mostly fixed driver cost, so running them side by side overlaps the
  * driver gaps instead of paying them one after another.
  *
  * Every thunk runs through `SQLExecution.withThreadLocalCaptured`, so it
  * sees the caller's active session and Spark local properties: job
  * descriptions ([[graft.plans.JobLabel]]) and any listener tags the caller
  * set reach the jobs the worker submits. The pool has one thread per thunk
  * and is gone, threads joined, before `apply` returns. */
object Concurrently {

  /** Runs `thunks` concurrently and returns their results in order. Waits
    * for every thunk, then rethrows the first failure in thunk order, so a
    * failing step never leaves a sibling still writing. */
  def apply[T](spark: SparkSession)(thunks: (() => T)*): Seq[T] = {
    val threads = mutable.ArrayBuffer.empty[Thread]
    val pool = Executors.newFixedThreadPool(thunks.size, new ThreadFactory {
      def newThread(r: Runnable): Thread = threads.synchronized {
        val t = new Thread(r, s"graft-concurrently-${threads.size}")
        threads += t
        t
      }
    })
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    try {
      val futures = thunks.map(t => SQLExecution.withThreadLocalCaptured(classic, pool)(t()))
      futures.map(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    } finally {
      // the join is what makes a failure wait for its siblings
      pool.shutdown()
      threads.synchronized(threads.toList).foreach(_.join())
    }
  }
}
