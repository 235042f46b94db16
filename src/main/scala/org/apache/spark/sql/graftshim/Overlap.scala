package org.apache.spark.sql.graftshim

import java.util.concurrent.Executors

import scala.concurrent.{ExecutionContext, ExecutionContextExecutorService, Future}

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.Utils

/** Overlapped Spark jobs that stay in the caller's job context. A
  * pool thread carries whatever Spark local properties it inherited
  * when it was created, so a job started from a plain `Future` can
  * lose the caller's job group, job tags and SQL execution id — and
  * escape a job-group cancel. [[future]] runs its body with a copy of
  * the calling thread's local properties, taken at the call, and with
  * `spark` active, then restores the pool thread's own.
  */
object Overlap {
  // unbounded and daemon: an overlapped body may itself block on a
  // nested overlapped body (a chunked import's sink is a store write
  // that overlaps its own two writes), so a fixed-size pool could
  // starve; idle threads retire after a minute
  private lazy val pool: ExecutionContextExecutorService =
    ExecutionContext.fromExecutorService(Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-overlap")
      t.setDaemon(true)
      t
    })

  def future[T](spark: SparkSession)(body: => T): Future[T] = {
    val sc = spark.sparkContext
    val callers = Utils.cloneProperties(sc.getLocalProperties)
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Future {
      val own = sc.getLocalProperties
      sc.setLocalProperties(callers)
      try session.withActive(body) finally sc.setLocalProperties(own)
    }(pool)
  }
}
