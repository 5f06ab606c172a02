package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** The one way to run independent driver-side jobs concurrently. Spark
  * actions are only sequential because the driver calls them one after
  * another; submitting independent ones from a small pool lets their
  * scans, shuffles and commit IO overlap.
  *
  * Each call runs its tasks under a fresh job tag (set on the task
  * threads only, never on the caller's). On the first task failure the
  * siblings' jobs are cancelled by that tag and their threads interrupted,
  * and the call returns only once none of them is still running — no
  * Spark job or file write outlives a call that has already thrown. */
object FanOut {
  /** Most tasks a call runs at once: each task is a driver thread that
    * mostly waits on its Spark job. */
  private val MaxParallel = 16

  /** `f` over `xs` concurrently, results in input order. Rethrows the
    * first failure's own exception (not an ExecutionException). The pool
    * is shut down on every path. */
  def map[A, B](spark: SparkSession, xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.isEmpty) return Seq.empty
    val sc = spark.sparkContext
    val tag = s"graft-fanout-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.min(xs.size, MaxParallel))
    val done = new ExecutorCompletionService[(Int, B)](pool)
    try {
      xs.zipWithIndex.foreach { case (x, i) =>
        done.submit { () =>
          sc.addJobTag(tag)
          try (i, f(x)) finally sc.removeJobTag(tag)
        }
      }
      val out = new Array[Any](xs.size)
      xs.indices.foreach { _ =>
        val (i, b) = try done.take().get() catch {
          case e: ExecutionException => throw e.getCause
        }
        out(i) = b
      }
      out.toSeq.asInstanceOf[Seq[B]]
    } catch {
      case t: Throwable =>
        sc.cancelJobsWithTag(tag)
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        // a sibling may have submitted a job between the first cancel and
        // its interrupt; with every thread gone, none can start another
        sc.cancelJobsWithTag(tag)
        throw t
    } finally pool.shutdown()
  }

  /** Two independent thunks concurrently, through [[map]]. */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = map(spark, Seq[() => Any](() => a, () => b))(_())
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }
}
