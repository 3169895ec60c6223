package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{ExecutionContext, ExecutionContextExecutorService}

/** The one place graft builds a driver thread pool. Independent Spark jobs
  * (a percolation curve's levels, Bowtie's closures, two PageRank
  * recurrences) are submitted from concurrent driver threads so Spark's
  * FIFO scheduler back-fills one job's tiny-task tail with the next job's
  * stages. Every pool has daemon threads: a failed query must not pin the
  * JVM. */
object Par {

  private def daemons(prefix: String): ThreadFactory = {
    val n = new AtomicInteger()
    r => {
      val t = new Thread(r, s"$prefix${n.getAndIncrement()}")
      t.setDaemon(true)
      t
    }
  }

  /** Runs every job on its own daemon thread (`graft-par-*`) and returns
    * the results in input order once ALL jobs have finished — a failing
    * job never leaves a sibling running behind the caller's back. If any
    * job fails, the first failure in input order is rethrown with the
    * later ones attached as suppressed. The pool is shut down on every
    * exit. */
  def all[T](jobs: Seq[() => T]): Seq[T] =
    if (jobs.isEmpty) Seq.empty
    else {
      val pool = Executors.newFixedThreadPool(jobs.size, daemons("graft-par-"))
      try {
        val futures = jobs.map(job => pool.submit(new Callable[T] { def call(): T = job() }))
        val outcomes = futures.map { f =>
          try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.collect { case Left(e) => e } match {
          case first +: rest =>
            rest.foreach(first.addSuppressed)
            throw first
          case _ => outcomes.collect { case Right(v) => v }
        }
      } finally pool.shutdown()
    }

  /** A long-lived pool of `threads` daemon threads (`graft-exec-*`) for a
    * caller that submits work over its whole lifetime and shuts the pool
    * down itself. */
  def executor(threads: Int): ExecutionContextExecutorService =
    ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(threads, daemons("graft-exec-")))
}
