package graft.pipeline

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The concurrent-jobs helper: input-order results, wait-for-all failure
  * semantics, first-failure-in-input-order with the rest suppressed, and
  * no pool thread outliving the call. No Spark needed. */
class ParSpec extends AnyFunSuite {

  private def liveParThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-par-")).map(_.getName).toSet

  /** Pool threads exit asynchronously after shutdown; a leaked fixed pool
    * keeps them forever, so a bounded wait tells the two apart. */
  private def assertNoParThreads(): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    while (liveParThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(liveParThreads.isEmpty, s"leaked pool threads: $liveParThreads")
  }

  test("results come back in input order when jobs finish in reverse order") {
    val n = 5
    val done = Vector.fill(n)(new CountDownLatch(1))
    val finished = new ConcurrentLinkedQueue[Int]()
    val threads = new ConcurrentLinkedQueue[String]()
    // job i may finish only after job i + 1 has: the last job finishes first
    val got = Par.all((0 until n).map { i => () =>
      threads.add(Thread.currentThread().getName)
      if (i + 1 < n) assert(done(i + 1).await(10, TimeUnit.SECONDS))
      finished.add(i)
      done(i).countDown()
      i * 10
    })
    assert(got == (0 until n).map(_ * 10))
    assert(finished.asScala.toSeq == (0 until n).reverse)
    assert(threads.asScala.toSet.size == n && threads.asScala.forall(_.startsWith("graft-par-")),
      s"one graft-par-* thread per job: ${threads.asScala.mkString(",")}")
    assertNoParThreads()
  }

  test("a failure is rethrown only after every sibling job has finished") {
    val failed = new CountDownLatch(1)
    val siblingsDone = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Par.all(Seq[() => Int](
        () => { failed.countDown(); throw new IllegalStateException("job 0") },
        () => {
          assert(failed.await(10, TimeUnit.SECONDS))
          Thread.sleep(200)
          siblingsDone.incrementAndGet()
        }))
    }
    assert(e.getMessage == "job 0")
    assert(siblingsDone.get == 1, "the sibling ran to completion before the rethrow")
    assertNoParThreads()
  }

  test("the rethrown failure is the first in input order; later ones are suppressed") {
    val secondFailed = new CountDownLatch(1)
    val e = intercept[RuntimeException] {
      Par.all(Seq[() => Int](
        () => 1,
        () => {
          assert(secondFailed.await(10, TimeUnit.SECONDS))
          throw new RuntimeException("job 1")
        },
        () => { secondFailed.countDown(); throw new RuntimeException("job 2") }))
    }
    assert(e.getMessage == "job 1", "job 2 failed first in time, job 1 first in input order")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("job 2"))
    assertNoParThreads()
  }
}
