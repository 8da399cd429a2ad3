package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ParallelismSpec extends AnyFunSuite {

  test("inParallel: an interrupted caller cancels the running thunks and rethrows") {
    val sleeping = new CountDownLatch(1)
    val cancelled = new CountDownLatch(1)
    val outcome = new AtomicReference[(Throwable, Boolean)]()
    val caller = new Thread(() =>
      try Parallelism.inParallel(
        () => {
          sleeping.countDown()
          try Thread.sleep(60000)
          catch { case _: InterruptedException => cancelled.countDown() }
          1
        },
        () => 2)
      catch {
        case e: Throwable => outcome.set((e, Thread.currentThread().isInterrupted))
      })
    caller.start()
    assert(sleeping.await(10, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive)
    val (thrown, flagRestored) = outcome.get()
    assert(thrown.isInstanceOf[InterruptedException])
    assert(flagRestored)
    assert(cancelled.await(10, TimeUnit.SECONDS), "the sleeping thunk kept running")
  }

  test("ensurePinned returns an already-parallel or derived input untouched") {
    val spark = SparkTestSession.spark
    val p = spark.sparkContext.defaultParallelism
    val parallel = spark.range(0, 1000, 1, p).toDF("id")
    assert(Parallelism.ensurePinned(parallel) eq parallel)
    val joined = parallel.join(spark.range(0, 10).toDF("id"), "id")
    assert(Parallelism.ensurePinned(joined) eq joined)
    val agg = parallel.groupBy(col("id") % 7).count()
    assert(Parallelism.ensurePinned(agg) eq agg)
  }
}
