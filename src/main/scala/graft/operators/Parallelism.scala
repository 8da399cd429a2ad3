package graft.operators

import org.apache.spark.sql.DataFrame

/** The shared gate for the "one small file = one task" repartition every
  * typed per-row pass here used to pay UNCONDITIONALLY: repartition to
  * session parallelism only when the input is scan-shaped AND arrives
  * with fewer partitions. A derived input (join/agg/window output)
  * already carries shuffle.partitions-sized partitioning — and probing
  * it with `df.rdd` under AQE would EXECUTE its upstream stages just to
  * count partitions, running the lineage twice. At 100 TB the skipped
  * exchange on an already-parallel table is the whole point.
  */
private[operators] object Parallelism {

  def ensure(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    // a streaming frame cannot be probed with df.rdd (and its
    // micro-batch partitioning is the source's concern): pass through
    if (df.isStreaming) return df
    val derived = df.queryExecution.optimizedPlan.find {
      case _: lp.Join | _: lp.Aggregate | _: lp.Window | _: lp.Sort |
           _: lp.RepartitionByExpression => true
      // coalesce = Repartition(shuffle=false): NARROWS partitions, so it
      // is exactly the under-parallel case the probe must still catch
      case r: lp.Repartition if r.shuffle => true
      case _ => false
    }.isDefined
    if (derived) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    }
  }

  /** [[ensure]] + a checkpoint pin WHEN (and only when) a spread was
    * actually inserted. A bare round-robin Repartition is transparent
    * to PushDownPredicates: a deterministic filter ABOVE it is pushed
    * BELOW it, so an expensive per-row gate stacked on the spread runs
    * in the pre-shuffle map stage — one task over a one-partition
    * scan, the exact fold the spread was inserted to fix (q217's
    * quality/langid gate measured 1.35 s single-task that way). The
    * localCheckpoint is the pushdown barrier: the gate then runs over
    * the spread blocks. Already-parallel and derived inputs return
    * UNTOUCHED — at 100 TB this is a no-op pass-through, never a
    * corpus materialization; only an under-parallel small input pays
    * the (small, by definition) pin.
    */
  def ensurePinned(df: DataFrame): DataFrame = {
    val e = ensure(df)
    if (e eq df) df else e.localCheckpoint()
  }

  /** Run INDEPENDENT driver-side actions as concurrent Spark jobs —
    * the guide-§2.6 overlap: Spark's scheduler happily runs several
    * jobs at once inside one application; maintenance ladders (index
    * build publishing 4 snapshot tables, search loading 3 artifacts)
    * were sequential only because the driver code called them
    * sequentially, so the wall clock paid the SUM of per-job fixed
    * costs instead of the max. Caller must guarantee independence
    * (distinct output dirs / no ordering contract between thunks).
    *
    * A fresh bounded pool per call: these are metadata-scale ladders
    * (a handful of thunks, called a handful of times per operation),
    * so pool construction is noise and nothing leaks between callers.
    * Threads are created at submit time and inherit the caller's
    * SparkContext local properties (job group/description). The first
    * failure propagates with its ORIGINAL exception (operators throw
    * typed errors the specs assert on), after every thunk settles.
    * An interrupt of the caller cancels the siblings (`shutdownNow`
    * interrupts their threads), restores the interrupt flag and
    * rethrows.
    */
  private[operators] def inParallel[A](thunks: (() => A)*): Seq[A] = {
    require(thunks.nonEmpty, "inParallel needs at least one thunk")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val futs = thunks.map(t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = t()
        }))
      val results = futs.map { f =>
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Left(Option(e.getCause).getOrElse(e))
          case e: InterruptedException =>
            pool.shutdownNow()
            Thread.currentThread().interrupt()
            throw e
        }
      }
      results.collectFirst { case Left(e) => throw e }
      results.collect { case Right(a) => a }
    } finally pool.shutdown()
  }
}
