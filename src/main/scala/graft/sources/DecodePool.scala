package graft.sources

import java.util.concurrent.{CompletableFuture, ExecutionException, Future,
  RejectedExecutionException, SynchronousQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** The executor's one idle-core decode pool, shared by every format: BGZF
  * block batches ([[BgzfBlocks]]), the sequential-codec decode pipe
  * ([[AsyncChunkedInputStream]]), mzML blob decodes and CRAM container
  * decodes. Decode work is order-free relative to its consumer even when the
  * record parse is strictly sequential, so at narrow widths (one big file,
  * most cores idle, where single-thread Inflater.inflate was ~50-60% of
  * BAM/FASTQ-bgzf task samples) it can move off the task thread, which is
  * then left IO- and parse-bound.
  *
  * One lock-free gate guards every submission: in-flight pool decodes plus
  * live decode readers must stay below the core count. Readers are the task
  * threads themselves, so a full-width scan (readers == cores) submits
  * nothing and decodes inline, sequentially, BY CONSTRUCTION; and concurrent
  * scans of different formats share one budget instead of oversubscribing
  * the machine between them. A conservative over-count (a reader blocked on
  * IO still counts) errs toward inline decode, never toward
  * oversubscription. The SynchronousQueue never queues work: a submission
  * that slips past the gate's racy read onto a saturated pool is refused,
  * and the caller does the work inline.
  */
private[sources] object DecodePool {
  val poolSize: Int = Runtime.getRuntime.availableProcessors()

  private val readers = new AtomicInteger(0)

  /** In-flight pool work, tracked lock-free (ThreadPoolExecutor's
    * getActiveCount takes the pool's mainLock — a per-submission cost the
    * gate must not pay).
    */
  private val inFlight = new AtomicInteger(0)

  private lazy val pool: ThreadPoolExecutor = {
    val p = new ThreadPoolExecutor(poolSize, poolSize, 30L, TimeUnit.SECONDS,
      new SynchronousQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-decode"); t.setDaemon(true); t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** The gate: true while a core is left for pool work. */
  def idle: Boolean = inFlight.get + readers.get < poolSize

  /** Pool work submitted and not yet finished. */
  def inFlightCount: Int = inFlight.get

  /** One decode reader's place in the gate's count; [[release]] gives it
    * back and is idempotent.
    */
  final class Reader private[DecodePool] (counted: Boolean) {
    private val live = new AtomicBoolean(counted)
    def release(): Unit =
      if (live.compareAndSet(true, false)) readers.decrementAndGet()
  }

  /** Count the calling task thread as a decode reader until the reader's
    * stream closes (callers release) or, as the backstop for LIMIT and task
    * failure, until its Spark task ends. Off-task (driver-side schema
    * inference, direct iteration in specs) nothing is counted.
    */
  def register(): Reader = org.apache.spark.TaskContext.get() match {
    case null => new Reader(false)
    case tc =>
      readers.incrementAndGet()
      val r = new Reader(true)
      tc.addTaskCompletionListener[Unit](_ => r.release())
      r
  }

  /** Run `work` on an idle core. False when the gate is closed or the pool
    * is saturated: the caller then does the work itself, inline.
    */
  def trySubmit(work: Runnable): Boolean = {
    if (!idle) return false
    inFlight.incrementAndGet()
    try {
      pool.execute { () => try work.run() finally inFlight.decrementAndGet() }
      true
    } catch {
      case _: RejectedExecutionException => inFlight.decrementAndGet(); false
    }
  }

  /** [[trySubmit]] for one result; null when refused. */
  def tryAsync[T](work: () => T): CompletableFuture[T] = {
    val fut = new CompletableFuture[T]()
    val granted = trySubmit { () =>
      try fut.complete(work())
      catch { case t: Throwable => fut.completeExceptionally(t) }
    }
    if (granted) fut else null
  }

  /** Join pool work, rethrowing its own failure (EOFException on a
    * truncated stream and the like) rather than the ExecutionException
    * wrapper.
    */
  def await[T](f: Future[T]): T =
    try f.get()
    catch {
      case e: ExecutionException =>
        e.getCause match {
          case re: RuntimeException => throw re
          case io: java.io.IOException => throw io
          case other => throw new RuntimeException(other)
        }
    }
}
