package graft.pipeline

/** Overlap INDEPENDENT driver-blocking Spark actions (guide §2.6:
  * actions are only sequential because the driver calls them
  * sequentially — concurrent jobs back-fill idle executor slots, and
  * on tiny maintenance jobs the fixed per-action cost itself
  * overlaps). Worker threads re-apply the caller's
  * [[Rollup.maintaining]] flag so analysis on the worker sees the
  * same MV-rewrite suppression the caller has. All thunks are awaited
  * before returning — also on failure, so a still-running write can
  * never race the caller's cleanup; the first failure rethrows. */
private[graft] object Par {

  private val pool = java.util.concurrent.Executors
    .newCachedThreadPool(r => {
      val t = new Thread(r, "graft-maintenance-parallel")
      t.setDaemon(true); t
    })

  def all(thunks: Seq[() => Unit]): Unit = {
    if (thunks.isEmpty) return
    if (thunks.size == 1) { thunks.head.apply(); return }
    val flag = Rollup.maintaining.get()
    val futures = thunks.tail.map { th =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val prev = Rollup.maintaining.get()
          Rollup.maintaining.set(flag)
          try th() finally Rollup.maintaining.set(prev)
        }
      })
    }
    var failure: Throwable = null
    try thunks.head.apply()
    catch { case e: Throwable => failure = e }
    futures.foreach { f =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          if (failure == null) failure = e.getCause
        case e: Throwable => if (failure == null) failure = e
      }
    }
    if (failure != null) throw failure
  }

  def both[A, B](a: => A, b: => B): (A, B) = {
    val flag = Rollup.maintaining.get()
    val fb = pool.submit(new java.util.concurrent.Callable[B] {
      def call(): B = {
        val prev = Rollup.maintaining.get()
        Rollup.maintaining.set(flag)
        try b finally Rollup.maintaining.set(prev)
      }
    })
    def await(): B =
      try fb.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
      }
    val ra =
      try a
      catch {
        case e: Throwable =>
          try await() catch { case _: Throwable => () }
          throw e
      }
    (ra, await())
  }
}
