package graft.catalog

/** Independent writes to different tables, run at the same time: the
  * Distributed facade's member appends and a git import's three table
  * loads. Serialized, each write's fixed per-job driver overhead adds up
  * N-fold and dominates small blocks; together, one write's scheduling
  * tail back-fills with the others' tasks.
  *
  * One thread per write, created for the call, so each inherits the
  * caller's Spark local properties (job tags, job group): a kill by tag
  * or group reaches every write, and a listener attributes every job to
  * its caller — a reused pool thread would carry whatever copy it
  * inherited when it was created. Each write takes its own table's write
  * lock, so running them together changes no per-table semantics.
  */
object ConcurrentWrites {

  /** Run every `(table, write)` concurrently and return the results in
    * input order. Returns or throws only after EVERY write has ended (an
    * interrupt of the caller is kept for after the wait); on failure it
    * throws the first failure in input order unchanged, with the later
    * failures attached as suppressed.
    */
  def apply[T](writes: Seq[(String, () => T)]): Seq[T] = {
    val results = new Array[Any](writes.size)
    val failures = new Array[Throwable](writes.size)
    val threads = writes.zipWithIndex.map { case ((table, write), i) =>
      val th = new Thread(() =>
        try results(i) = write()
        catch { case e: Throwable => failures(i) = e }, s"graft-write-$table")
      th.setDaemon(true)
      th.start()
      th
    }
    var interrupted = false
    threads.foreach { th =>
      while (th.isAlive)
        try th.join()
        catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    failures.filter(_ != null).toList match {
      case Nil => results.toSeq.map(_.asInstanceOf[T])
      case first :: later =>
        later.filter(_ ne first).foreach(first.addSuppressed)
        throw first
    }
  }
}
