package graft.core

/** Independent Spark actions overlapped on driver threads: actions are
  * only sequential because the driver calls them sequentially, so one
  * action's task tail backfills with the next action's tasks instead of
  * idling the executor pool. Only for actions with no data or protocol
  * dependency on each other (e.g. writes to different target paths).
  */
object DriverThreads {

  /** Run every task on its own thread and join them all. If any failed,
    * rethrows the failure of the earliest task (in argument order) with
    * every other failure attached through `addSuppressed`, so no error is
    * lost. Siblings of a failed task run to completion. Threads inherit
    * the caller's Spark local properties (job group, scheduler pool).
    */
  def concurrently(tasks: (() => Unit)*): Unit = {
    val errs = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() => {
        try t()
        catch { case e: Throwable => errs(i) = e }
      })
      th.start()
      th
    }
    threads.foreach(_.join())
    errs.filter(_ != null).toList match {
      case Nil => ()
      case first :: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
    }
  }
}
