package graft

import java.util.concurrent.{ExecutionException, FutureTask, TimeUnit,
  TimeoutException}

/** Runs a call on its own daemon thread and fails if it does not return
  * within the bound, so a parser that hangs fails its test instead of
  * stalling the suite. A timed-out call is left running on the daemon
  * thread; an exception thrown by the call is rethrown as is. */
object Bounded {
  def apply[A](seconds: Long, what: => String)(f: => A): A = {
    val task = new FutureTask[A](() => f)
    val t = new Thread(task, "bounded-call")
    t.setDaemon(true)
    t.start()
    try task.get(seconds, TimeUnit.SECONDS)
    catch {
      case _: TimeoutException =>
        throw new AssertionError(s"$what did not return within $seconds s")
      case e: ExecutionException => throw e.getCause
    }
  }
}
