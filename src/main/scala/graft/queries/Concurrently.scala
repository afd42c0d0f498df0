package graft.queries

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** Independent shared-setup builds run side by side (guide §2.6): one on
  * the caller's thread, the others in `Future`s, so a driver-CPU-heavy
  * build back-fills another's job-latency gaps. */
private[graft] object Concurrently {

  /** Run `onCaller` on this thread while each of `beside` runs in a
    * `Future`; return `onCaller`'s value. Every started build is awaited
    * before the call returns or throws, also when another one failed: an
    * orphaned build would keep running jobs in the session after the call
    * returned, and its own failure would be lost (ADVICE r13). The first
    * failure is rethrown: `onCaller`'s, else the first of `beside` in
    * argument order. */
  def apply[A](onCaller: => A)(beside: (() => Any)*): A = {
    val started = beside.map(b => Future(b()))
    val out = try onCaller finally started.foreach(Await.ready(_, Duration.Inf))
    started.foreach(Await.result(_, Duration.Inf))
    out
  }
}
