package graft.sinks

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** Bounded driver-side fan-out for independent metadata I/O (footer reads,
  * hard links): `f` over `items` on at most [[MaxThreads]] threads, with
  * results in `items` order, so nothing built from them depends on which
  * call finished first.
  */
private[sinks] object DriverPool {
  private val MaxThreads = 16

  def map[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(math.min(items.size, MaxThreads))
      try pool.invokeAll(items.map(a => (() => f(a)): Callable[B]).asJava)
        .asScala.toSeq.map(_.get)
      finally pool.shutdown()
    }
}
