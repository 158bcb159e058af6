package graft.runtime

import scala.collection.mutable

/** Attribute-filtered pub/sub (K9, reference SNS notification surface:
  * Notification.scala:21-32 + ObjectStoreLoader.scala:211-235): every
  * successful load publishes a notification carrying dataset/table/location
  * attributes; subscribers register a filter map and receive only matching
  * events — SNS subscription filter-policy semantics, in process.
  */
final class EventBus(maxRetained: Int = 100000) {
  import EventBus.Notification

  private val subscribers =
    mutable.ArrayBuffer.empty[(Map[String, String], Notification => Unit)]
  private val published = mutable.ArrayBuffer.empty[Notification]

  /** Subscribe with an attribute filter: the callback fires only when every
    * filter key is present in the notification's attribute view with an
    * equal value (empty filter = receive everything).
    */
  def subscribe(filter: Map[String, String])(callback: Notification => Unit): Unit =
    synchronized { subscribers += filter -> callback }

  def publish(n: Notification): Unit = {
    val subs = synchronized {
      published += n
      // bounded history: a long-lived service must not grow without limit
      // (the reference's SNS has no history; ours exists for observability).
      // Chunked trim keeps the amortized cost O(1) per publish.
      if (published.length > maxRetained + maxRetained / 10)
        published.remove(0, published.length - maxRetained)
      subscribers.toVector
    }
    val attrs = n.attributes ++ Map(
      "dataset" -> n.dataset, "destination" -> n.destination,
      "database" -> n.database, "table" -> n.table)
    subs.foreach { case (filter, cb) =>
      if (filter.forall { case (k, v) => attrs.get(k).contains(v) }) cb(n)
    }
  }

  def history: Seq[Notification] = synchronized { published.toVector }
}

object EventBus {
  final case class Notification(
      dataset: String,
      pipelineToken: String,
      destination: String, // objectStore | database
      database: String,
      table: String,
      location: String,
      attributes: Map[String, String] = Map.empty)
}
