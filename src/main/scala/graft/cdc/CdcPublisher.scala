package graft.cdc

import graft.runtime.EventBus

/** K10: CDC fan-out (reference CDCMessagePublisher.scala:33-80) — change
  * messages published to the notification bus in size-bounded JSON chunks
  * with db/schema/table filter attributes, so downstream subscribers (the
  * reference's SNS consumers) can attribute-filter per table. The ≤255 KB
  * chunk bound mirrors the SNS payload limit; an in-process bus doesn't
  * need it, an external broker does — keeping it makes the publisher
  * broker-portable.
  *
  * A batch spanning multiple tables is grouped by (database, schema, table)
  * FIRST and chunked per group, so every chunk's filter attributes describe
  * exactly the messages it carries — attribute-filtered subscribers never
  * receive another table's events or miss their own. Within a group the
  * input order is preserved. A single message whose JSON alone exceeds
  * `maxChunkBytes` is emitted as its own (oversized) chunk rather than
  * silently violating the bound mid-chunk or being dropped — the subscriber
  * side sizes for it or rejects it visibly.
  */
final class CdcPublisher(bus: EventBus, maxChunkBytes: Int = 255 * 1024) {

  def publish(messages: Seq[CDCMessage]): Int =
    messages.groupBy(m => (m.database, m.schema, m.table)).toSeq.sortBy(_._1)
      .map { case ((db, sch, tbl), group) => publishGroup(db, sch, tbl, group) }
      .sum

  private def publishGroup(db: String, sch: String, tbl: String,
      group: Seq[CDCMessage]): Int = {
    var chunks = 0
    val buf = new StringBuilder("[")
    def flush(): Unit = if (buf.length > 1) {
      buf.append("]")
      chunks += 1
      bus.publish(EventBus.Notification(
        dataset = s"$db.$sch.$tbl",
        pipelineToken = "", destination = "cdc",
        database = db, table = tbl,
        location = "", attributes = Map(
          "db" -> db, "schema" -> sch,
          "table" -> tbl, "payload" -> buf.toString)))
      buf.clear(); buf.append("[")
    }
    group.foreach { m =>
      val json = toJson(m)
      // flush BEFORE the append that would cross the bound; an oversized
      // single message lands in an otherwise-empty buffer and flushes alone
      if (buf.length > 1 && buf.length + json.length + 2 > maxChunkBytes) flush()
      if (buf.length > 1) buf.append(",")
      buf.append(json)
    }
    flush()
    chunks
  }

  private def toJson(m: CDCMessage): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def img(mm: Map[String, String]) =
      mm.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    s"""{"database": ${q(m.database)}, "schema": ${q(m.schema)}, "table": ${q(m.table)},
       |"isInsert": ${m.isInsert}, "isUpdate": ${m.isUpdate}, "isDelete": ${m.isDelete},
       |"before": ${img(m.before)}, "after": ${img(m.after)}, "seq": ${m.seq}}"""
      .stripMargin.replace("\n", " ")
  }
}
