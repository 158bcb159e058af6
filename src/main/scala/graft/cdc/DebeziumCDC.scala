package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One change event, normalized across CDC sources (reference
  * CDCMessage.scala:21-30): Debezium envelopes (S11) and MSSQL-CDC-style
  * op-coded polls (S12) both land here, as Dataset[CDCMessage] rows —
  * column values kept as strings exactly like the reference's
  * Map[String, String] before/after images.
  */
final case class CDCMessage(
    database: String,
    schema: String,
    table: String,
    isInsert: Boolean,
    isUpdate: Boolean,
    isDelete: Boolean,
    before: Map[String, String],
    after: Map[String, String],
    seq: Long)

/** S11: Debezium envelope parsing (reference DebeziumCDCRunner.scala:37-121).
  *
  * Input is a DataFrame with a `value` string column (Kafka's value / a file
  * stream's line — the envelope is transport-agnostic). Parsing runs
  * distributed via mapPartitions+json4s: Debezium's before/after are
  * per-table arbitrary structs, so a fixed `from_json` schema can't cover
  * every table on the topic-regex; a map-of-strings normalization can.
  */
object DebeziumCDC {

  def parse(envelopes: DataFrame): Dataset[CDCMessage] = {
    import envelopes.sparkSession.implicits._
    envelopes.select(col("value").cast("string")).as[String]
      .mapPartitions(_.flatMap(parseOne))
  }

  private[cdc] def parseOne(json: String): Option[CDCMessage] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    if (json == null || json.trim.isEmpty) return None
    val root = try JsonMethods.parse(json) catch { case _: Exception => return None }
    // tolerate both the full envelope {schema, payload} and a bare payload
    val payload = root \ "payload" match {
      case JNothing => root
      case p => p
    }
    val op = payload \ "op" match {
      case JString(o) => o
      case _ => return None // heartbeat / schema-change messages
    }
    def img(name: String): Map[String, String] = payload \ name match {
      case JObject(fields) => fields.collect {
        case (k, JString(v))  => k -> v
        case (k, JInt(v))     => k -> v.toString
        case (k, JLong(v))    => k -> v.toString
        case (k, JDouble(v))  => k -> v.toString
        case (k, JDecimal(v)) => k -> v.toString
        case (k, JBool(v))    => k -> v.toString
      }.toMap
      case _ => Map.empty
    }
    val source = payload \ "source"
    def srcStr(k: String): String = source \ k match {
      case JString(s) => s
      case _ => ""
    }
    val seq = payload \ "ts_ms" match {
      case JInt(v) => v.toLong
      case JLong(v) => v
      case _ => 0L
    }
    Some(CDCMessage(
      database = srcStr("db"), schema = srcStr("schema"), table = srcStr("table"),
      isInsert = op == "c" || op == "r",
      isUpdate = op == "u",
      isDelete = op == "d",
      before = img("before"), after = img("after"), seq = seq))
  }
}

/** §2.9: apply a CDC micro-batch to a catalog table — the foreachBatch MERGE
  * the reference's threshold-routed SQL generation collapses into
  * (CDCMessageProcessor.scala:32-75: Spark MERGE handles any batch size, so
  * the small-batch/large-batch split disappears).
  */
object CdcApply {

  /** Reduce a batch to final per-key images (arrival order by `seq`), then
    * one MERGE + one delete anti-join against the target table. Returns the
    * new table DataFrame (caller owns the write/swap).
    *
    * Pure DataFrame ops end to end (`element_at` on the image maps + a
    * rank window) — no typed lambdas, so the whole apply stays inside
    * WholeStageCodegen and the only data movement is the rank window's
    * hash partition on the key columns.
    */
  def applyBatch(target: DataFrame, batch: Dataset[CDCMessage],
      keys: Seq[String]): DataFrame = {
    val df = batch.toDF()
    // key columns come from the relevant image (delete → before, else after)
    val keyed = df.select(
      (keys.map(k => element_at(
        when(col("isDelete"), col("before")).otherwise(col("after")), k).as(s"_k_$k"))
        ++ Seq(col("isDelete"), col("after"), col("seq"))): _*)
    // last event per key wins (max seq; ties → later wins via seq desc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(k => col(s"_k_$k")): _*)
      .orderBy(col("seq").desc)
    val lastPerKey = keyed
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)

    val tableFields = target.schema.fields
    val upserts = lastPerKey.filter(!col("isDelete"))
      .select(tableFields.map(f =>
        expr(s"try_cast(element_at(after, '${f.name}') AS ${f.dataType.sql})")
          .as(f.name)).toIndexedSeq: _*)
    val deletes = lastPerKey.filter(col("isDelete"))
      .select(keys.map { k =>
        val dt = target.schema(k).dataType
        expr(s"try_cast(`_k_$k` AS ${dt.sql})").as(k)
      }: _*)

    val merged = graft.operators.MergeUpsert(target, upserts, keys)
    merged.join(broadcast(deletes), keys, "left_anti")
  }
}
