package graft.model

/** The input record type of the reference's data model (SURVEY.md §1.2).
  *
  * Input schema from the reference's Avro declaration
  * (reference: src/main/resources/avro/ClickEvent.avsc:1-14):
  * `globalseq`/`prevglobalseq` are carried but never read by any operator.
  */
final case class ClickEvent(
    ip: String,
    eventtimestamp: Long, // epoch millis; the event-time column
    devicetype: String,
    event_type: String,   // nullable in Avro union
    product_type: String, // nullable in Avro union; ""/"N/A" = non-qualifying
    userid: Int,
    globalseq: Long,
    prevglobalseq: Long)
