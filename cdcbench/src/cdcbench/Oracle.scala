package cdcbench

import Gen.Ev

/** Independent oracles, written from the record contract and never calling
  * the program's replay, enrichment or projection code:
  *
  *  - produce: each event becomes exactly one Kafka record on topic
  *    `flink_cdc_test_db`, key `test_db.events.<event_id>`, partition
  *    `abs(key.hashCode % 12)`, and the Debezium envelope JSON as value,
  *    with `event_type` cut to 6 and `props` to 8 characters in the
  *    op-selected image (before for deletes, after otherwise; a value is
  *    cut when its length is at least the maximum);
  *  - replica: per key the change with the greatest (ts_ms, pos) wins,
  *    deleted keys are absent, and every other key holds its winner's
  *    after-image.
  */
object Oracle {
  val Db = "test_db"
  val Table = "events"
  val Topic = "flink_cdc_test_db"
  val Partitions = 12
  /** the produce workloads' `-table_pk` */
  val ProduceTablePk =
    """[{"db":"test_db","table":"eve.*","primary_key":"event_id","column_max_length":"event_type=6|props=8"}]"""
  /** the apply workload's `-table_pk` (no truncation) */
  val ApplyTablePk = """[{"db":"test_db","table":"eve.*","primary_key":"event_id"}]"""

  def op(id: Long): String = Math.floorMod(id, 10L) match {
    case 0 => "d"
    case 1 => "u"
    case _ => "c"
  }

  def tsMs(e: Ev): Long = Math.floorDiv(e.tsMicros, 1000000L) * 1000L

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def tsString(e: Ev): String =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(e.tsMicros, 1000000L), 0,
      java.time.ZoneOffset.UTC).format(tsFmt)

  def valueString(e: Ev): String =
    java.math.BigDecimal.valueOf(e.cents.toLong, 2).toPlainString

  def key(id: Long): String = s"$Db.$Table.$id"

  def partition(key: String): Int = math.abs(key.hashCode % Partitions)

  /** The row image as the replica stores it. */
  def image(e: Ev): Map[String, String] = Map(
    "event_id" -> e.id.toString, "ts" -> tsString(e), "user_id" -> e.userId.toString,
    "event_type" -> e.eventType, "value" -> valueString(e), "props" -> e.props)

  private def cut(s: String, max: Int) = if (s.length >= max) s.substring(0, max) else s

  private def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def imageJson(e: Ev, truncated: Boolean): String = {
    val et = if (truncated) cut(e.eventType, 6) else e.eventType
    val pr = if (truncated) cut(e.props, 8) else e.props
    Seq("event_id" -> e.id.toString, "ts" -> tsString(e), "user_id" -> e.userId.toString,
      "event_type" -> et, "value" -> valueString(e), "props" -> pr)
      .map { case (k, v) => jsonString(k) + ":" + jsonString(v) }.mkString("{", ",", "}")
  }

  /** The produced record value for event `e`. */
  def envelope(e: Ev): String = {
    val o = op(e.id)
    val before = o match {
      case "d" => imageJson(e, truncated = true)
      case "u" => imageJson(e, truncated = false)
      case _ => "null"
    }
    val after = if (o == "d") "null" else imageJson(e, truncated = true)
    val t = tsMs(e)
    s"""{"before":$before,"after":$after,"source":{"version":"1.6.4.Final",""" +
      s""""connector":"mysql","name":"mysql_binlog_source","ts_ms":$t,""" +
      s""""snapshot":"false","db":"$Db","sequence":null,"table":"$Table",""" +
      s""""server_id":57330068,"gtid":null,"file":"mysql-bin-changelog.000001",""" +
      s""""pos":${e.id},"row":0,"thread":null,"query":null},"op":"$o","ts_ms":$t}"""
  }

  /** 64-bit fingerprint of a record value, so the recorder need not keep
    * every value's bytes.
    */
  def valueHash(bytes: Array[Byte]): Long = {
    import scala.util.hashing.MurmurHash3.bytesHash
    (bytesHash(bytes, 0x3c6ef372).toLong << 32) | (bytesHash(bytes, 0x1b873593) & 0xffffffffL)
  }

  def valueHash(s: String): Long =
    valueHash(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // ---------------------------------------------------------------- produce

  final case class Produced(key: String, topic: String, partition: Int, valueHash: Long)

  /** Failures by kind; `failed` counts each event at most once. */
  final case class Check(attempted: Long, missing: Long, duplicated: Long,
      mismatched: Long, unexpected: Long) {
    def failed: Long = missing + duplicated + mismatched + unexpected
    def asMap: Map[String, Any] = Map("attempted" -> attempted, "missing" -> missing,
      "duplicated" -> duplicated, "mismatched" -> mismatched, "unexpected" -> unexpected)
  }

  /** Checks the committed records against every expected event: each is
    * produced exactly once with the expected topic, key, partition and
    * value. A record whose key names no expected event is `unexpected`.
    */
  def checkProduced(expected: Iterator[Ev], produced: Iterator[Produced]): Check = {
    val want = new java.util.HashMap[String, Ev]()
    expected.foreach(e => want.put(key(e.id), e))
    val seen = new java.util.HashMap[String, Integer]()
    var mismatched, unexpected = 0L
    val bad = new java.util.HashSet[String]()
    produced.foreach { p =>
      val e = want.get(p.key)
      if (e == null) unexpected += 1
      else {
        seen.merge(p.key, 1, (a: Integer, b: Integer) => a + b)
        if (p.topic != Topic || p.partition != partition(p.key) ||
            p.valueHash != valueHash(envelope(e))) bad.add(p.key)
      }
    }
    var missing, duplicated = 0L
    want.keySet.forEach { k =>
      val n = seen.getOrDefault(k, 0)
      if (n == 0) missing += 1
      else if (n > 1) duplicated += 1
      else if (bad.contains(k)) mismatched += 1
    }
    Check(want.size, missing, duplicated, mismatched, unexpected)
  }

  // ---------------------------------------------------------------- replica

  final case class Row(key: String, after: Map[String, String], tsMs: Long, pos: Long)

  /** Expected live rows: the preload (op `r`, ts BaseSec) then `changes`,
    * the greatest (ts_ms, pos) per key winning; a delete winner removes
    * the key.
    */
  def expectedReplica(preload: Iterator[Ev], changes: Iterator[Ev]): Map[String, Row] = {
    val win = scala.collection.mutable.HashMap.empty[Long, (Ev, Boolean)]
    def offer(e: Ev, deleted: Boolean): Unit = win.get(e.id) match {
      case Some((w, _)) if tsMs(w) > tsMs(e) || (tsMs(w) == tsMs(e) && w.id >= e.id) => ()
      case _ => win(e.id) = (e, deleted)
    }
    preload.foreach(offer(_, deleted = false))
    changes.foreach(e => offer(e, op(e.id) == "d"))
    win.iterator.collect { case (id, (e, false)) =>
      key(id) -> Row(key(id), image(e), tsMs(e), id)
    }.toMap
  }

  /** Compares the replica's live rows with the expectation: a key that is
    * absent is `missing`, one listed twice `duplicated`, one that should
    * not exist `unexpected`, one with another image or version
    * `mismatched`. `attempted` is the number of changes applied.
    */
  def checkReplica(attempted: Long, expected: Map[String, Row], actual: Iterator[Row]): Check = {
    val seen = scala.collection.mutable.HashMap.empty[String, Int]
    var mismatched, unexpected = 0L
    actual.foreach { r =>
      seen(r.key) = seen.getOrElse(r.key, 0) + 1
      expected.get(r.key) match {
        case None => unexpected += 1
        case Some(w) => if (w != r) mismatched += 1
      }
    }
    val missing = expected.keysIterator.count(k => !seen.contains(k)).toLong
    val duplicated = seen.valuesIterator.count(_ > 1).toLong
    Check(attempted, missing, duplicated, mismatched, unexpected)
  }
}
