package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One generated input line: the Kafka partition its key hashes to and
  * the JSON payload. */
final case class Line(partition: Int, value: String)

/** Seeded generator of log envelopes (FIXTURES A1). It records, per
  * output topic, how many rows the demux must emit for what it generated,
  * so the check does not depend on the program under test.
  */
final class LogGen(seed: Long, partitions: Int) {
  import LogGen._
  private val rnd = new SplittableRandom(seed)
  private var n = 0L
  /** Expected rows per DWD topic, in [[Topics]] order. */
  val expected: Array[Long] = new Array[Long](Topics.length)

  def next(): Line = {
    n += 1
    val ts = BaseTs + n * 7
    val user = rnd.nextInt(Users)
    val mid = s"mid_$user"
    val b = new StringBuilder(512)
    b ++= s"""{"common":{"ar":"${user % 34}","ba":"brand${user % 5}","ch":"ch${user % 4}",""" +
      s""""is_new":"${user % 2}","md":"m${user % 7}","mid":"$mid","os":"os${user % 3}",""" +
      s""""uid":"$user","vc":"v${user % 9}"}"""
    def page(): Unit =
      b ++= s""","page":{"during_time":${rnd.nextInt(30000)},"item":"${rnd.nextInt(5000)}",""" +
        s""""item_type":"sku_id","last_page_id":"p${rnd.nextInt(10)}",""" +
        s""""page_id":"p${rnd.nextInt(10)}","source_type":"s${rnd.nextInt(3)}"}"""
    val kind = rnd.nextDouble()
    if (kind < ErrorShare) {
      // an error record also carries a page: the demux must route it
      // to the error topic only
      page()
      b ++= s""","err":{"error_code":${1000 + rnd.nextInt(500)},"msg":"e${rnd.nextInt(100)}"}"""
      expected(0) += 1
    } else if (kind < ErrorShare + StartShare) {
      b ++= s""","start":{"entry":"icon","loading_time":${rnd.nextInt(5000)},""" +
        s""""open_ad_id":"${rnd.nextInt(20)}","open_ad_ms":${rnd.nextInt(9000)},""" +
        s""""open_ad_skip_ms":${rnd.nextInt(3000)}}"""
      expected(4) += 1
    } else {
      page()
      expected(1) += 1
      val d = rnd.nextInt(MaxDisplays + 1)
      if (d > 0) {
        b ++= ""","displays":["""
        (0 until d).foreach { i =>
          if (i > 0) b += ','
          b ++= s"""{"display_type":"promotion","item":"${rnd.nextInt(5000)}",""" +
            s""""item_type":"sku_id","order":"${i + 1}","pos_id":"${rnd.nextInt(5)}"}"""
        }
        b += ']'
        expected(2) += d
      }
      val a = rnd.nextInt(MaxActions + 1)
      if (a > 0) {
        b ++= ""","actions":["""
        (0 until a).foreach { i =>
          if (i > 0) b += ','
          b ++= s"""{"action_id":"cart_add","item":"${rnd.nextInt(5000)}",""" +
            s""""item_type":"sku_id","ts":${ts + i}}"""
        }
        b += ']'
        expected(3) += a
      }
    }
    b ++= s""","ts":$ts}"""
    Line(Math.floorMod(mid.hashCode, partitions), b.toString)
  }
}

object LogGen {
  val Topics: Array[String] = {
    import graft.streaming.LogPipeline._
    Array(ErrorTopic, PageTopic, DisplayTopic, ActionTopic, StartTopic)
  }
  // The record mix is an assumption: the envelope schema (FIXTURES A1)
  // fixes which parts a record may carry, not how often. README.md gives
  // the reason for each value.
  val ErrorShare = 0.02
  val StartShare = 0.15
  /** Displays and actions per page record are uniform on 0..max. */
  val MaxDisplays = 4
  val MaxActions = 2
  val Users = 5000
  val BaseTs = 1690000000000L

  def properties: Seq[(String, String)] = Seq(
    "error_share" -> ErrorShare.toString, "start_share" -> StartShare.toString,
    "page_share" -> (1 - ErrorShare - StartShare).toString,
    "displays_per_page" -> s"uniform 0..$MaxDisplays",
    "actions_per_page" -> s"uniform 0..$MaxActions",
    "devices" -> Users.toString, "partition_key" -> "common.mid")
}

/** Seeded generator of Maxwell envelopes (FIXTURES A2). It keeps the
  * expected fact rows per topic and the last write per dim key. */
final class CdcGen(seed: Long, partitions: Int) {
  import CdcGen._
  private val rnd = new SplittableRandom(seed)
  private val nextFactId = mutable.Map.empty[String, Long].withDefaultValue(1L)
  val expectedFacts: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val expectedDims: mutable.Map[(String, String), Map[String, String]] = mutable.Map.empty
  /** Routed dim rows with a kept op: the input of the LWW compaction. */
  var dimRowsIn = 0L

  private def pick[T](mix: Seq[(T, Double)]): T = {
    var u = rnd.nextDouble()
    mix.find { case (_, p) => u -= p; u < 0 }.getOrElse(mix.last)._1
  }

  def next(): Line = {
    val table = pick(TableMix)
    val op = pick(OpMix)
    val id =
      if (DimKeys.contains(table)) rnd.nextInt(DimKeys(table)).toLong
      else if (op == "insert" || op == "bootstrap-insert") {
        val i = nextFactId(table); nextFactId(table) = i + 1; i
      } else rnd.nextLong(1, nextFactId(table) + 1)
    val data = Map("id" -> id.toString, "name" -> s"n${rnd.nextInt(100000)}",
      "amount" -> s"${rnd.nextInt(100000)}", "status" -> s"${rnd.nextInt(5)}")
    val kept = op == "insert" || op == "update" || op == "bootstrap-insert"
    if (kept && FactTables(table)) {
      expectedFacts(s"${table.toUpperCase}_${if (op == "update") "U" else "I"}") += 1
    }
    if (kept && DimKeys.contains(table)) {
      expectedDims((table, id.toString)) = data
      dimRowsIn += 1
    }
    val payload = data.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    Line(Math.floorMod((table, id).hashCode, partitions),
      s"""{"database":"gmall","table":"$table","type":"$op","ts":${rnd.nextInt(1 << 30)},"data":$payload}""")
  }
}

object CdcGen {
  // The routed tables and the op types are those of FIXTURES A2. The
  // table and op shares and the key domains are assumptions; README.md
  // gives the reason for each value.
  val FactTables = Set("order_info", "order_detail")
  /** Dim tables and the size of each one's primary-key domain. */
  val DimKeys = Map("user_info" -> 2000, "sku_info" -> 1000, "base_province" -> 34)
  val TableMix: Seq[(String, Double)] = Seq(
    "order_info" -> 0.25, "order_detail" -> 0.25, "user_info" -> 0.15,
    "sku_info" -> 0.10, "base_province" -> 0.05,
    // not in the routing table: dropped by both routes
    "cart_info" -> 0.12, "favor_info" -> 0.08)
  /** delete and bootstrap-start must be dropped by the op normalization. */
  val OpMix: Seq[(String, Double)] = Seq(
    "insert" -> 0.45, "update" -> 0.35, "bootstrap-insert" -> 0.05,
    "delete" -> 0.10, "bootstrap-start" -> 0.05)

  def routing: Seq[(String, String)] =
    FactTables.toSeq.sorted.map(_ -> "fact") ++ DimKeys.keys.toSeq.sorted.map(_ -> "dim")

  def properties: Seq[(String, String)] = Seq(
    "table_mix" -> TableMix.map { case (t, p) => s"$t:$p" }.mkString(","),
    "op_mix" -> OpMix.map { case (o, p) => s"$o:$p" }.mkString(","),
    "dim_key_domain" -> DimKeys.toSeq.sorted.map { case (t, k) => s"$t:$k" }.mkString(","),
    "partition_key" -> "(table, data.id)")
}
