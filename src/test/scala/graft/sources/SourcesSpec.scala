package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.ops.FleetSnapshot

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docPath =
    getClass.getResource("/printers.json").getPath
  private lazy val doc = DocumentIngest.readDocument(spark, docPath)

  test("P1/U1: explode both groups with discriminator + row index") {
    val p = DocumentIngest.printers(doc)
    assert(p.count() == 6)
    val byGroup = p.groupBy("group").count().as[(String, Long)].collect().toMap
    assert(byGroup == Map("Company_Grouped" -> 3L, "Branches_Grouped" -> 3L))
    // union-by-name keeps group-specific columns, null on the other side
    assert(p.columns.contains("Floor") && p.columns.contains("Name"))
    assert(p.where($"group" === "Company_Grouped" && $"Name".isNotNull).count() == 0)
    // positional index preserved per group
    assert(p.where($"group" === "Company_Grouped").select(max("row_idx"))
      .first().getInt(0) == 2)
  }

  test("tonerType dual-type unification: array stays, scalar wraps, null stays") {
    val p = DocumentIngest.printers(doc)
    val tt = p.select($"ID".cast("string"), $"printerInfo.tonerType")
      .as[(String, Option[Seq[String]])].collect().toMap
    assert(tt("3") == Some(Seq("W1470A")))
    assert(tt("105") == Some(Seq("MLT-D203E"))) // web-path scalar wrapped
    assert(tt("212") == None)
    assert(tt("330") == None) // no printerInfo at all
  }

  test("P3: bad-IP filter keeps only real IPs, before any fan-out") {
    val p = DocumentIngest.withValidIp(DocumentIngest.printers(doc))
    val ips = p.select("ip").as[String].collect().toSet
    assert(ips == Set("10.0.1.7", "10.0.3.9", "10.5.0.12", "10.7.0.3"))
  }

  test("S3: employee header synonyms (EN+Hebrew), blank rows dropped") {
    // "מספר סניף" is in the reference's exact id synonym list
    // (employee_source.py:24); "מס' סניף" is NOT and would null out.
    val raw = Seq(
      ("105", "דנה לוי", "0540000000"),
      ("212", "", "0521111111"),
      ("", "", ""))
      .toDF("מספר סניף", "שם איש קשר", "Contacts Phone")
    val e = SideTables.employees(raw).orderBy("id")
    val rows = e.as[(String, String, String)].collect()
      .map { case (i, n, p) => (i, Option(n), Option(p)) }
    assert(e.columns.toSeq == Seq("id", "name", "phone"))
    assert(rows.toSeq == Seq(
      ("105", Some("דנה לוי"), Some("0540000000")),
      ("212", None, Some("0521111111"))))
  }

  test("S4: duplicate headers deduped positionally, unnamed dropped") {
    val df = Seq(("a", "b", "c", "d")).toDF("X", "x", "Unnamed: 3", "X")
    val out = SideTables.dedupeHeaders(df)
    // duplicates count by EXACT trimmed name (location_source.py:6-21):
    // "x" is a distinct base from "X" (suffixed only because Spark's
    // case-insensitive resolution cannot hold both), the second "X"
    // becomes X_2.
    assert(out.columns.toSeq == Seq("X", "x__1", "X_2"))
  }

  test("S5: device fan-out degrades per-device failure to zero rows") {
    val client = new DeterministicSnmpFake(failEvery = 2) // even hashes fail
    val devices = Seq("a", "b", "c", "d", "e").toDF("ip")
    val walk = DevicePoll.walk(spark, devices, SnmpPayload.SuppliesBase, client)
    val polled = walk.select("ip").distinct().as[String].collect().toSet
    val expected = Seq("a", "b", "c", "d", "e")
      .filter(ip => math.abs(ip.hashCode) % 2 != 0).toSet
    assert(polled == expected)
    assert(polled.nonEmpty)
  }

  test("S5: one poll per distinct IP per action; a pre-filtered frame polls only kept devices") {
    val devices = Seq("10.0.0.1", "10.0.0.2", "10.0.0.2", "10.0.0.3", "10.0.0.1")
      .toDF("ip")
    CountingSnmpClient.polls.reset()
    val all = DevicePoll.walk(spark, devices, SnmpPayload.SuppliesBase,
      new CountingSnmpClient)
    assert(all.select("ip").distinct().count() == 3)
    assert(CountingSnmpClient.polls.sum() == 3)

    CountingSnmpClient.polls.reset()
    val kept = DevicePoll.walk(spark, devices.where($"ip".isin("10.0.0.2", "10.0.0.3")),
      SnmpPayload.SuppliesBase, new CountingSnmpClient)
    assert(kept.select("ip").distinct().as[String].collect().toSet ==
      Set("10.0.0.2", "10.0.0.3"))
    assert(CountingSnmpClient.polls.sum() == 2)

    // copies of one IP that start in different partitions meet in one poller
    val spread = spark.sparkContext.parallelize(
      Seq("10.0.0.1", "10.0.0.2", "10.0.0.1", "10.0.0.2", "10.0.0.3", "10.0.0.1"), 3)
      .toDF("ip")
    assert(spread.rdd.getNumPartitions == 3)
    CountingSnmpClient.polls.reset()
    val walked = DevicePoll.walk(spark, spread, SnmpPayload.SuppliesBase,
      new CountingSnmpClient)
    assert(walked.select("ip").distinct().count() == 3)
    assert(CountingSnmpClient.polls.sum() == 3)
  }

  test("S5: the fan-out runs one poller per task slot, whatever the input's partitioning") {
    val slots = spark.sparkContext.defaultParallelism
    val ips = (1 to 20).map(i => s"10.0.0.$i")
    for (n <- Seq(1, 7)) {
      val devices = spark.sparkContext.parallelize(ips, n).toDF("ip")
      assert(devices.rdd.getNumPartitions == n)
      val walked = DevicePoll.walk(spark, devices, SnmpPayload.SuppliesBase,
        new DeterministicSnmpFake(failEvery = 0))
      assert(walked.rdd.getNumPartitions == slots, s"input partitions $n")
      assert(walked.select("ip").distinct().count() == ips.size)
    }
  }

  private val S = SnmpPayload.SuppliesBase
  private val C = SnmpPayload.ColorantBase

  /** One supplies row's cells: column id → value (walk order kept). */
  private def supplyRow(ip: String, row: Int, cells: (Int, String)*) =
    cells.map { case (c, v) => (ip, s"$S.$c.1.$row", v) }

  private def cartridgeMap(walk: org.apache.spark.sql.DataFrame) =
    SnmpPayload.cartridges(walk).as[(String, Seq[(String, String)])].collect().toMap

  test("A1/J4/F9-F11: SNMP walk rows → ordered cartridge structs") {
    val client = new DeterministicSnmpFake(failEvery = 0)
    val devices = Seq("10.0.1.7").toDF("ip")
    val supplies = DevicePoll.walk(spark, devices, SnmpPayload.SuppliesBase, client)
    val colorant = DevicePoll.walk(spark, devices, SnmpPayload.ColorantBase, client)
    // OIDs that end early (a truncated device answer) are skipped
    val truncated = Seq(("10.0.1.7", "1.3.6.1.2.1.43.11", "x"),
      ("10.0.1.7", "1.3.6.1.2.1.43.12.1", "y"))
    val edge =
      // lookup defaults: marker 0 and marker null → 1, colorant null → 0;
      // no colorant match keeps the description's color; a non-toner and
      // an unparsable supply_type are dropped
      supplyRow("d1", 1, 2 -> "0", 3 -> "1", 5 -> "3", 6 -> "toner A", 7 -> "7", 8 -> "100", 9 -> "40") ++
      supplyRow("d1", 2, 3 -> "2", 5 -> "3", 6 -> "toner B", 7 -> "7", 8 -> "100", 9 -> "50") ++
      supplyRow("d1", 3, 2 -> "1", 5 -> "3", 6 -> "toner C", 7 -> "19", 9 -> "70") ++
      supplyRow("d1", 4, 2 -> "1", 3 -> "9", 5 -> "3", 6 -> "yellow toner", 7 -> "7", 8 -> "200", 9 -> "50") ++
      supplyRow("d1", 5, 2 -> "1", 3 -> "1", 5 -> "4", 6 -> "waste", 7 -> "7", 8 -> "100", 9 -> "10") ++
      supplyRow("d1", 6, 2 -> "1", 3 -> "1", 5 -> "toner", 6 -> "black", 7 -> "7", 8 -> "100", 9 -> "10") ++
      Seq(("d1", s"$C.1.1.1", "cyan"), ("d1", s"$C.1.1.2", "magenta"), ("d1", s"$C.1.1.0", "black")) ++
      // only colorant rows, or only non-toner rows: no cartridges, no entry
      Seq(("d2", s"$C.1.1.1", "cyan")) ++
      supplyRow("d3", 1, 2 -> "1", 3 -> "1", 5 -> "4", 6 -> "waste", 9 -> "10") ++
      Seq(("d3", s"$C.1.1.1", "black")) ++
      // a colorant key with two colorant rows takes the last one walked,
      // in (rowIdx, cartridge, remaining_percent) order
      supplyRow("d4", 2, 2 -> "1", 3 -> "2", 5 -> "3", 6 -> "toner", 7 -> "7", 8 -> "100", 9 -> "20") ++
      supplyRow("d4", 1, 2 -> "1", 3 -> "1", 5 -> "3", 6 -> "toner", 7 -> "7", 8 -> "100", 9 -> "10") ++
      Seq(("d4", s"$C.1.1.1", "yellow"), ("d4", s"$C.1.1.2", "magenta"),
        ("d4", s"$C.1.1.1", "black")) ++
      // a supplies OID that ends before its row id is a null row, which
      // sorts first
      Seq(("d5", s"$S.5.1", "3"), ("d5", s"$S.6.1", "black toner"), ("d5", s"$S.7.1", "7"),
        ("d5", s"$S.8.1", "100"), ("d5", s"$S.9.1", "30")) ++
      supplyRow("d5", 1, 5 -> "3", 6 -> "cyan toner", 7 -> "7", 8 -> "100", 9 -> "60") ++
      // an OID repeated with the same value
      supplyRow("d6", 1, 5 -> "3", 6 -> "toner", 7 -> "7", 8 -> "100", 9 -> "80", 9 -> "80") ++
      Seq(("d6", s"$C.1.1.0", "cyan"), ("d6", s"$C.1.1.0", "cyan"))
    val out = cartridgeMap(supplies.union(colorant)
      .unionByName((truncated ++ edge).toDF("ip", "oid", "value")))
    assert(out.keySet == Set("10.0.1.7", "d1", "d4", "d5", "d6"))
    val carts = out("10.0.1.7")
    val h = math.abs("10.0.1.7".hashCode)
    assert(carts.length == 1 + h % 4)
    // colors follow the colorant table in SNMP row order
    val wantColors = Seq("Black", "Cyan", "Magenta", "Yellow").take(carts.length)
    assert(carts.map(_._1) == wantColors)
    // every percent is null or "N%" with N in [0,100]
    carts.map(_._2).filter(_ != null).foreach { p =>
      assert(p.matches("\\d+%"))
      assert(p.dropRight(1).toInt >= 0 && p.dropRight(1).toInt <= 100)
    }
    assert(out("d1") == Seq(("Cyan", "40%"), ("Magenta", "50%"), ("Black", "70%"),
      ("Yellow", "25%")))
    assert(out("d4") == Seq(("Black", "10%"), ("Magenta", "20%")))
    assert(out("d5") == Seq(("Black", "30%"), ("Cyan", "60%")))
    assert(out("d6") == Seq(("Cyan", "80%"))) // a repeated colorant OID is one cartridge
  }

  test("F9: a huge level reads 100% and leaves every other cartridge as it was") {
    val client = new DeterministicSnmpFake(failEvery = 0)
    val ips = Seq("10.0.1.7", "10.0.3.9")
    val walk = ips.flatMap(ip =>
      (client.walk(ip, S) ++ client.walk(ip, C)).map { case (o, v) => (ip, o, v) })
    val base = cartridgeMap(walk.toDF("ip", "oid", "value"))
    // row 1 has unit 7; with max 1, 100·level/max does not fit a long
    val huge = walk.map {
      case ("10.0.1.7", o, _) if o == s"$S.8.1.1" => ("10.0.1.7", o, "1")
      case ("10.0.1.7", o, _) if o == s"$S.9.1.1" => ("10.0.1.7", o, "900000000000000000")
      case r => r
    }
    val got = cartridgeMap(huge.toDF("ip", "oid", "value"))
    assert(got("10.0.1.7").head == ((base("10.0.1.7").head._1, "100%")))
    assert(got("10.0.1.7").tail == base("10.0.1.7").tail)
    assert(got - "10.0.1.7" == base - "10.0.1.7")
  }

  test("cartridges over a two-walk union: one Exchange, no Join, one poll per device and OID") {
    // the one Exchange is above the polls (cartridges' groupBy(ip)); under
    // them both walks read one IP shuffle, the second as a ReusedExchange
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val devices = Seq("10.0.0.1", "10.0.0.2", "10.0.0.3").toDF("ip")
    val client = new CountingSnmpClient
    val walk = DevicePoll.walk(spark, devices, S, client)
      .union(DevicePoll.walk(spark, devices, C, client))
    val carts = SnmpPayload.cartridges(walk)
    CountingSnmpClient.polls.reset()
    assert(carts.collect().length == 3)
    assert(CountingSnmpClient.polls.sum() == 6)
    val plan = carts.queryExecution.executedPlan
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    assert(helper.collect(plan) { case j: BaseJoinExec => j }.isEmpty)
    val polls = helper.collect(plan) { case m: MapPartitionsExec => m }
    assert(polls.length == 2)
    // under the polls: the IP shuffle runs once, the second walk reuses it
    val under = polls.flatMap(p => helper.collect(p) { case e: ShuffleExchangeExec => e })
    assert(under.length == 1)
    assert(under.head.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => a.name == "ip"
      case _ => false
    })
    assert(polls.flatMap(p => helper.collect(p) { case r: ReusedExchangeExec => r }).length == 1)
    // above the polls: cartridges' groupBy(ip) only
    val above = helper.collect(plan) { case e: Exchange => e }.filterNot(e => under.exists(_ eq e))
    assert(above.length == 1)
  }

  test("S5: building a walk runs no Spark job; the action polls") {
    val key = "spark.job.description"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(String.valueOf(e.properties.getProperty(key)))
    }
    val sc = spark.sparkContext
    // the listener sees jobs in order: seeing "done" means it saw all before
    def marker(desc: String): Unit = { sc.setJobDescription(desc); spark.range(1).count() }
    val devices = Seq("10.0.0.1", "10.0.0.2", "10.0.0.3").toDF("ip")
    CountingSnmpClient.polls.reset()
    sc.addSparkListener(listener)
    val walk = try {
      marker("begin")
      sc.setJobDescription("walk")
      val w = DevicePoll.walk(spark, devices, S, new CountingSnmpClient)
        .union(DevicePoll.walk(spark, devices, C, new CountingSnmpClient))
      marker("done")
      eventually(timeout(30.seconds))(assert(descs.contains("done")))
      w
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
    assert(!descs.asScala.exists(_ == "walk"))
    assert(CountingSnmpClient.polls.sum() == 0)
    assert(walk.select("ip").distinct().count() == 3)
    assert(CountingSnmpClient.polls.sum() == 6)
  }

  test("FleetSnapshot: flatten + first-wins colors + raw nulls") {
    val snap = FleetSnapshot(DocumentIngest.printers(doc))
    val byId = snap.collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(byId("3").getAs[String]("Status") == "online")
    // float("37%") fails in the reference, so the formatted string is
    // kept VERBATIM (update_from_json.py:96-103)
    assert(byId("3").getAs[String]("Black") == "37%")
    assert(byId("3").getAs[String]("Toner Type") == "W1470A")
    // first-wins: "black toner" (5%) precedes "K" (99%)
    assert(byId.keySet.contains("7"))
    val seven = snap.where(col("row_idx") === 1 && col("group") === "Company_Grouped")
      .collect().head
    assert(seven.getAs[String]("Black") == "5%")
    assert(seven.getAs[String]("Toner Type") == "CF226X") // distinct
    // null percent → null; dashing happens at the SHEET write, so the
    // snapshot keeps raw nulls (extract_info leaves None)
    assert(byId("212").isNullAt(byId("212").fieldIndex("Yellow")))
    assert(byId("330").getAs[String]("Status") == "offline")
    assert(byId("330").isNullAt(byId("330").fieldIndex("Error")))
  }

  test("J3: cross-group id collision — the later GROUP wins, not the larger row_idx") {
    // document order is (group rank, row_idx): a Branches record at
    // row_idx 2 must beat a Company record at row_idx 900 for the same
    // canonical id (iter_printers walks Company_Grouped first)
    import spark.implicits._
    val snap = Seq(
      ("Company_Grouped", 900L, "55", "company-wins?"),
      ("Branches_Grouped", 2L, "55", "branches-wins"))
      .toDF("group", "row_idx", "id", "Status")
    val idMap = FleetSnapshot.upsertIdMap(snap)
    assert(idMap.count() == 1)
    assert(idMap.collect().head.getAs[String]("Status") == "branches-wins")
  }

  test("J3: last-wins id map + sheet update only touches matching rows") {
    val snap = FleetSnapshot(DocumentIngest.printers(doc))
    val idMap = FleetSnapshot.upsertIdMap(snap)
    // duplicate canonical id 7 ("7.0" row_idx=1, " 7\n" row_idx=2): later wins
    val seven = idMap.where(col("id") === "7").collect().head
    assert(seven.getAs[String]("Status") == "offline")
    assert(seven.getAs[String]("Severity") == "critical")

    val sheet = Seq(
      ("7.0", "keep", "x"), ("999", "keep", "y"))
      .toDF("ID", "Comment", "Status")
    val updated = FleetSnapshot.updateSheet(sheet, idMap)
    val rows = updated.collect().map(r => r.getAs[String]("ID") -> r).toMap
    assert(rows("7.0").getAs[String]("Status") == "offline") // updated
    assert(rows("999").getAs[String]("Status") == "y")       // untouched
    assert(rows("7.0").getAs[String]("Comment") == "keep")   // non-target col kept
    assert(updated.columns.contains("Toner Type"))           // column append
  }

  test("J3: a nan, inf or huge sheet ID matches nothing and leaves every other row unchanged") {
    val idMap = FleetSnapshot.upsertIdMap(FleetSnapshot(DocumentIngest.printers(doc)))
    val sheet = Seq(("7.0", "x"), ("105", "y"), ("999", "z")).toDF("ID", "Status")
    val hostile = Seq(("nan", "n"), ("inf", "i"), ("1e20", "h")).toDF("ID", "Status")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("ID") -> r.toSeq.drop(1)).toMap
    val base = rows(FleetSnapshot.updateSheet(sheet, idMap))
    val got = rows(FleetSnapshot.updateSheet(sheet.union(hostile), idMap))
    assert(got -- Seq("nan", "inf", "1e20") == base)
    // unmatched: Status kept, the appended snapshot columns null
    Seq("nan" -> "n", "inf" -> "i", "1e20" -> "h").foreach { case (id, status) =>
      assert(got(id) == status +: Seq.fill(got(id).length - 1)(null))
    }
  }
}

/** [[DeterministicSnmpFake]] that counts its walks; the counter is
  * JVM-wide because local-mode tasks run in the test JVM. */
final class CountingSnmpClient extends DeviceClient {
  private val fake = new DeterministicSnmpFake(failEvery = 0)
  override def walk(ip: String, baseOid: String): Seq[(String, String)] = {
    CountingSnmpClient.polls.increment()
    fake.walk(ip, baseOid)
  }
}

object CountingSnmpClient {
  val polls = new java.util.concurrent.atomic.LongAdder
}
