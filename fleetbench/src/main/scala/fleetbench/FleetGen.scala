package fleetbench

import java.nio.file.Path

/** Seeded fleet generator: the printers register (one JSON document with
  * both groups), the employee and location side tables, the sheet the
  * refresh updates, and the SNMP answers the simulated [[SimDeviceClient]]
  * returns.
  *
  * Every per-printer value is a pure function of (seed, printer index), so
  * the device client can re-derive a printer's answers from its IP alone
  * and [[FleetModel]] can predict every output without running Spark. */
object FleetGen {
  val Company = "Company_Grouped"
  val Branches = "Branches_Grouped"

  val HpMono = "M404dn"
  val HpColor = "M426fdw"
  val Ledm = "E60055"
  val Ews = "M577"
  val Brother = "HL-L8360CDW"
  val Foreign = "TASKalfa 3253ci"

  val Colors: Seq[String] = Seq("Black", "Cyan", "Magenta", "Yellow")

  final case class Cart(name: String, pct: Option[String])

  sealed trait TonerType
  case object TtAbsent extends TonerType
  final case class TtScalar(code: String) extends TonerType
  final case class TtArray(codes: Seq[String]) extends TonerType

  final case class Info(status: String, carts: Seq[Cart],
      error: Option[(String, String)], tt: TonerType)

  /** A branch's existing storeInfo; both descriptions start as `desc`. */
  final case class Store(manager: String, phone: String, location: String, postal: String) {
    def desc: (String, String, String) = ("", "old-primary", "old-secondary")
  }

  final case class Printer(i: Int, group: String, rowIdx: Int, idNum: Int,
      idShape: Int, ipRaw: String, model: String, serial: String,
      info: Option[Info], store: Option[Store]) {
    /** The ID as the JSON document carries it: a number or a string in
      * one of the register's shapes ("7.0", " 7\n", "7"). */
    def idJson: String = idShape match {
      case s if s <= 5 => idNum.toString
      case 6 | 7 => Json.str(s"$idNum.0")
      case 8 => Json.str(s" $idNum\n")
      case _ => Json.str(idNum.toString)
    }
    /** The ID once read back as text (numbers keep their digits). */
    def idText: String = idShape match {
      case 6 | 7 => s"$idNum.0"
      case 8 => s" $idNum\n"
      case _ => idNum.toString
    }
    /** Normalized IP when the register's value is a usable address. */
    def ip: Option[String] = {
      val t = ipRaw.replaceAll("^\\s+|\\s+$", "")
      if (ipRaw.isEmpty || BadIps.contains(t.toLowerCase)) None else Some(t)
    }
  }

  val BadIps: Set[String] = Set("", "-", "n/a", "na", "none", "0.0.0.0", "null")

  final case class EmpRow(id: String, name: String, phone: String)
  final case class LocRow(rowIdx: Int, branchId: String, address: String,
      primary: String, secondary: String, subscriber: String)
  final case class SheetRow(id: String, name: String, status: String,
      tonerType: String, comment: String)

  final case class Fleet(seed: Long, printers: Vector[Printer],
      employees: Vector[EmpRow], locations: Vector[LocRow],
      sheet: Vector[SheetRow])

  def ipOf(i: Int): String = s"10.${(i >> 16) & 255}.${(i >> 8) & 255}.${i & 255}"

  def indexOfIp(ip: String): Int = {
    val p = ip.split('.')
    (p(1).toInt << 16) | (p(2).toInt << 8) | p(3).toInt
  }

  /** Model mix: the two HP SNMP models the toner scan selects, plus
    * models it must leave untouched. */
  def model(seed: Long, i: Int): String = Mix.u(seed, i, 5, 20) match {
    case x if x < 7 => HpMono
    case x if x < 10 => HpColor
    case x if x < 12 => Ledm
    case x if x < 14 => Ews
    case x if x < 18 => Brother
    case _ => Foreign
  }

  /** Every 17th device (at a seeded offset) does not answer, so a fleet
    * of n printers always holds n/17 unreachable ones, give or take one. */
  def reachable(seed: Long, i: Int): Boolean = (i + Mix.u(seed, 0, 6, 17)) % 17 != 0

  private def serial(seed: Long, i: Int): String = {
    // bijective in i (odd multiplier mod 2^40), so serials never collide
    val v = (i.toLong * 0x9E3779B1L + (Mix.h(seed, 0, 8) & 0xFFFFFL)) & 0xFFFFFFFFFFL
    val hex = f"$v%010x"
    "SN" + hex.zipWithIndex.map { case (c, k) =>
      if (((Mix.h(seed, i, 9) >>> k) & 1L) == 1L) c.toUpper else c
    }.mkString
  }

  private val CartPresets: Seq[Seq[Cart]] = Seq(
    Nil,
    Seq(Cart("Black", Some("37%"))),
    Seq(Cart("Black", Some("55")), Cart("Cyan", Some("12.5"))),
    Seq(Cart("black toner", Some("-"))),
    Seq(Cart("Cyan", None), Cart("Magenta", Some("0.5")), Cart("Yellow", Some("88.0"))))

  private def info(seed: Long, i: Int): Option[Info] =
    if (Mix.u(seed, i, 9, 4) == 0) None
    else Some(Info(
      status = Seq("Ready", "sleep", "POWER off", "")(Mix.u(seed, i, 10, 4)),
      carts = CartPresets(Mix.u(seed, i, 11, CartPresets.length)),
      error = Mix.u(seed, i, 12, 3) match {
        case 0 => Some(("Ready", "informational"))
        case 1 => Some(("Paper jam", "critical"))
        case _ => None
      },
      tt = Mix.u(seed, i, 13, 6) match {
        case 0 => TtScalar("W2030A")
        case 1 => TtArray(Seq("CF259A"))
        case 2 => TtArray(Seq("CF410A", "CF411A"))
        case 3 => TtArray(Nil)
        case _ => TtAbsent
      }))

  def idSpace(n: Int): Int = math.max(1, n / 3)

  def generate(seed: Long, n: Int): Fleet = {
    val ids = idSpace(n)
    val rowIdx = Array(0, 0)
    val printers = (0 until n).map { i =>
      val g = if (Mix.u(seed, i, 1, 5) < 2) 0 else 1
      val r = rowIdx(g); rowIdx(g) += 1
      val idNum = 1 + Mix.u(seed, i, 2, ids)
      val ipRaw = Mix.u(seed, i, 4, 17) match {
        case 0 => ""
        case 1 => "-"
        case 2 => "0.0.0.0"
        case 3 => s"\t${ipOf(i)} "
        case _ => ipOf(i)
      }
      Printer(i, if (g == 0) Company else Branches, r, idNum,
        Mix.u(seed, i, 3, 10), ipRaw, model(seed, i), serial(seed, i),
        info(seed, i),
        if (g == 1 && Mix.u(seed, i, 14, 2) == 0)
          Some(Store(s"old-mgr-$idNum", s"0300$idNum", "old-loc", "0000000"))
        else None)
    }.toVector

    val employees = (1 to ids).flatMap { id =>
      val rows = Mix.u(seed, id, 50, 10) match {
        case x if x < 2 => 0
        case x if x < 8 => 1
        case _ => 2
      }
      (0 until rows).map { k =>
        val blank = Mix.u(seed, id * 4L + k, 51, 6) == 0
        EmpRow(id.toString, if (blank) "" else s"Emp $id-$k", f"05$id%07d$k")
      } ++ (if (id % 97 == 0) Seq(EmpRow("", "", "")) else Nil)
    }.toVector

    var locIdx = 0
    val locations = (1 to ids).flatMap { id =>
      val rows = Mix.u(seed, id, 60, 10) match {
        case 0 => 0
        case x if x < 7 => 1
        case _ => 3
      }
      (0 until rows).map { k =>
        val salt = id * 4L + k
        val row = LocRow(locIdx,
          if (Mix.u(seed, salt, 61, 2) == 0) id.toString else s"$id.0",
          if (Mix.u(seed, salt, 62, 5) == 0) ""
          else s"Street $id-$k, City ${1000000 + id * 3 + k}",
          Seq("Internet", "Phone", "Fiber  Optic")(Mix.u(seed, salt, 63, 3)),
          Seq("Main", "Backup", "")(Mix.u(seed, salt, 64, 3)),
          if (Mix.u(seed, salt, 65, 3) == 0) "" else f"05$id%06d$k")
        locIdx += 1
        row
      }
    }.toVector

    // sheet rows: most fleet ids plus ids the fleet never mentions
    val sheet = (1 to ids + ids / 10).filter(id => Mix.u(seed, id, 40, 5) != 0)
      .map { id =>
        val idCell = Seq(id.toString, s"$id.0", s" $id ")(Mix.u(seed, id, 41, 3))
        SheetRow(idCell, s"Row $id", "old", "old-tt", s"c$id")
      }.toVector

    Fleet(seed, printers, employees, locations, sheet)
  }

  // ---- SNMP answers (what the simulated network returns) ----

  val SuppliesBase = "1.3.6.1.2.1.43.11.1.1"
  val ColorantBase = "1.3.6.1.2.1.43.12.1.1.4"

  final case class Supply(row: Int, unit: Int, max: Int, level: Int, desc: String)

  def supplies(seed: Long, i: Int, model: String): Seq[Supply] = {
    val n = if (model == HpColor) 4 else 1
    (1 to n).map { r =>
      val k = i * 8L + r
      val desc0 = s"HP ${Colors(r - 1)} Toner Cartridge (CF${258 + r}A)"
      val desc = if (Mix.u(seed, k, 22, 5) == 0) s"b'$desc0'" else desc0
      Mix.u(seed, k, 20, 3) match {
        case 0 => Supply(r, 19, 100, Mix.u(seed, k, 21, 101), desc)
        case 1 => Supply(r, 7, 250, Mix.u(seed, k, 21, 261), desc)
        case _ => Supply(r, 7, 250, -3, desc)
      }
    }
  }

  def suppliesWalk(seed: Long, i: Int, model: String): Seq[(String, String)] =
    supplies(seed, i, model).flatMap { s =>
      val r = s.row
      Seq(s"$SuppliesBase.2.1.$r" -> "1", s"$SuppliesBase.3.1.$r" -> r.toString,
        s"$SuppliesBase.5.1.$r" -> "3", s"$SuppliesBase.6.1.$r" -> s.desc,
        s"$SuppliesBase.7.1.$r" -> s.unit.toString,
        s"$SuppliesBase.8.1.$r" -> s.max.toString,
        s"$SuppliesBase.9.1.$r" -> s.level.toString)
    }

  def colorantWalk(seed: Long, i: Int, model: String): Seq[(String, String)] =
    supplies(seed, i, model).map(s =>
      s"$ColorantBase.1.1.${s.row}" -> Colors(s.row - 1).toLowerCase)

  // ---- writers ----

  private def cartJson(c: Cart): String =
    Json.obj(Seq("cartridge" -> Json.str(c.name)) ++
      c.pct.map(p => "remaining_percent" -> Json.str(p)))

  private def infoJson(in: Info): String =
    Json.obj(Seq("status" -> Json.str(in.status),
      "cartridges" -> in.carts.map(cartJson).mkString("[", ",", "]")) ++
      in.error.map { case (p, s) =>
        "printerError" -> Json.obj(Seq("problem" -> Json.str(p), "severity" -> Json.str(s)))
      } ++ (in.tt match {
        case TtAbsent => None
        case TtScalar(c) => Some("tonerType" -> Json.str(c))
        case TtArray(cs) => Some("tonerType" -> cs.map(Json.str).mkString("[", ",", "]"))
      }))

  def printerJson(p: Printer): String =
    Json.obj(Seq("ID" -> p.idJson,
      (if (p.group == Company) "Floor" else "Name") ->
        Json.str(if (p.group == Company) s"F${p.i % 9}" else s"Branch ${p.idNum}"),
      "Printer IP" -> Json.str(p.ipRaw), "Type" -> Json.str(p.model),
      "Serial" -> Json.str(p.serial)) ++
      p.info.map(in => "printerInfo" -> infoJson(in)) ++
      p.store.map(s => "storeInfo" -> Json.obj(Seq("Manager" -> Json.str(s.manager),
        "Phone" -> Json.str(s.phone), "Location" -> Json.str(s.location),
        "Postal" -> Json.str(s.postal),
        "firstDescription" -> descJson(s.desc), "secondDescription" -> descJson(s.desc)))))

  private def descJson(d: (String, String, String)): String =
    Json.obj(Seq("LineID" -> Json.str(d._1), "PrimaryDescription" -> Json.str(d._2),
      "SecondayDescription" -> Json.str(d._3)))

  def documentJson(printers: Seq[Printer]): String = {
    def arr(g: String) = printers.filter(_.group == g).sortBy(_.rowIdx)
      .map(p => "  " + printerJson(p)).mkString("[\n", ",\n", "\n]")
    s"""{"$Company": ${arr(Company)},
       |"$Branches": ${arr(Branches)}}
       |""".stripMargin
  }

  private def csv(header: Seq[String], rows: Seq[Seq[String]]): String = {
    // blank cells stay unquoted so the reader lands them as nulls
    def cell(s: String) = if (s.isEmpty) "" else "\"" + s.replace("\"", "\"\"") + "\""
    (header +: rows).map(_.map(cell).mkString(",")).mkString("", "\n", "\n")
  }

  final case class Paths(doc: Path, employees: Path, locations: Path, sheet: Path)

  def write(f: Fleet, dir: Path): Paths = {
    val ps = Paths(dir.resolve("printers.json"), dir.resolve("employees.csv"),
      dir.resolve("locations.csv"), dir.resolve("sheet.csv"))
    Files2.write(ps.doc, documentJson(f.printers))
    Files2.write(ps.employees, csv(Seq("Branch ID", "Contact", "Phone", "Unnamed: 3"),
      f.employees.map(e => Seq(e.id, e.name, e.phone, if (e.id.isEmpty) "" else "x"))))
    Files2.write(ps.locations, csv(Seq("Branch ID", "Address", "Primary Description",
      "Secondary Description", "Subscriber", "row_idx"),
      f.locations.map(l => Seq(l.branchId, l.address, l.primary, l.secondary,
        l.subscriber, l.rowIdx.toString))))
    Files2.write(ps.sheet, csv(Seq("ID", "Name", "Status", "Toner Type", "Comment"),
      f.sheet.map(s => Seq(s.id, s.name, s.status, s.tonerType, s.comment))))
    ps
  }
}
