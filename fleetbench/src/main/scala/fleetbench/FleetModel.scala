package fleetbench

import FleetGen._

/** Plain-Scala model of what a refresh must write, derived from the
  * generator's truth and the reference's documented rules: non-empty-wins
  * employee enrichment, last-wins branch addresses with the postal split,
  * first-seen description pairs, the SNMP toner scan write-back (hit,
  * miss, untouched), the snapshot cell rules and the last-wins ID upsert.
  * It shares no code with the program. */
object FleetModel {

  final case class Pair3(lineId: String, primary: String, secondary: String)

  final case class Out(p: Printer, status: Option[String], carts: Option[Seq[Cart]],
      problem: Option[String], severity: Option[String], tt: Option[Seq[String]],
      manager: Option[String], phone: Option[String], location: Option[String],
      postal: Option[String], first: Option[Pair3], second: Option[Pair3])

  // ---- string rules ----

  private def pyStrip(s: String): String = s.replaceAll("^\\s+|\\s+$", "")
  private def spaceTrim(s: String): String = s.replaceAll("^ +| +$", "")
  private def blank(s: String): Boolean = s == null || spaceTrim(s).isEmpty

  /** Number parse after dropping edge whitespace and control characters. */
  private def toDouble(s: String): Option[Double] = {
    val t = s.replaceAll("^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
    if (t.matches("[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?")) Some(t.toDouble) else None
  }

  def canonicalId(s: String): String = toDouble(s) match {
    case Some(d) => d.toLong.toString
    case None => spaceTrim(s.replaceAll("[\\n\\r]", " "))
  }

  private def normText(s: String): Option[String] = Option(s)
    .map(x => spaceTrim(x).replaceAll("\\s+", " ")).filter(_.nonEmpty)

  def classify(status: Option[String]): String = {
    val s = spaceTrim(status.getOrElse("")).toLowerCase
    val online = Seq("online", "ready", "idle", "sleep", "printing", "working",
      "active", "ok", "connected")
    val offline = Seq("offline", "down", "disconnected", "error", "unknown",
      "not reachable", "unreachable", "no connection", "disabled")
    if (online.exists(s.contains)) "online"
    else if (offline.exists(s.contains)) "offline"
    else if (s.contains("off")) "offline"
    else if (s.contains("on")) "online"
    else "offline"
  }

  private def colorOf(name: String): Option[String] = {
    val s = spaceTrim(name).toLowerCase.replaceAll("\\s+", " ")
    if (s.contains("black") || s == "k") Some("Black")
    else if (s.contains("cyan") || s == "c") Some("Cyan")
    else if (s.contains("magenta") || s == "m") Some("Magenta")
    else if (s.contains("yellow") || s == "y") Some("Yellow")
    else None
  }

  /** Sheet cell for one color: first real value among matching
    * cartridges, else the last placeholder. Numbers render integral when
    * whole; text such as "37%" is kept verbatim. */
  def colorCell(carts: Seq[Cart], color: String): Option[String] = {
    val vals = carts.filter(c => colorOf(c.name).contains(color)).map(_.pct.map { v =>
      toDouble(v) match {
        case Some(d) if d == math.floor(d) => d.toLong.toString
        case Some(d) => d.toString
        case None => v
      }
    })
    vals.find(v => v.isDefined && !v.contains("-")).flatten
      .orElse(vals.lastOption.flatten)
  }

  def tonerDisplay(tt: Option[Seq[String]]): Option[String] = tt.flatMap { xs =>
    val cleaned = xs.map(x => if (x == null) "None" else spaceTrim(x)).filter(_.nonEmpty).distinct
    if (cleaned.isEmpty) None else Some(cleaned.mkString(", "))
  }

  private def unify(tt: TonerType): Option[Seq[String]] = tt match {
    case TtAbsent => None
    case TtScalar(c) => Some(Seq(c))
    case TtArray(cs) => Some(cs)
  }

  // ---- side tables ----

  /** Employee winner per id: rows compare by (name, phone), a blank name
    * below any name. */
  private def employeeIndex(f: Fleet): Map[String, (Option[String], String)] =
    f.employees.filter(e => !blank(e.id)).groupBy(e => spaceTrim(e.id)).map { case (id, rows) =>
      id -> rows.map(e => (Option(e.name).filterNot(blank).map(spaceTrim), spaceTrim(e.phone)))
        .maxBy { case (n, ph) => (n.isDefined, n.getOrElse(""), ph) }
    }

  private final case class Branch(address: Option[String], pairs: Seq[Pair3])

  private def branchIndex(f: Fleet): Map[Long, Branch] =
    f.locations.groupBy(l => toDouble(l.branchId).map(_.toLong)).collect {
      case (Some(bid), rows) =>
        val addr = rows.filterNot(r => blank(r.address)).sortBy(_.rowIdx).lastOption
          .map(r => spaceTrim(r.address))
        val pairs = rows.map(r => (r, normText(r.primary), normText(r.secondary)))
          .filter { case (_, p, s) => p.isDefined || s.isDefined }
          .groupBy { case (_, p, s) => (p.getOrElse(""), s.getOrElse("")) }
          .toSeq.map { case ((p, s), rs) =>
            val ordered = rs.map(_._1).sortBy(_.rowIdx)
            val subs = ordered.flatMap(r => normText(r.subscriber))
            (ordered.head.rowIdx, Pair3(subs.headOption.getOrElse(""), p, s))
          }.sortBy(_._1).map(_._2).take(2)
        bid -> Branch(addr, pairs)
    }

  /** Trailing seven-digit postal code split off an address. */
  def splitPostal(addr: String): (Option[String], String) = {
    val m = "(?s)^(.*?)[\\s,:\\-]*(\\d{7})\\s*$".r
    addr match {
      case m(rest, postal) => (Some(postal), spaceTrim(rest.replaceAll("[ ,:\\-]+$", "")))
      case _ => (None, spaceTrim(addr))
    }
  }

  // ---- scans ----

  private def snmpCarts(seed: Long, i: Int, model: String): Seq[Cart] =
    supplies(seed, i, model).map { s =>
      val pct =
        if (s.level < 0) None
        else if (s.unit == 19) Some(math.max(0, math.min(s.level, 100)))
        else Some(math.max(0L, math.min(math.round(100.0 * s.level / s.max), 100L)).toInt)
      Cart(Colors(s.row - 1), pct.map(p => s"$p%"))
    }

  val HpModels: Set[String] = Set(HpMono.toLowerCase, HpColor.toLowerCase)

  private def modelKey(p: Printer): String = spaceTrim(p.model).toLowerCase

  /** Expected printers after a job: both side tables applied, then the
    * SNMP toner scan. */
  def run(f: Fleet): Vector[Out] = {
    val seed = f.seed
    val emp = employeeIndex(f)
    val br = branchIndex(f)
    f.printers.map { p =>
      var status = p.info.map(_.status)
      var carts = p.info.map(_.carts)
      val err = p.info.flatMap(_.error)
      val tt = p.info.flatMap(in => unify(in.tt))
      if (p.ip.isDefined && HpModels.contains(modelKey(p))) {
        val up = reachable(seed, p.i)
        status = Some(if (up) "online" else "offline")
        carts = Some(if (up) snmpCarts(seed, p.i, p.model) else Nil)
      }

      var manager = p.store.map(_.manager)
      var phone = p.store.map(_.phone)
      var location = p.store.map(_.location)
      var postal = p.store.map(_.postal)
      val oldDesc = p.store.map(s => Pair3(s.desc._1, s.desc._2, s.desc._3))
      var first = oldDesc
      var second = oldDesc
      if (p.group == Branches) {
        emp.get(spaceTrim(p.idText)).foreach { case (n, ph) =>
          if (n.isDefined) manager = n
          if (!blank(ph)) phone = Some(ph)
        }
        toDouble(p.idText).map(_.toLong).flatMap(br.get).foreach { b =>
          b.address.foreach { a =>
            val (pc, clean) = splitPostal(a)
            location = Some(clean); postal = pc
          }
          b.pairs.headOption.foreach(x => first = Some(x))
          b.pairs.lift(1).foreach(x => second = Some(x))
        }
      }
      Out(p, status, carts, err.map(_._1), err.map(_._2), tt,
        manager, phone, location, postal, first, second)
    }
  }

  // ---- digests (the Spark side renders read-back rows the same way) ----

  val Null = "\\N"
  def cell(s: Option[String]): String = s.getOrElse(Null)
  def cartsCell(cs: Option[Seq[Cart]]): String =
    cs.fold(Null)(_.map(c => s"${c.name}=${cell(c.pct)}").mkString("[", ";", "]"))
  def listCell(xs: Option[Seq[String]]): String = xs.fold(Null)(_.mkString("[", ";", "]"))
  def pairCell(x: Option[Pair3]): String =
    x.fold(Null)(p => s"${p.lineId}/${p.primary}/${p.secondary}")

  def docLine(o: Out): String = Seq(o.p.group, o.p.rowIdx.toString, o.p.idText,
    cell(o.status), cartsCell(o.carts), cell(o.problem), cell(o.severity),
    listCell(o.tt), cell(o.manager), cell(o.phone), cell(o.location), cell(o.postal),
    pairCell(o.first), pairCell(o.second)).mkString("|")

  val SheetCols: Seq[String] = Seq("ID", "Name", "Status", "Toner Type", "Comment",
    "Black", "Cyan", "Magenta", "Yellow", "Error", "Severity")

  def sheetLines(f: Fleet, outs: Seq[Out]): Seq[String] = {
    val idMap = outs.groupBy(o => canonicalId(o.p.idText)).filter(_._1.nonEmpty).map {
      case (id, os) =>
        val o = os.maxBy(x => (if (x.p.group == Company) 0 else 1, x.p.rowIdx))
        val carts = o.carts.getOrElse(Nil)
        id -> (Seq(Some(classify(o.status))) ++ Colors.map(colorCell(carts, _)) ++
          Seq(o.problem, o.severity, tonerDisplay(o.tt)))
    }
    def dash(v: Option[String]) = Some(v.filterNot(blank).getOrElse("-"))
    f.sheet.map { r =>
      val cells = idMap.get(canonicalId(r.id)) match {
        case Some(Seq(st, bk, cy, mg, ye, er, sv, tt)) =>
          Seq(Some(r.id), Some(r.name), dash(st), dash(tt), Some(r.comment),
            dash(bk), dash(cy), dash(mg), dash(ye), dash(er), dash(sv))
        case _ =>
          Seq(Some(r.id), Some(r.name), Some(r.status), Some(r.tonerType), Some(r.comment),
            None, None, None, None, None, None)
      }
      cells.map(cell).mkString("|")
    }.sorted
  }

  // ---- ticket lookups over the enriched store ----

  final case class Lookup(group: String, field: String, value: String, plugin: String)

  final case class TicketView(customer: String, branchId: String, serial: String,
      model: String, address: String, contact: String, phone: String,
      group: String, colors: Seq[String])

  private def pyInt(s: String): Option[Long] = {
    val t = pyStrip(s)
    if (t.matches("[+-]?[0-9]+")) scala.util.Try(t.toLong).toOption else None
  }

  def matches(o: Out, l: Lookup): Boolean = o.p.group == l.group && (l.field match {
    case "id" => (pyInt(o.p.idText), pyInt(l.value)) match {
      case (Some(a), Some(b)) => a == b
      case _ => pyStrip(o.p.idText) == pyStrip(l.value)
    }
    case "serial" => pyStrip(o.p.serial).toUpperCase == pyStrip(l.value).toUpperCase
    case "ip" => pyStrip(o.p.ipRaw) == pyStrip(l.value)
  })

  def ticket(o: Out): TicketView = {
    val company = o.p.group == Company
    TicketView("סטימצקי", pyStrip(o.p.idText), pyStrip(o.p.serial), pyStrip(o.p.model),
      if (company) "מתחם לב הארץ 0, ראש העין שדרות הדלקים" else pyStrip(o.location.getOrElse("")),
      if (company) "דימה" else pyStrip(o.manager.getOrElse("")),
      if (company) "0542050462" else pyStrip(o.phone.getOrElse("")),
      o.p.group,
      o.carts.getOrElse(Nil).map(c => pyStrip(c.name)).filter(_.nonEmpty).distinct)
  }

  /** Seeded lookup stream: ids in every shape, mixed-case serials, exact
    * IPs, both groups, all three order plugins, and about 10% keys that
    * match nothing. */
  def lookups(seed: Long, f: Fleet, count: Int): Vector[Lookup] = {
    val n = f.printers.length
    val plugins = Seq("toner", "drum", "tech")
    (0 until count).map { j =>
      val p = f.printers(Mix.u(seed, j, 70, n))
      val plugin = plugins(Mix.u(seed, j, 71, 3))
      Mix.u(seed, j, 72, 10) match {
        case k if k < 4 =>
          val v = Seq(p.idNum.toString, s"${p.idNum}.0", s" ${p.idNum} ")(Mix.u(seed, j, 73, 3))
          Lookup(p.group, "id", v, plugin)
        case k if k < 7 =>
          val v = if (Mix.u(seed, j, 74, 2) == 0) p.serial.toLowerCase else p.serial.toUpperCase
          Lookup(p.group, "serial", v, plugin)
        case k if k < 9 && p.ip.isDefined => Lookup(p.group, "ip", p.ip.get, plugin)
        case k if k < 9 => Lookup(p.group, "id", p.idNum.toString, plugin)
        case _ =>
          val g = if (Mix.u(seed, j, 75, 2) == 0) Company else Branches
          Mix.u(seed, j, 76, 3) match {
            case 0 => Lookup(g, "id", (idSpace(n) + 1000 + j).toString, plugin)
            case 1 => Lookup(g, "serial", s"SNZZ${j}Q", plugin)
            case _ => Lookup(g, "ip", s"10.254.${j % 250}.${j % 7}", plugin)
          }
      }
    }.toVector
  }
}
