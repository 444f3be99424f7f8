package fleetbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Each workload's output check accepts the expected output and rejects
  * a corrupted one. */
class ChecksSpec extends AnyFunSuite {

  private val fleet = FleetGen.generate(21, 900)
  private val outs = FleetModel.run(fleet)

  test("fleet_refresh: a changed document cell or a lost last-wins upsert is rejected") {
    val doc = outs.map(FleetModel.docLine).sorted
    val sheet = FleetModel.sheetLines(fleet, outs)
    assert(Workloads.compare("document", doc, doc).isEmpty)
    assert(Workloads.compare("sheet", sheet, sheet).isEmpty)
    val flipped = doc.updated(3, doc(3).replace("|online|", "|offline|").replace("|\\N|", "|x|"))
    assert(flipped != doc)
    assert(Workloads.compare("document", flipped, doc).exists(_.contains("first unexpected")))

    // the sheet a first-wins upsert would write differs from the model's
    val firstWins = FleetModel.sheetLines(fleet,
      outs.groupBy(o => FleetModel.canonicalId(o.p.idText)).values
        .map(_.minBy(o => (o.p.group != FleetGen.Company, o.p.rowIdx))).toSeq)
    assert(Workloads.compare("sheet", firstWins, sheet).isDefined)
  }

  test("fleet model covers hit, miss and untouched write-back") {
    val statuses = outs.map(o => (o.p.ip.isDefined, FleetModel.HpModels.contains(o.p.model.toLowerCase),
      FleetGen.reachable(21, o.p.i), o.status))
    assert(statuses.exists { case (ip, hp, up, st) => ip && hp && up && st.contains("online") })
    assert(statuses.exists { case (ip, hp, up, st) => ip && hp && !up && st.contains("offline") })
    assert(outs.exists(o => o.p.ip.isEmpty && o.status == o.p.info.map(_.status)))
  }

  test("helpdesk lookups: a wrong projection, a false hit or a page without its fields is rejected") {
    val l = FleetModel.lookups(21, fleet, 200).find(l => outs.exists(FleetModel.matches(_, l))).get
    val want = outs.filter(FleetModel.matches(_, l)).map(FleetModel.ticket)
    val page = (v: FleetModel.TicketView) =>
      s"""<div dir="rtl">${v.serial}${v.model}${v.address}${v.contact}${v.phone}</table></div>"""
    assert(TicketLookup.verify(want, want, want.map(page)).isEmpty)
    val wrong = want.map(v => v.copy(contact = v.contact + "x"))
    assert(TicketLookup.verify(want, wrong, wrong.map(page)).isDefined)
    assert(TicketLookup.verify(Nil, want, want.map(page)).isDefined) // a miss must stay a miss
    assert(TicketLookup.verify(want, want, want.map(_ => "<div dir=\"rtl\"></table></div>")).isDefined)
  }

  test("curation_dedup: a split family or a cluster joining two families is rejected") {
    val work = Files.createTempDirectory("fleetbench-check")
    val w = new CurationDedup(4, work, docs = 1500)
    val c = CorpusGen.generate(4, 1500)
    val truth = c.docs.map(d => d.docId -> (if (d.family >= 0) c.families(d.family).min else d.docId)).toMap
    assert(w.check(truth).isEmpty)
    val fams = c.families.values.toSeq
    val split = truth.updated(fams.head.max, fams.head.max + 100000L)
    assert(w.check(split).exists(_.contains("split")))
    val joined = truth ++ fams(1).map(_ -> fams.head.min)
    assert(w.check(joined).exists(_.contains("joins")))
    assert(w.check(truth - 0L).isDefined)
  }
}
