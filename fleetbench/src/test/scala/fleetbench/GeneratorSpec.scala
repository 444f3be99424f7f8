package fleetbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("fleetbench-gen")

  private def bytes(ps: FleetGen.Paths): Seq[Seq[Byte]] =
    Seq(ps.doc, ps.employees, ps.locations, ps.sheet)
      .map(p => Files.readAllBytes(p).toSeq)

  test("the same seed writes byte-identical fleet inputs; another seed does not") {
    val a = bytes(FleetGen.write(FleetGen.generate(7, 600), tmp()))
    val b = bytes(FleetGen.write(FleetGen.generate(7, 600), tmp()))
    val c = bytes(FleetGen.write(FleetGen.generate(8, 600), tmp()))
    assert(a == b)
    assert(a.head != c.head)
  }

  test("device answers, lookup keys and the corpus are pure functions of the seed") {
    val f = FleetGen.generate(3, 300)
    assert(FleetGen.suppliesWalk(3, 5, FleetGen.HpColor) == FleetGen.suppliesWalk(3, 5, FleetGen.HpColor))
    assert(FleetGen.colorantWalk(3, 9, FleetGen.HpColor) == FleetGen.colorantWalk(3, 9, FleetGen.HpColor))
    assert(FleetModel.lookups(3, f, 500) == FleetModel.lookups(3, FleetGen.generate(3, 300), 500))
    assert(CorpusGen.generate(3, 800) == CorpusGen.generate(3, 800))
    assert(CorpusGen.generate(3, 800) != CorpusGen.generate(4, 800))
  }

  test("the fleet carries the register's hard cases") {
    val f = FleetGen.generate(11, 3000)
    val ps = f.printers
    assert(ps.exists(_.group == FleetGen.Company) && ps.exists(_.group == FleetGen.Branches))
    assert(ps.map(_.idShape).toSet == (0 to 9).toSet) // 7, "7.0", " 7\n", "7"
    assert(ps.exists(_.ip.isEmpty) && ps.exists(_.ipRaw.startsWith("\t")))
    val idGroups = ps.groupBy(_.idNum).values.map(_.map(_.group).toSet)
    assert(idGroups.exists(_.size == 2)) // IDs duplicated across groups
    val tts = ps.flatMap(_.info).map(_.tt)
    assert(tts.exists(_.isInstanceOf[FleetGen.TtScalar]) && tts.exists(_.isInstanceOf[FleetGen.TtArray]))
    assert(f.employees.exists(_.name.isEmpty))
    assert(f.employees.groupBy(_.id).exists(_._2.size > 1))
    assert(f.locations.groupBy(_.branchId.toDouble.toLong).exists(_._2.size > 1))
    val unreachable = ps.count(p => !FleetGen.reachable(11, p.i))
    assert(math.abs(unreachable - ps.length / 17) <= 1)
  }

  test("about a fifth of the corpus sits in planted families of 2-8 members") {
    val c = CorpusGen.generate(5, 5000)
    val sizes = c.families.values.map(_.size)
    assert(sizes.forall(s => s >= 2 && s <= 8))
    val share = sizes.sum.toDouble / c.docs.length
    assert(share > 0.18 && share <= 0.2)
    assert(c.docs.map(_.docId) == (0L until 5000L))
  }
}
