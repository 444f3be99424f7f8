package fleetbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("spans nest under their caller, share the run id, and self time is never negative") {
    val tr = new Tracer(true)
    tr.run = 4
    tr.span("pipeline.run") {
      tr.span("sources.poll")(Thread.sleep(20))
      tr.span("ops.merge") {
        tr.span("sources.snmp_parse")(Thread.sleep(10))
        Thread.sleep(5)
      }
    }
    tr.run = 5
    tr.span("store.write")(())
    val spans = tr.all
    val byName = spans.map(s => s.name -> s).toMap
    assert(byName("pipeline.run").parent == -1)
    assert(byName("sources.poll").parent == byName("pipeline.run").id)
    assert(byName("sources.snmp_parse").parent == byName("ops.merge").id)
    assert(spans.filter(_.name != "store.write").forall(_.run == 4))
    assert(byName("store.write").run == 5)
    spans.foreach(s => assert(s.startNs <= s.endNs))
    val self = Tracer.selfTimes(spans)
    assert(self.values.forall(_ >= 0))
    val merge = byName("ops.merge")
    assert(self(merge.id) == merge.durNs - byName("sources.snmp_parse").durNs)
    val total = self.values.sum
    assert(total == byName("pipeline.run").durNs + byName("store.write").durNs)
  }

  test("self time counts overlapping children once") {
    val spans = Seq(Span(0, "a", -1, 0, 0, 100), Span(1, "b", 0, 0, 10, 60),
      Span(2, "c", 0, 0, 40, 80), Span(3, "d", 0, 0, 90, 130))
    assert(Tracer.selfTimes(spans)(0) == 100 - 70 - 10)
  }

  test("a disabled tracer records nothing and runs the body") {
    val tr = new Tracer(false)
    assert(tr.span("x")(41 + 1) == 42)
    assert(tr.all.isEmpty)
  }

  test("metric names are well formed, unique, and match BENCHMARK.json") {
    val names = (Main.EndToEnd ++ Main.PerLayer).map(_.name)
    names.foreach(n => assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n))
    assert(names.distinct == names)
    val bench = Seq(Paths.get("BENCHMARK.json"), Paths.get("../BENCHMARK.json")).find(Files.exists(_))
    assume(bench.isDefined, "BENCHMARK.json not found")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bench.get.toFile)
    def listed(key: String) = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().get("name").asText()).toSeq
    }
    assert(listed("end_to_end") == Main.EndToEnd.map(_.name))
    assert(listed("per_layer") == Main.PerLayer.map(_.name))
    assert(listed("workloads").toSet.subsetOf(Workloads.Names.toSet))
  }
}
