package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def df: DataFrame = Seq((1, "a"), (2, "b")).toDF("id", "v")

  test("W2 natural sort: step2 before step10") {
    val names = Seq("step10", "step2", "alpha", "step2b")
    val sorted = names.sortBy(Pipeline.naturalKey)(
      Ordering.Implicits.seqOrdering)
    assert(sorted == Seq("alpha", "step2", "step2b", "step10"))
  }

  test("parseExcludes: comma-flatten, numeric grammar, invalid collected") {
    val (steps, subs, invalid) = Pipeline.parseExcludes(
      Seq("2, 3.1", "4", " ", "x", "3.1.2", "5.02"))
    assert(steps == Set(2, 4))
    assert(subs == Set((3, 1), (5, 2))) // "5.02" → (5, 2): int() parse
    assert(invalid == Seq("x", "3.1.2")) // warned by the CLI, not fatal
    assert(Pipeline.parseExcludes(Seq())._1.isEmpty)
    // Python int() is unbounded: an over-Int token is a VALID exclude
    // that can never match a step — dropped silently, never fatal,
    // never flagged invalid
    val (s2, p2, inv2) = Pipeline.parseExcludes(
      Seq("4294967296", "1.99999999999", "2"))
    assert(s2 == Set(2) && p2.isEmpty && inv2.isEmpty)
  }

  test("numberedPlan: json consumes step 1 even when missing; empty groups don't") {
    val s = (n: String) => Stage("g", n, identity[DataFrame] _)
    val (plan, warns) = Pipeline.numberedPlan(
      None, // convert_to_json missing → warning, number still consumed
      Seq("A" -> Seq(s("b10"), s("b2")), "EMPTY" -> Seq(), "C" -> Seq(s("c1"))),
      Some(s("excel")))
    assert(warns.size == 1)
    // Reference suffix parity (core/pipeline.py:91) — the f-string path
    // prefix is elided because stages carry no filesystem path.
    assert(warns.head.endsWith("not found; 'convert to json' will be skipped."))
    assert(plan.map(p => (p.step, p.substep)) ==
      Seq((2, Some(0)), (2, Some(1)), (2, Some(2)), // A: meta + sorted subs
        (3, Some(0)), (3, Some(1)), // EMPTY skipped → C is 3
        (4, None))) // excel
    // natural sort within the group: b2 before b10
    assert(plan.filter(_.step == 2).flatMap(_.stage).map(_.substep) ==
      Seq("b2", "b10"))
  }

  test("pruneNumbered: step excludes all substeps; pair excludes one; meta never runs") {
    val s = (n: String) => Stage("g", n, identity[DataFrame] _)
    val (plan, _) = Pipeline.numberedPlan(Some(s("json")),
      Seq("A" -> Seq(s("a1"), s("a2")), "B" -> Seq(s("b1"))), Some(s("excel")))
    def names(st: Set[Int], su: Set[(Int, Int)]) =
      Pipeline.pruneNumbered(plan, st, su).map(_.substep)
    assert(names(Set(), Set()) == Seq("json", "a1", "a2", "b1", "excel"))
    assert(names(Set(2), Set()) == Seq("json", "b1", "excel"))
    assert(names(Set(), Set((2, 2))) == Seq("json", "a1", "b1", "excel"))
    assert(names(Set(1), Set()) == Seq("a1", "a2", "b1", "excel"))
  }

  test("run: failing stage degrades, input flows through, summary records it") {
    val stages = Seq(
      Stage("s", "double", d => d.withColumn("v2", col("id") * 2)),
      Stage("s", "boom", _ => throw new RuntimeException("nope")),
      Stage("s", "add", d => d.withColumn("v3", col("id") + 1)))
    val sum = Pipeline.run(df, stages)
    assert(!sum.allOk && sum.failures.map(_.substep) == Seq("boom"))
    assert(sum.results.map(_.ok) == Seq(true, false, true))
    // boom skipped: both successful stages applied to the surviving frame
    assert(sum.out.columns.toSeq == Seq("id", "v", "v2", "v3"))
    assert(sum.results.forall(_.elapsedS >= 0))
  }

  test("run: a stage whose plan builds but fails when executed degrades the same way") {
    val stages = Seq(
      Stage("s", "double", d => d.withColumn("v2", col("id") * 2)),
      Stage("s", "assert", d => d.withColumn("bad", assert_true(col("id") < 0))),
      Stage("s", "add", d => d.withColumn("v3", col("id") + 1)))
    val sum = Pipeline.run(df, stages)
    assert(sum.failures.map(_.substep) == Seq("assert"))
    assert(sum.failures.head.error.exists(_.nonEmpty))
    assert(sum.out.columns.toSeq == Seq("id", "v", "v2", "v3"))
    assert(sum.out.orderBy("id").select("v3").as[Int].collect().toSeq == Seq(2, 3))
  }

  test("run: checkpoint called once per successful stage") {
    var seen = Vector.empty[String]
    val stages = Seq(
      Stage("s", "a", identity[DataFrame] _),
      Stage("s", "boom", _ => throw new RuntimeException("x")),
      Stage("s", "b", identity[DataFrame] _))
    Pipeline.run(df, stages, (name, _) => seen :+= name)
    assert(seen == Vector("s:a", "s:b"))
  }

  test("run: every job a stage runs carries the stage's step:substep description") {
    val key = "spark.job.description"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(String.valueOf(e.properties.getProperty(key)))
    }
    val sc = spark.sparkContext
    /** A job under `desc`; the listener sees jobs in order, so seeing
      * this one means it has seen every job before it. */
    def marker(desc: String): Unit = { sc.setJobDescription(desc); spark.range(1).count() }
    sc.addSparkListener(listener)
    try {
      marker("begin")
      sc.setJobDescription("caller")
      val stages = Seq(
        Stage("s", "1_count", { d => d.count(); d.withColumn("v2", col("id") * 2) }),
        Stage("s", "2_assert", d => d.withColumn("bad", assert_true(col("id") < 0))),
        Stage("t", "1_add", d => d.withColumn("v3", col("id") + 1)))
      val sum = Pipeline.run(spark.range(4).toDF("id"), stages, (_, out) => out.count())
      assert(sum.failures.map(_.substep) == Seq("2_assert"))
      assert(sc.getLocalProperty(key) == "caller")
      marker("done")
      eventually(timeout(30.seconds))(assert(descs.contains("done")))
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
    val seen = descs.asScala.toSeq.dropWhile(_ != "begin").dropWhile(_ == "begin")
      .takeWhile(_ != "done")
    // runs of one description, in order: each stage's jobs (plan build
    // and checkpoint, the failing one's too) carry its name; the
    // callback's jobs carry the caller's
    val runs = seen.foldLeft(Vector.empty[String])((acc, d) =>
      if (acc.lastOption.contains(d)) acc else acc :+ d)
    assert(runs == Seq("s:1_count", "caller", "s:2_assert", "t:1_add", "caller"))
  }
}
