package fleetbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.{Enrich, FleetSnapshot, ScanMerge}
import graft.pipeline.{Pipeline, Stage}
import graft.queries.{DupClusterLayers, TextQueries}
import graft.sources._
import graft.tickets._

/** Outcome of one job. `counts` are the per-layer counters the traced run
  * reports. */
final case class JobResult(ok: Boolean, detail: String, counts: Map[String, Double] = Map.empty)

/** One benchmark workload: seeded inputs written by `gen`, standing state
  * loaded by `setup`, and `job` = one unit of work from the input files to
  * the written and checked result. */
trait Workload {
  def name: String
  /** A short description of the generated inputs for the report. */
  def describe: String
  /** Write the generated inputs (timed as `bench.gen_s`, not set-up). */
  def gen(spark: SparkSession): Unit
  def setup(spark: SparkSession, tr: Tracer): Unit
  /** Untimed jobs before the timed phase (class loading, JIT, codegen). */
  def warmups: Int
  /** Fewest timed jobs per phase, whatever `--seconds` allows. */
  def minSamples: Int
  def job(spark: SparkSession, k: Int, tr: Tracer): JobResult
}

object Workloads {
  val Names: Seq[String] = Seq("fleet_refresh", "curation_dedup")

  def apply(name: String, seed: Long, work: Path): Workload = name match {
    case "fleet_refresh" => new FleetRefresh(seed, work, printers = 200)
    case "curation_dedup" => new CurationDedup(seed, work, docs = 2000)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  // ---- shared Spark-side helpers ----

  def readCsv(spark: SparkSession, p: Path): DataFrame =
    spark.read.option("header", "true").csv(p.toString)

  /** Side tables through the header-synonym ingest. Locations keep their
    * sheet row index, which the last-wins and first-seen rules order by. */
  def sideTables(spark: SparkSession, ps: FleetGen.Paths): (DataFrame, DataFrame) = {
    val emp = SideTables.employees(readCsv(spark, ps.employees))
    val raw = SideTables.dedupeHeaders(readCsv(spark, ps.locations))
    val locs = SideTables.dropBlankRows(SideTables.selectBySynonyms(raw,
      SideTables.LocationSpec :+ ("row_idx" -> Seq("row_idx"))))
      .withColumn("row_idx", col("row_idx").cast("long"))
    (emp, locs)
  }

  private def fieldAt(schema: StructType, path: Seq[String]): Boolean = path match {
    case Seq() => true
    case h +: t => schema.fields.find(_.name == h).exists(f => t.isEmpty || (f.dataType match {
      case s: StructType => fieldAt(s, t)
      case _ => false
    }))
  }

  /** `a.b.c` when the read-back schema has it, else a null column. */
  def fieldOr(df: DataFrame, path: String): Column =
    if (fieldAt(df.schema, path.split('.').toSeq)) col(path) else lit(null)

  private def s(r: Row, i: Int): Option[String] = if (r.isNullAt(i)) None else Some(r.get(i).toString)

  /** The written document's printers, rendered exactly like
    * [[FleetModel.docLine]]. */
  def docLines(p: DataFrame): Seq[String] = {
    val cols = Seq("group", "row_idx", "ID", "printerInfo.status", "printerInfo.cartridges",
      "printerInfo.printerError.problem", "printerInfo.printerError.severity",
      "printerInfo.tonerType", "storeInfo.Manager", "storeInfo.Phone", "storeInfo.Location",
      "storeInfo.Postal", "storeInfo.firstDescription", "storeInfo.secondDescription")
    p.select(cols.zipWithIndex.map { case (c, i) => fieldOr(p, c).as(s"c$i") }: _*)
      .collect().toSeq.map { r =>
        val carts = if (r.isNullAt(4)) None else Some(r.getSeq[Row](4).map(c =>
          FleetGen.Cart(c.getAs[String]("cartridge"),
            Option(c.getAs[String]("remaining_percent")))))
        val tt = if (r.isNullAt(7)) None else Some(r.getSeq[String](7))
        def pair(i: Int) = if (r.isNullAt(i)) None else {
          val x = r.getStruct(i)
          Some(FleetModel.Pair3(x.getAs[String]("LineID"), x.getAs[String]("PrimaryDescription"),
            x.getAs[String]("SecondayDescription")))
        }
        Seq(r.getString(0), r.get(1).toString, r.getString(2), FleetModel.cell(s(r, 3)),
          FleetModel.cartsCell(carts), FleetModel.cell(s(r, 5)), FleetModel.cell(s(r, 6)),
          FleetModel.listCell(tt), FleetModel.cell(s(r, 8)), FleetModel.cell(s(r, 9)),
          FleetModel.cell(s(r, 10)), FleetModel.cell(s(r, 11)),
          FleetModel.pairCell(pair(12)), FleetModel.pairCell(pair(13))).mkString("|")
      }.sorted
  }

  /** Drop every block a job persisted or checkpointed. */
  def releaseSince(spark: SparkSession, before: scala.collection.Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }

  /** Compare two digests; on a mismatch name the first differing line. */
  def compare(what: String, got: Seq[String], want: Seq[String]): Option[String] = {
    val (g, w) = (Files2.sha256(got), Files2.sha256(want))
    if (g == w) None
    else {
      val wantSet = want.toSet
      val gotSet = got.toSet
      Some(s"$what digest $g != expected $w (${got.length} vs ${want.length} rows); " +
        s"first unexpected: ${got.find(!wantSet.contains(_)).getOrElse("-")}; " +
        s"first missing: ${want.find(!gotSet.contains(_)).getOrElse("-")}")
    }
  }
}

import Workloads._

/** The reference refresh: register → side tables → enrichment → SNMP
  * toner scan (supplies and colorant walks, cartridge parse, write-back)
  * → snapshot → last-wins upsert → document and sheet write-back, then
  * helpdesk ticket lookups against the store just written. The stages
  * run chained through `Pipeline.run` with no lineage cut, as its callers
  * get them. Each simulated device holds its poll for a round trip (a
  * timeout if unreachable), but at this size per-query planning and
  * scheduling, not the device waits, set most of the job's time. */
final class FleetRefresh(seed: Long, work: Path, printers: Int) extends Workload {
  val name = "fleet_refresh"
  val warmups = 1
  val minSamples = 2
  def describe = s"printers=$printers employees=${fleet.employees.length} " +
    s"locations=${fleet.locations.length} sheet_rows=${fleet.sheet.length} " +
    s"rtt_ms=${FleetRefresh.RttMs} timeout_ms=${FleetRefresh.TimeoutMs}"
  private val client = new SimDeviceClient(seed, FleetRefresh.RttMs, FleetRefresh.TimeoutMs)
  private val inDir: Path = work.resolve("in")
  private lazy val fleet: FleetGen.Fleet = FleetGen.generate(seed, printers)
  private var paths: FleetGen.Paths = _
  private lazy val model: Seq[FleetModel.Out] = FleetModel.run(fleet)
  private lazy val wantDoc: Seq[String] = model.map(FleetModel.docLine).sorted
  private lazy val wantSheet = FleetModel.sheetLines(fleet, model)
  private lazy val keys = FleetModel.lookups(seed, fleet, 4096)
  private val usedOutputs = mutable.Set.empty[Path]

  def gen(spark: SparkSession): Unit = {
    paths = FleetGen.write(fleet, inDir)
    (wantDoc, wantSheet, keys)
  }

  /** A fresh output directory per job: a repeated write never lands on a
    * path an earlier iteration produced. */
  private def freshOut(k: Int): Path = {
    val out = work.resolve(s"out/job-$k-${System.nanoTime()}")
    require(!Files.exists(out) && usedOutputs.add(out), s"output path reused: $out")
    Files.createDirectories(out)
    out
  }

  /** The SNMP toner scan selects HP models at a usable IP. */
  private val isHp: Column = lower(trim(coalesce(col("Type").cast("string"), lit(""))))
    .isin(FleetModel.HpModels.toSeq: _*)

  private def selected(df: DataFrame): Column = {
    val ip = DocumentIngest.ipOf(df)
    ip.isNotNull && !lower(ip).isin(DocumentIngest.BadIps: _*) && isHp
  }

  private def devices(df: DataFrame): DataFrame = DocumentIngest.withValidIp(df).where(isHp)

  private def poll(spark: SparkSession, tr: Tracer, devs: DataFrame, oid: String): DataFrame =
    tr.layer("sources.poll")(DevicePoll.walk(spark, devs, oid, client))

  /** Selected printers with a scan answer and selected printers, summed
    * over a job's merges (traced runs only, outside the layer spans). */
  private final class MergeStats(tr: Tracer) {
    var hits = 0L
    var selectedTotal = 0L
    def apply(df: DataFrame, results: DataFrame): Unit =
      if (tr.enabled) tr.span("bench.count") {
        val sel = devices(df).select("ip").distinct()
        hits += sel.join(results.select("ip").distinct(), "ip").count()
        selectedTotal += sel.count()
      }
    def counts: Map[String, Double] =
      Map("ops.merge_hits" -> hits.toDouble, "ops.merge_selected" -> selectedTotal.toDouble)
  }

  /** tonerFinder over SNMP: supplies + colorant walks → cartridges → merge. */
  private def snmpTonerStage(spark: SparkSession, tr: Tracer, merges: MergeStats): Stage =
    Stage("tonerFinder", "1_snmp_toner", { df =>
      val devs = devices(df)
      val walk = poll(spark, tr, devs, FleetGen.SuppliesBase)
        .unionByName(poll(spark, tr, devs, FleetGen.ColorantBase))
      val carts = tr.layer("sources.snmp_parse")(SnmpPayload.cartridges(walk))
        .withColumn("status", lit("online"))
      merges(df, carts)
      ScanMerge(df, carts, selected(df))
    })

  /** Traced runs materialize each stage's output under the stage's final
    * layer, so that layer's work is not billed to the next stage. */
  private def checkpointer(tr: Tracer)(stage: String, df: DataFrame): Unit = {
    val layer = stage match {
      case s if s.startsWith("enrich:") => "ops.enrich"
      case "extract:snapshot" => "ops.snapshot"
      case "load:upsert" => "ops.update_sheet"
      case _ => "ops.merge"
    }
    tr.layer(layer)(df)
  }

  def setup(spark: SparkSession, tr: Tracer): Unit = ()

  /** Closed-loop helpdesk lookups, one client, against the store this job
    * just wrote (loaded once and cached, as a ticket desk would): each is
    * `byField` → `extract` → one plugin's page, issued after the previous
    * one completes, and checked against the model's projection. */
  private def helpdesk(store: DataFrame, k: Int, tr: Tracer,
      counts: mutable.Map[String, Double]): Seq[String] =
    (0 until FleetRefresh.Lookups).flatMap { j =>
      val l = keys(math.floorMod(k * FleetRefresh.Lookups + j, keys.length))
      val plugin = TicketPlugins.byAlias(l.plugin)
      val found = tr.layer("tickets.find")(TicketSearch.byField(store, l.group, l.field, l.value))
      val tickets = tr.span("tickets.extract")(TicketSearch.extract(found).collect())
        .map(TicketSearch.toTicket).toSeq
      val pages = tr.span("tickets.render")(tickets.map { t =>
        val items = l.plugin match {
          case "toner" => (if (t.colors.isEmpty) Seq("Black") else t.colors).map(TicketItem(_, 1))
          case "drum" => Seq(TicketItem("Drum unit", 1))
          case _ => Nil
        }
        plugin.html(t, items, notes = s"lookup $k.$j")
      })
      counts("tickets.lookups") = counts.getOrElse("tickets.lookups", 0.0) + 1
      if (tickets.nonEmpty) counts("tickets.hits") = counts.getOrElse("tickets.hits", 0.0) + 1
      val want = model.filter(FleetModel.matches(_, l)).map(FleetModel.ticket)
      TicketLookup.verify(want, tickets.map(TicketLookup.view), pages).map(p => s"lookup $l: $p")
    }

  def job(spark: SparkSession, k: Int, tr: Tracer): JobResult = {
    val out = freshOut(k)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val counts = mutable.Map.empty[String, Double]
    val merged = new MergeStats(tr)
    try {
      val doc = tr.layer("store.read")(
        DocumentIngest.printers(DocumentIngest.readDocument(spark, paths.doc.toString)))
      val (emp0, locs0) = sideTables(spark, paths)
      val emp = tr.layer("sources.side_tables")(emp0)
      val locs = tr.layer("sources.side_tables")(locs0)
      val sheet = readCsv(spark, paths.sheet)
      var scanned: DataFrame = null
      val stages = Seq(
        Stage("enrich", "1_employees", df => Enrich.employees(df, emp).drop("changed")),
        Stage("enrich", "2_locations", df => Enrich.locations(df, locs)),
        snmpTonerStage(spark, tr, merged),
        Stage("extract", "snapshot", { df => scanned = df; FleetSnapshot(df) }),
        Stage("load", "upsert", { df =>
          val idMap = tr.layer("ops.upsert")(FleetSnapshot.upsertIdMap(df))
          if (tr.enabled) tr.span("bench.count") {
            counts("ops.upsert_rows") = idMap.count().toDouble
          }
          FleetSnapshot.updateSheet(sheet, idMap)
        }))
      val summary = tr.span("pipeline.run")(Pipeline.run(doc, stages, checkpointer(tr)))
      if (!summary.allOk)
        return JobResult(ok = false, s"stages failed: ${summary.failures.map(f =>
          s"${f.step}:${f.substep} ${f.error.getOrElse("")}").mkString("; ")}")
      val docPath = out.resolve("printers.json")
      val sheetPath = out.resolve("sheet.parquet")
      tr.span("store.write") {
        DocumentIngest.writeDocument(scanned, docPath.toString)
        summary.out.write.parquet(sheetPath.toString)
      }
      if (tr.enabled) counts ++= merged.counts += ("store.doc_bytes" -> Files.size(docPath).toDouble)
      // the ticket desk's store is the written document read back; the
      // check digests the same read
      val store = tr.span("store.read") {
        val d = DocumentIngest.printers(DocumentIngest.readDocument(spark, docPath.toString)).cache()
        d.count()
        d
      }
      val problems = try helpdesk(store, k, tr, counts) ++ tr.span("bench.check") {
        val gotSheet = spark.read.parquet(sheetPath.toString).select(
          FleetModel.SheetCols.map(c => col(s"`$c`")): _*).collect().toSeq
          .map(r => r.toSeq.map(v => if (v == null) FleetModel.Null else v.toString).mkString("|"))
          .sorted
        compare("document", docLines(store), wantDoc).toSeq ++
          compare("sheet", gotSheet, wantSheet).toSeq
      } finally store.unpersist(blocking = true)
      JobResult(problems.isEmpty, problems.mkString("; "), counts.toMap +
        ("bench.result_rows" -> (fleet.printers.length + fleet.sheet.length).toDouble))
    } finally {
      tr.release()
      releaseSince(spark, before)
      Files2.deleteTree(out)
    }
  }
}

object FleetRefresh {
  /** Helpdesk lookups served from each refreshed store (an assumed
    * ratio, not a measured one). */
  val Lookups = 2

  /** A reachable device answers a walk after one round trip; an
    * unreachable one holds the poller for the timeout and fails. */
  val RttMs = 5
  val TimeoutMs = 50
}

/** The helpdesk side of the fleet job: checks for ticket lookups. */
object TicketLookup {
  def view(t: Ticket): FleetModel.TicketView = FleetModel.TicketView(t.customer,
    t.branchId, t.serial, t.model, t.address, t.contact, t.phone, t.group, t.colors)

  private def esc(s: String): String = s.replace("&", "&amp;").replace("<", "&lt;")
    .replace(">", "&gt;").replace("\"", "&quot;").replace("'", "&#x27;")

  /** The found tickets must be exactly the expected projections (a miss is
    * an empty set), and each rendered page must carry its ticket's fields. */
  def verify(want: Seq[FleetModel.TicketView], got: Seq[FleetModel.TicketView],
      htmls: Seq[String]): Option[String] = {
    def key(v: FleetModel.TicketView) = (v.serial, v.branchId, v.group)
    val (w, g) = (want.sortBy(key), got.sortBy(key))
    val badHtml = got.zip(htmls).find { case (t, h) =>
      !(h.startsWith("<div dir=\"rtl\"") && h.endsWith("</table></div>") &&
        Seq(t.serial, t.model, t.address, t.contact, t.phone).forall(v => h.contains(esc(v))))
    }
    if (w != g) Some(s"got ${g.take(2)} want ${w.take(2)}")
    else if (htmls.length != got.length) Some(s"${htmls.length} pages for ${got.length} tickets")
    else badHtml.map { case (t, _) => s"page for ${t.serial} lacks its fields" }
  }
}

/** Near-duplicate cluster resolution (MinHash-LSH pairs → connected
  * components) over a corpus with planted families; shuffle-heavy and
  * iterative, and it touches none of the fleet layers. */
final class CurationDedup(seed: Long, work: Path, docs: Int) extends Workload {
  val name = "curation_dedup"
  val warmups = 1
  val minSamples = 3
  private lazy val corpus = CorpusGen.generate(seed, docs)
  private var master: Path = _
  private val seenStamps = mutable.Set.empty[String]
  def describe = s"docs=$docs families=${corpus.families.size} " +
    s"family_docs=${corpus.families.values.map(_.size).sum}"

  /** One parquet file in the `documents` schema, like the engine's
    * testdata; each job copies it to a fresh directory. */
  def gen(spark: SparkSession): Unit = {
    import spark.implicits._
    master = work.resolve("corpus")
    corpus.docs.map(d => (d.docId, d.text, "en", s"src${d.docId % 5}", d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(master.resolve("documents.parquet").toString)
  }

  def setup(spark: SparkSession, tr: Tracer): Unit = ()

  /** Fresh input directory: the engine memoizes clusters per (dir, file
    * fingerprint), and a real user's new corpus never hits that memo. */
  private def freshInput(k: Int): Path = {
    val dir = work.resolve(s"in/corpus-$k-${System.nanoTime()}")
    require(!Files.exists(dir), s"input dir reused: $dir")
    val src = master.resolve("documents.parquet")
    val dst = dir.resolve("documents.parquet")
    Files.createDirectories(dst)
    Files.list(src).forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
    val stamp = Files.list(dst).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
      .map(f => s"$f:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}").mkString("|")
    require(seenStamps.add(stamp), s"input fingerprint reused: $stamp")
    dir
  }

  def job(spark: SparkSession, k: Int, tr: Tracer): JobResult = {
    val in = freshInput(k)
    val out = in.resolve("clusters.parquet")
    try {
      val counts = mutable.Map.empty[String, Double]
      val clusters =
        if (!tr.enabled) TextQueries.t21DupClusters.run(spark, in.toString)
        else {
          val pairs = tr.layer("queries.pairs")(DupClusterLayers.pairs(spark, in.toString))
          val cc = tr.layer("ops.cc")(
            DupClusterLayers.clusters(pairs, DupClusterLayers.nodes(spark, in.toString)))
          tr.span("bench.count") {
            val fam = corpus.familyOf
            val pairRows = pairs.collect()
            counts("queries.candidate_pairs") = pairRows.length.toDouble
            counts("queries.true_pairs") = pairRows.count(r =>
              fam(r.getLong(0)) >= 0 && fam(r.getLong(0)) == fam(r.getLong(1))).toDouble
          }
          cc.orderBy("doc_id") // t21's output order
        }
      tr.span("store.write")(clusters.write.parquet(out.toString))
      val problem = tr.span("bench.check") {
        val got = spark.read.parquet(out.toString).select("doc_id", "cluster_id").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        counts("ops.clusters") = got.values.groupBy(identity).count(_._2.size > 1).toDouble
        val (found, edited) = editRecall(got)
        counts("queries.edits_found") = found.toDouble
        counts("queries.edits_planted") = edited.toDouble
        check(got)
      }
      tr.release()
      JobResult(problem.isEmpty, problem.getOrElse(""),
        counts.toMap + ("bench.result_rows" -> docs.toDouble))
    } finally Files2.deleteTree(in)
  }

  /** Each family's unedited members share one cluster; no cluster holds
    * documents of two families (an unplanted document is a family of its
    * own). Content-edited members may be missed (recall, reported apart)
    * but never merged into another family. */
  def check(clusterOf: Map[Long, Long]): Option[String] = {
    if (clusterOf.size != corpus.docs.length || !corpus.docs.forall(d => clusterOf.contains(d.docId)))
      return Some(s"${clusterOf.size} labelled docs, expected ${corpus.docs.length}")
    val split = corpus.docs.filter(d => d.family >= 0 && !d.edited).groupBy(_.family)
      .find { case (_, ds) => ds.map(d => clusterOf(d.docId)).distinct.size != 1 }
    val joined = corpus.docs.groupBy(d => clusterOf(d.docId)).find { case (_, ds) =>
      ds.map(d => if (d.family >= 0) s"f${d.family}" else s"d${d.docId}").distinct.size != 1
    }
    split.map { case (f, ds) => s"family $f split: ${ds.map(d => d.docId -> clusterOf(d.docId))}" }
      .orElse(joined.map { case (c, ds) => s"cluster $c joins ${ds.map(_.docId).take(6)}" })
  }

  /** (content-edited members found in their family's cluster, edited members). */
  def editRecall(clusterOf: Map[Long, Long]): (Int, Int) = {
    val core = corpus.docs.filter(d => d.family >= 0 && !d.edited)
      .map(d => d.family -> clusterOf(d.docId)).toMap
    val edited = corpus.docs.filter(_.edited)
    (edited.count(d => core.get(d.family).contains(clusterOf(d.docId))), edited.length)
  }
}
