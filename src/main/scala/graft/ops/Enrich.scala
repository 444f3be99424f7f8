package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Normalize
import graft.sources.DocumentIngest

/** Document-level enrichment joins (SURVEY.md §2.3 J1/J2, W1).
  *
  * Both side tables are tiny relative to the fleet — always broadcast;
  * the printers side never shuffles. Order-sensitive merge semantics
  * (last-wins, first-seen) are pinned to explicit row indexes
  * (SURVEY.md §4.3) — bare first()/last() without order is a bug class
  * these helpers exist to prevent.
  */
object Enrich {

  import org.apache.spark.sql.types.{DataType, StringType, StructField}

  /** The storeInfo fields enrichment reads or writes: storeInfo is
    * widened to them (`DocumentIngest.ensureStruct`) before any update. */
  private val StoreInfoFields: Seq[StructField] = {
    val descT = DataType.fromDDL(
      "struct<LineID:string,PrimaryDescription:string,SecondayDescription:string>")
    Seq("Manager", "Phone", "Location", "Postal").map(StructField(_, StringType)) ++
      Seq("firstDescription", "secondDescription").map(StructField(_, descT))
  }

  /** J1 — employees → branches (core/enrich/employees.py:4-34):
    * left-join on trimmed id; NON-EMPTY-WINS update of
    * storeInfo.Manager/Phone (an empty employee cell never clobbers an
    * existing value, :26-29); `changed` column supports the run
    * summary's changed-row count. Expects `employees(id, name, phone)`
    * plus `row_idx` when the sheet carries one (SideTables.employees
    * shape). */
  def employees(printers: DataFrame, employees: DataFrame): DataFrame = {
    // build_employees_index is a dict — duplicate ids collapse with the
    // LAST row winning (employees.py:4-5); a plain join would instead
    // fan out printer rows. Last-wins needs source order: use row_idx
    // when the caller carries one, else pin determinism by value order.
    val keyed = employees.select(trim(col("id")).as("emp_id"),
      struct(col("name"), col("phone")).as("np"),
      (if (employees.columns.contains("row_idx")) col("row_idx")
       else struct(col("name"), col("phone"))).as("ord"))
    val emp = broadcast(keyed
      .groupBy("emp_id")
      .agg(max_by(col("np"), col("ord")).as("v"))
      .select(col("emp_id"), col("v.name").as("emp_name"),
        col("v.phone").as("emp_phone")))
    val isBranch = col("group") === "Branches_Grouped"
    def nonEmptyWins(newV: Column, oldV: Column): Column =
      when(length(trim(coalesce(newV, lit("")))) > 0, newV).otherwise(oldV)
    val widened = DocumentIngest.ensureStruct(printers, "storeInfo", StoreInfoFields)
    val joined = widened.join(emp,
      isBranch && trim(col("ID").cast("string")) === col("emp_id"), "left")
    val si = DocumentIngest.structBase(widened, "storeInfo")
    val newManager = nonEmptyWins(col("emp_name"), si.getField("Manager"))
    val newPhone = nonEmptyWins(col("emp_phone"), si.getField("Phone"))
    joined
      .withColumn("changed",
        col("emp_id").isNotNull &&
          (!(newManager <=> si.getField("Manager")) ||
           !(newPhone <=> si.getField("Phone"))))
      .withColumn("storeInfo",
        when(col("emp_id").isNotNull,
          si.withField("Manager", newManager).withField("Phone", newPhone))
          .otherwise(si))
      .drop("emp_id", "emp_name", "emp_phone")
  }

  /** Branch ids are canonicalized NUMERICALLY on both sides
    * (`_safe_int`, locations.py:51,61,82 — "105.0" and "105" are the
    * same branch); non-numeric ids drop out like the reference's
    * `continue`. */
  private def bidOf(c: Column): Column = Normalize.safeInt(c)

  /** `_norm_text` (locations.py:19-25): strip + whitespace-collapse,
    * null when nothing remains (no lowercasing, unlike F1). */
  private def normText(c: Column): Column = {
    val s = regexp_replace(trim(c.cast("string")), "\\s+", " ")
    when(s =!= "", s)
  }

  /** J2 — full locations → branches enrich (locations.py:37-111): the
    * reference's single pass over the sheet as ONE per-branch aggregate
    * over `locs(branch_id, address, primary_desc, secondary_desc,
    * subscriber, row_idx)`, every order pinned to `row_idx`:
    *  - address: last non-blank wins (:47-56) — max_by on the row index,
    *    nulled on blank rows because max_by skips null orderings;
    *  - pairs (:57-78 + W1): the row-sorted list of described rows; its
    *    distinct (primary, secondary) pairs in first-seen order, ranks
    *    1–2 kept. Texts go through `_norm_text`: a row with BOTH halves
    *    blank is skipped, a single blank half reads "" (:66-70). Each
    *    pair's LineID is its first non-blank subscriber, else ""
    *    (:98: nums[0] if nums else "").
    * Then postal split (F7) and a broadcast join onto the branches. */
  def locations(printers: DataFrame, locs: DataFrame): DataFrame = {
    val address = trim(col("address"))
    val (primary, secondary) = (normText(col("primary_desc")), normText(col("secondary_desc")))
    val perBranch = locs
      .where(bidOf(col("branch_id")).isNotNull)
      .groupBy(bidOf(col("branch_id")).as("bid"))
      .agg(
        max_by(address, when(address =!= "", col("row_idx"))).as("b_address"),
        array_sort(collect_list(when(primary.isNotNull || secondary.isNotNull, struct(
          col("row_idx").as("r"),
          coalesce(primary, lit("")).as("p"),
          coalesce(secondary, lit("")).as("s"),
          normText(col("subscriber")).as("sub"))))).as("rows"))
      // materialized before the subscriber filter below indexes it
      // (README: lambdas never index a captured expression)
      .withColumn("pairs", slice(array_distinct(
        transform(col("rows"), r => struct(r("p").as("p"), r("s").as("s")))), 1, 2))
    def desc(rank: Int): Column = {
      val pair = get(col("pairs"), lit(rank - 1))
      val firstSub = get(filter(col("rows"), r =>
        r("p") === pair("p") && r("s") === pair("s") && r("sub").isNotNull), lit(0))
      when(pair.isNotNull, struct(
        coalesce(firstSub("sub"), lit("")).as("LineID"),
        pair("p").as("PrimaryDescription"),
        // (sic) the typo is part of the reference schema,
        // core/enrich/locations.py:95-103
        pair("s").as("SecondayDescription")))
    }
    val (postal, cleanAddr) = Normalize.splitPostal(col("b_address"))
    val side = broadcast(perBranch
      .select(col("bid"), col("b_address"), desc(1).as("b_first"), desc(2).as("b_second"))
      .withColumn("b_postal", postal)
      .withColumn("b_location", cleanAddr))
    val isBranch = col("group") === "Branches_Grouped"
    val widened = DocumentIngest.ensureStruct(printers, "storeInfo", StoreInfoFields)
    val joined = widened.join(side,
      isBranch && bidOf(col("ID")) === col("bid"), "left")
    val si = DocumentIngest.structBase(widened, "storeInfo")
    joined
      .withColumn("storeInfo",
        when(col("bid").isNotNull, si
          // Location/Postal are (over)written together iff an address
          // exists — Postal may be set to NULL then (locations.py:88-92)
          .withField("Location",
            when(col("b_address").isNotNull, col("b_location"))
              .otherwise(si.getField("Location")))
          .withField("Postal",
            when(col("b_address").isNotNull, col("b_postal"))
              .otherwise(si.getField("Postal")))
          .withField("firstDescription",
            coalesce(col("b_first"), si.getField("firstDescription")))
          .withField("secondDescription",
            coalesce(col("b_second"), si.getField("secondDescription"))))
          .otherwise(si))
      .drop("bid", "b_address", "b_first", "b_second", "b_postal", "b_location")
  }
}
