package graft.plans

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The r21 codegen hot-loop kernels, each pinned against the
  * interpreted built-in composition it replaced — on randomized inputs
  * (fixed seed) plus the edge shapes (empty arrays, short arrays, tie
  * runs), in BOTH codegen and interpreted eval (collect exercises
  * codegen; a filter on a literal-true branch keeps the plan honest).
  */
class HotLoopExprsSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(0xC0FFEE)

  test("long_and_popcount equals aggregate(zip_with(bit_count(&)))") {
    val rows = (0 until 200).map { i =>
      val n = rnd.nextInt(65) // 0..64 words, incl. empty
      (i.toLong, Array.fill(n)(rnd.nextLong()), Array.fill(n)(rnd.nextLong()))
    }
    val df = rows.toDF("id", "a", "b")
      .select(col("id"),
        expr("long_and_popcount(a, b)").as("fast"),
        expr("CAST(aggregate(zip_with(a, b, (x, y) -> bit_count(x & y)), " +
          "0, (acc, v) -> acc + v) AS BIGINT)").as("ref"))
    val bad = df.filter(col("fast") =!= col("ref")).count()
    assert(bad == 0)
    // empty arrays → 0
    val e = Seq((Array.empty[Long], Array.empty[Long])).toDF("a", "b")
      .selectExpr("long_and_popcount(a, b)").head.getLong(0)
    assert(e == 0L)
  }

  test("long_lut_sum equals the explode-join-sum composition") {
    val k = 8
    val m = 4
    val rows = (0 until 100).map { i =>
      (i.toLong,
        Array.fill(m)(rnd.nextInt(k).toLong), // codes in 0..k-1
        Array.fill(m * k)(rnd.nextInt(1 << 20).toLong)) // packed lut
    }
    val df = rows.toDF("id", "codes", "lut")
    val fast = df.selectExpr("id", s"long_lut_sum(codes, lut, $k) AS s")
    // reference: posexplode codes, look up lut[sub*k+code], sum
    val ref = df
      .select(col("id"), col("lut"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("id"),
        element_at(col("lut"),
          (col("sub") * k + col("code") + 1).cast("int")).as("ld"))
      .groupBy("id").agg(sum("ld").as("s0"))
    val bad = fast.join(ref, "id").filter(col("s") =!= col("s0")).count()
    assert(bad == 0)
  }

  test("long_and_popcount of arrays of different lengths is null, as the composition is") {
    // 3 words against 2: zip_with pads with null, so the sum is null
    val a = Array(7L, 7L, 7L)
    val b = Array(7L, 7L)
    val df = Seq((a, b), (b, a), (b, b)).toDF("a", "b").localCheckpoint()
    val got = df.selectExpr("long_and_popcount(a, b)",
        "CAST(aggregate(zip_with(a, b, (x, y) -> bit_count(x & y)), " +
          "0, (acc, v) -> acc + v) AS BIGINT)")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(got == Seq((None, None), (None, None), (Some(6L), Some(6L))))
    // the interpreted path
    assert(LongArrayAndPopcount(Literal(a), Literal(b)).eval() == null)
    assert(LongArrayAndPopcount(Literal(b), Literal(b)).eval() == 6L)
  }

  test("long_lut_sum throws on a code outside 0..k-1 or a short lut") {
    val k = 4
    val lut = Array.tabulate(2 * k)(_.toLong)
    // UnsafeArrayData inputs, so the generated code runs
    val df = Seq((Array(1L, 2L), lut), (Array(1L, k.toLong), lut))
      .toDF("codes", "lut").localCheckpoint()
    val ok = df.limit(1).selectExpr(s"long_lut_sum(codes, lut, $k)")
    assert(ok.head.getLong(0) == 1L + (k + 2))
    val bad = intercept[Exception] {
      df.selectExpr(s"long_lut_sum(codes, lut, $k)").collect()
    }
    assert(bad.getMessage.contains(s"code $k at position 1"), bad.getMessage)
    val short = intercept[Exception] {
      df.selectExpr(s"long_lut_sum(codes, slice(lut, 1, ${2 * k - 1}), $k)")
        .collect()
    }
    assert(short.getMessage.contains(s"lut has ${2 * k - 1} entries"),
      short.getMessage)
    // the interpreted path
    val e = intercept[IllegalArgumentException] {
      LongArrayLutSum(Literal(Array(-1L, 0L)), Literal(lut), Literal(k)).eval()
    }
    assert(e.getMessage.contains("code -1 at position 0"))
  }

  test("winnow_min_windows equals the zip_with/array_min composition") {
    val w = 4
    // hash pools with heavy tie mass so the rightmost-min rule is
    // actually exercised (small value domain → many equal minima)
    val rows = (0 until 300).map { i =>
      val n = rnd.nextInt(40) // 0..39 hashes, incl. empty + sub-w
      (i.toLong, Array.fill(n)(rnd.nextInt(5).toLong))
    }
    val df = rows.toDF("id", "hs")
    val fast = df
      .select(col("id"),
        explode(expr(s"winnow_min_windows(hs, $w)")).as("fp"))
      .select(col("id"), col("fp.pos").as("pos"), col("fp.h").as("h"))
    // the r20 single-pass HOF reference (bit-for-bit the old t60 body)
    val nw = when(size(col("hs")) === 0, 0)
      .otherwise(greatest(size(col("hs")) - w + 1, lit(1)))
    val fp = (i: org.apache.spark.sql.Column) => {
      val mn = array_min(slice(col("hz"), i, lit(w)))
      struct((-mn.getField("nj")).cast("long").as("pos"),
        mn.getField("h").as("h"))
    }
    val ref = df
      .withColumn("nw", nw)
      .filter(col("nw") > 0)
      .withColumn("hz", zip_with(col("hs"),
        sequence(lit(1), size(col("hs"))),
        (h, j) => struct(h.as("h"), (-j).as("nj"))))
      .select(col("id"),
        explode(transform(sequence(lit(1), col("nw")), fp)).as("fp"))
      .select(col("id"), col("fp.pos").as("pos"), col("fp.h").as("h"))
    assert(fast.count() == ref.count())
    assert(fast.exceptAll(ref).count() == 0)
    assert(ref.exceptAll(fast).count() == 0)
    // empty input contributes no rows (the former filter(nw > 0))
    val empties = fast.join(
      df.filter(size(col("hs")) === 0).select("id"), "id").count()
    assert(empties == 0)
  }

  test("md5_prefix equals conv(substring(md5(s), 1, n), 16, 10)") {
    val words = (0 until 300).map(i =>
      scala.util.Random.javaRandomToRandom(new java.util.Random(i))
        .alphanumeric.take(1 + i % 30).mkString) ++
      Seq("", " ", "a b c", "ünïcode ÷ テスト")
    val df = words.toDF("s")
    for (n <- Seq(2, 8, 12, 15)) {
      val bad = df.select(
        expr(s"md5_prefix(s, $n)").as("fast"),
        expr(s"CAST(conv(substring(md5(s), 1, $n), 16, 10) AS BIGINT)")
          .as("ref"))
        .filter(col("fast") =!= col("ref")).count()
      assert(bad == 0, s"nibbles=$n")
    }
  }

  test("minhash_sigs equals the transform/array_min composition") {
    import graft.functions.TextAnalysis
    val k = TextAnalysis.MinhashK
    val p = TextAnalysis.MinhashP
    val rows = (0 until 200).map { i =>
      val n = rnd.nextInt(20) // 0..19 shingles incl. empty
      (i.toLong, Array.fill(n)(s"w${rnd.nextInt(40)} x${rnd.nextInt(9)}"))
    }
    val df = rows.toDF("id", "s")
    val fast = df.select(col("id"),
      expr(s"minhash_sigs(s, $k)").as("sig"))
    val hv = transform(col("s"), x =>
      conv(substring(md5(x), 1, 15), 16, 10).cast("long") % p)
    val ref = df
      .select(col("id"), hv.as("hv"))
      .select(col("id"), array((0 until k).map(i =>
        array_min(transform(col("hv"), v =>
          (v * TextAnalysis.minhashA(i) + TextAnalysis.minhashB(i)) % p)))
        : _*).as("sig"))
    val bad = fast.join(ref.withColumnRenamed("sig", "sig0"), "id")
      .filter(not(col("sig") <=> col("sig0"))).count()
    assert(bad == 0)
    // empty shingle array → k null elements, exactly like array_min
    val e = Seq(Tuple1(Array.empty[String])).toDF("s")
      .selectExpr(s"minhash_sigs(s, $k) AS sig").head
      .getSeq[Any](0)
    assert(e.length == k && e.forall(_ == null))
  }

  test("long_eq_count equals size(filter(zip_with(==)))") {
    val rows = (0 until 200).map { i =>
      val n = rnd.nextInt(16)
      (i.toLong, Array.fill(n)(rnd.nextInt(4).toLong),
        Array.fill(n)(rnd.nextInt(4).toLong))
    }
    val df = rows.toDF("id", "a", "b")
      .select(
        expr("long_eq_count(a, b)").as("fast"),
        size(filter(zip_with(col("a"), col("b"), (x, y) => x === y),
          bb => bb)).as("ref"))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0)
    assert(df.schema("fast").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("simhashContribBits over md5_prefix equals simhashContrib over md5 hex") {
    import graft.functions.TextAnalysis.{simhashContrib, simhashContribBits}
    val words = (0 until 150).map(i => s"tok$i word${i * 7} x") :+ ""
    val df = words.toDF("s")
      .withColumn("hh", md5(col("s")))
      .withColumn("v8", expr("md5_prefix(s, 8)"))
      .withColumn("v16", expr("md5_prefix(s, 16)"))
    for (width <- Seq(32, 64)) {
      val vcol = if (width == 32) "v8" else "v16"
      val bits = Seq(0, 1, width / 2, width - 2, width - 1)
      val checks = bits.map(b =>
        (simhashContribBits(col(vcol), b, width) ===
          simhashContrib("hh", b)).as(s"ok_$b"))
      val bad = df.select(checks: _*)
        .filter(not(checks.indices.map(i => col(s"ok_${bits(i)}"))
          .reduce(_ && _))).count()
      assert(bad == 0, s"width=$width")
    }
  }

  test("winnow_min_windows rightmost tie rule, explicit example") {
    // hs = [7, 1, 1, 9]: w=4 → one window, min 1 occurs at pos 2 and 3
    // → rightmost ⇒ pos 3
    val out = Seq((1L, Array(7L, 1L, 1L, 9L))).toDF("id", "hs")
      .selectExpr("explode(winnow_min_windows(hs, 4)) AS fp")
      .select("fp.pos", "fp.h").collect()
    assert(out.length == 1 && out(0).getLong(0) == 3L &&
      out(0).getLong(1) == 1L)
  }
}
