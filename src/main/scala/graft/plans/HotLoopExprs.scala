package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Codegen'd hot-loop primitives for the three interpreted
  * higher-order-function walls VERDICT r20 names (HOFs bypass
  * whole-stage codegen — each evaluation walks a lambda interpreter and
  * allocates the intermediate arrays; these compile to primitive loops
  * inside the generated stage). Same charter as [[LongArrayDot]]:
  * compose built-ins where semantics allow → native Expression with
  * doGenCode → never a UDF. */

/** Σᵢ bit_count(a[i] & b[i]) over two equal-length `array<bigint>`
  * columns — the t4c bitmask-verify kernel. Replaces
  * `aggregate(zip_with(m1, m2, (a,b) -> bit_count(a & b)), 0, +)`:
  * identical integers (Long.bitCount on the same AND words, long sum
  * associative), no lambda dispatch, no zipped-array allocation per
  * candidate pair. Arrays of different lengths give null, as that
  * composition does (zip_with pads the shorter side with nulls); null
  * arrays propagate null; elements are non-null by construction (mask
  * builders emit dense arrays). Registered as SQL
  * `long_and_popcount`. */
case class LongArrayAndPopcount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += java.lang.Long.bitCount($x.getLong($i) & $y.getLong($i));
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): LongArrayAndPopcount =
    copy(left = l, right = r)

  override def prettyName: String = "long_and_popcount"
}

/** Σᵢ lut[i·k + codes[i]] — the packed-code ADC distance kernel
  * (t87's beam rounds): `codes` is one vector's [[graft.queries]] PQ
  * code word (M entries, each in 0..k−1), `lut` the query's packed
  * (sub, cid)-major distance table (M·k longs, index = sub·k + cid).
  * Replaces the posexplode → 3-key broadcast join → re-aggregate per
  * candidate per round with M array reads + adds inside the generated
  * stage; the sum is the same M longs in the same fixed order, so the
  * result is bit-identical. A code outside 0..k−1, or a `lut` shorter
  * than M·k, is a programming error and throws naming the bad code or
  * length (the unchecked array read would return garbage). Registered
  * as SQL `long_lut_sum(codes, lut, k)`. */
case class LongArrayLutSum(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType), IntegerType)

  override def dataType: DataType = LongType

  override def nullSafeEval(c: Any, l: Any, kv: Any): Any = {
    val codes = c.asInstanceOf[ArrayData]
    val lut = l.asInstanceOf[ArrayData]
    val k = kv.asInstanceOf[Int]
    val n = codes.numElements()
    LongArrayLutSum.checkLut(lut.numElements(), n, k)
    var s = 0L
    var i = 0
    while (i < n) {
      val code = codes.getLong(i)
      LongArrayLutSum.checkCode(code, i, k)
      s += lut.getLong(i * k + code.toInt)
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l, k) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val code = ctx.freshName("code")
      val obj = "graft.plans.LongArrayLutSum"
      s"""
         |int $n = $c.numElements();
         |$obj.checkLut($l.numElements(), $n, $k);
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $code = $c.getLong($i);
         |  $obj.checkCode($code, $i, $k);
         |  $s += $l.getLong($i * $k + (int) $code);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): LongArrayLutSum =
    copy(first = f, second = s, third = t)

  override def prettyName: String = "long_lut_sum"
}

object LongArrayLutSum {
  def checkLut(lutLen: Int, m: Int, k: Int): Unit =
    if (lutLen.toLong < m.toLong * k)
      throw new IllegalArgumentException(
        s"long_lut_sum: lut has $lutLen entries, $m codes need ${m.toLong * k}")

  def checkCode(code: Long, i: Int, k: Int): Unit =
    if (code < 0 || code >= k)
      throw new IllegalArgumentException(
        s"long_lut_sum: code $code at position $i is outside 0..${k - 1}")
}

/** Sliding-window RIGHTMOST-MIN fingerprints — the winnowing kernel
  * (t60/t61/t61b). Input: a doc's shingle-hash array `hs` and the
  * window width `w` (foldable). Output: one struct(pos, h) per window
  * i ∈ [1, max(len−w+1, 1)] — h = min hash of the window, pos = the
  * 1-based index of its RIGHTMOST occurrence (the winnowing tie rule,
  * Schleimer et al. 2003), windows clamped at the array end (short
  * docs get one sub-w window). An empty input yields an empty array
  * (callers explode, so the zero-shingle doc contributes no rows —
  * the previous `filter(nw > 0)` semantics).
  *
  * Replaces the interpreted
  * `transform(sequence(1, nw), i -> array_min(slice(hz, i, w)))` over
  * zip_with'd (h, −idx) structs: per window that paid a slice
  * allocation + struct-array min scan through the lambda interpreter;
  * this is one fused primitive loop per document inside codegen.
  * Values are identical: scanning ascending j with `h ≤ best` updates
  * picks the smallest h and, among equal h, the largest j —
  * lexicographic min of (h, −j). Registered as SQL
  * `winnow_min_windows(hs, w)`. */
case class WinnowMinWindows(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), IntegerType)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(a: Any, wv: Any): Any = {
    val hs = a.asInstanceOf[ArrayData]
    val w = wv.asInstanceOf[Int]
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val nw = math.max(n - w + 1, 1)
    val out = new Array[Any](nw)
    var i = 0
    while (i < nw) {
      val end = math.min(i + w, n)
      var bh = hs.getLong(i)
      var bj = i
      var j = i + 1
      while (j < end) {
        val h = hs.getLong(j)
        if (h <= bh) { bh = h; bj = j }
        j += 1
      }
      out(i) = new GenericInternalRow(Array[Any]((bj + 1).toLong, bh))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hs, w) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val nw = ctx.freshName("nw")
      val end = ctx.freshName("end")
      val bh = ctx.freshName("bh")
      val bj = ctx.freshName("bj")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      val row = classOf[GenericInternalRow].getName
      val arr = classOf[GenericArrayData].getName
      s"""
         |int $n = $hs.numElements();
         |int $nw = ($n == 0) ? 0 : java.lang.Math.max($n - $w + 1, 1);
         |Object[] $out = new Object[$nw];
         |for (int $i = 0; $i < $nw; $i++) {
         |  int $end = java.lang.Math.min($i + $w, $n);
         |  long $bh = $hs.getLong($i);
         |  int $bj = $i;
         |  for (int $j = $i + 1; $j < $end; $j++) {
         |    long $h = $hs.getLong($j);
         |    if ($h <= $bh) { $bh = $h; $bj = $j; }
         |  }
         |  $out[$i] = new $row(new Object[] {
         |    java.lang.Long.valueOf((long) ($bj + 1)),
         |    java.lang.Long.valueOf($bh) });
         |}
         |${ev.value} = new $arr($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): WinnowMinWindows =
    copy(left = l, right = r)

  override def prettyName: String = "winnow_min_windows"
}

/** Shared MD5-prefix hashing kernel: thread-local digest, first-8-byte
  * big-endian value, `nibbles` leading hex digits — exactly
  * `conv(substring(md5(s), 1, nibbles), 16, 10)` for nibbles ≤ 15
  * (the portable-hash convention every text operator shares) without
  * the hex-string render, substring alloc, and base-16 string parse
  * per evaluation. */
object Md5Hash60 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def prefix(s: org.apache.spark.unsafe.types.UTF8String,
      nibbles: Int): Long = {
    val d = md.get()
    d.reset()
    val h = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v >>> (4 * (16 - nibbles))
  }
}

/** `md5_prefix(s, nibbles)` — the leading `nibbles` hex digits of
  * md5(s) as a BIGINT (nibbles ∈ 1..16, analysis-checked). For
  * nibbles ≤ 15 this is value-identical to
  * `conv(substring(md5(s), 1, nibbles), 16, 10)` (pinned by
  * HotLoopExprsSpec); nibbles = 16 yields the raw first-8-bytes value
  * as a SIGNED long (the conv form would overflow a BIGINT there —
  * engine-internal bit-extraction use only, e.g. the 64-bit SimHash).
  * Replaces that four-expression string chain in every portable-hash
  * hot path (MinHash base, winnowing hashes, HLL/CMS registers, DSIR
  * buckets, id split bytes, SimHash bit fields). */
case class Md5PrefixVal(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.StringType, IntegerType)

  override def dataType: DataType = LongType

  private lazy val nibbles: Int = {
    require(right.foldable, "md5_prefix nibbles must be a literal")
    val n = right.eval(InternalRow.empty).asInstanceOf[Int]
    require(n >= 1 && n <= 16, s"md5_prefix nibbles must be 1..16: $n")
    n
  }

  override def nullSafeEval(s: Any, n: Any): Any =
    Md5Hash60.prefix(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      nibbles)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nb = nibbles // force the analysis-time checks
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = graft.plans.Md5Hash60.prefix($s, $nb);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Md5PrefixVal = copy(left = l, right = r)

  override def prettyName: String = "md5_prefix"
}

/** `minhash_sigs(shingles, k)` — the whole K-element MinHash signature
  * in ONE pass over the shingle strings: per shingle one MD5 → 60-bit
  * base value mod P, then the k Carter–Wegman minima updated in a
  * primitive loop. Replaces `transform(sh, md5-conv-mod)` followed by
  * K separate `array_min(transform(hv, affine))` passes — K+1
  * interpreted lambdas and K+1 intermediate arrays per document.
  * Null shingle elements are skipped and an empty (or all-null) input
  * yields k null elements — exactly array_min's semantics, pinned by
  * HotLoopExprsSpec. Constants are [[graft.functions.TextAnalysis]]'s
  * (one definition; the oracle mirrors them literally). */
case class MinhashSigs(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(org.apache.spark.sql.types.StringType), IntegerType)

  override def dataType: DataType =
    ArrayType(LongType, containsNull = true)

  private lazy val k: Int = {
    require(right.foldable, "minhash_sigs k must be a literal")
    val n = right.eval(InternalRow.empty).asInstanceOf[Int]
    require(n >= 1, s"minhash_sigs k must be >= 1: $n")
    n
  }
  private lazy val mhA: Array[Long] =
    Array.tabulate(k)(graft.functions.TextAnalysis.minhashA)
  private lazy val mhB: Array[Long] =
    Array.tabulate(k)(graft.functions.TextAnalysis.minhashB)

  override def nullSafeEval(shv: Any, kv: Any): Any = {
    val sh = shv.asInstanceOf[ArrayData]
    val p = graft.functions.TextAnalysis.MinhashP
    val n = sh.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var j = 0
    while (j < n) {
      if (!sh.isNullAt(j)) {
        val v = Md5Hash60.prefix(sh.getUTF8String(j), 15) % p
        seen = true
        var i = 0
        while (i < k) {
          val x = (v * mhA(i) + mhB(i)) % p
          if (x < mins(i)) mins(i) = x
          i += 1
        }
      }
      j += 1
    }
    val out = new Array[Any](k)
    if (seen) { var i = 0; while (i < k) { out(i) = mins(i); i += 1 } }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", mhA, "long[]")
    val bRef = ctx.addReferenceObj("mhB", mhB, "long[]")
    val p = graft.functions.TextAnalysis.MinhashP
    val kk = k
    val arr = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, (sh, _) => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val x = ctx.freshName("x")
      val mins = ctx.freshName("mins")
      val seen = ctx.freshName("seen")
      val out = ctx.freshName("out")
      s"""
         |int $n = $sh.numElements();
         |long[] $mins = new long[$kk];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $seen = false;
         |for (int $j = 0; $j < $n; $j++) {
         |  if ($sh.isNullAt($j)) continue;
         |  long $v = graft.plans.Md5Hash60.prefix(
         |    $sh.getUTF8String($j), 15) % ${p}L;
         |  $seen = true;
         |  for (int $i = 0; $i < $kk; $i++) {
         |    long $x = ($v * $aRef[$i] + $bRef[$i]) % ${p}L;
         |    if ($x < $mins[$i]) $mins[$i] = $x;
         |  }
         |}
         |Object[] $out = new Object[$kk];
         |if ($seen) {
         |  for (int $i = 0; $i < $kk; $i++) {
         |    $out[$i] = java.lang.Long.valueOf($mins[$i]);
         |  }
         |}
         |${ev.value} = new $arr($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): MinhashSigs = copy(left = l, right = r)

  override def prettyName: String = "minhash_sigs"
}

/** `long_eq_count(a, b)` — number of positions where two
  * `array<bigint>` columns agree, over the common prefix. INT result
  * (matches `size(filter(zip_with(a, b, ==), id))` exactly — the
  * MinHash signature-agreement screen's type), no lambda dispatch, no
  * zipped/filtered array allocations per candidate pair. */
case class LongArrayEqCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) s += 1
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |int $s = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.getLong($i) == $y.getLong($i)) $s++;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): LongArrayEqCount =
    copy(left = l, right = r)

  override def prettyName: String = "long_eq_count"
}
