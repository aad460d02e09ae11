package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen kernels for the token-window family (r17 optimization
  * round, guide §4): the n-gram/shingle/segment constructions were
  * written as `transform(sequence(...), i -> concat_ws(' ',
  * slice/element_at...))` chains — `ArrayTransform` is a
  * CodegenFallback, so every window paid interpreted lambda binding,
  * a materialized index `sequence`, and per-window `slice` copies, on
  * the hottest corpus-wide paths (shingling, segment scrub, bigram
  * features). Each kernel below is a whole-stage-codegen expression
  * that walks the token array once.
  *
  * Equivalence with the HOF chains they replace is pinned in
  * VectorExprSpec (empty arrays, empty-string tokens, null tokens,
  * unicode, every size around the window boundaries):
  *
  *  - `word_ngrams(ws, n)` ≡ `transform(sequence(1, size(ws) - n + 1),
  *    i -> concat_ws(' ', ws[i], ..., ws[i+n-1]))` for size(ws) ≥ n —
  *    same join (concat_ws skips null elements, keeps empty strings).
  *    For size(ws) < n the HOF form is undefined (descending sequence
  *    hits index 0); every call site guards `size(ws) >= n`, and the
  *    kernel returns an EMPTY array there (which is exactly the
  *    `CASE WHEN size(ws) >= n ... ELSE array() END` some sites
  *    spell out).
  *  - `space_segments(toks, seg)` ≡ `transform(sequence(0,
  *    (size(toks) - 1) div seg), i -> concat_ws(' ', slice(toks,
  *    i*seg + 1, seg)))` including the size-0 degenerate (one empty
  *    segment, from `-1 div seg = 0` truncating division).
  *  - `array_md5(a)` ≡ `transform(a, x -> md5(x))` — same
  *    DigestUtils.md5Hex digest Spark's `md5` uses, null elements
  *    propagate.
  */
object NgramExpressions {

  private val SPACE = UTF8String.fromString(" ")

  /** Static helper shared by the codegen'd and interpreted paths. */
  def wordNgramsArr(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    val m = sz - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) {
        buf(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(SPACE, buf: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  def spaceSegmentsArr(arr: ArrayData, seg: Int): ArrayData = {
    val sz = arr.numElements()
    val nSeg = if (sz == 0) 1 else (sz - 1) / seg + 1
    val out = new Array[Any](nSeg)
    var k = 0
    while (k < nSeg) {
      val start = k * seg
      val w = math.min(start + seg, sz) - start
      val buf = new Array[UTF8String](w)
      var j = 0
      while (j < w) {
        buf(j) = if (arr.isNullAt(start + j)) null else arr.getUTF8String(start + j)
        j += 1
      }
      out(k) = UTF8String.concatWs(SPACE, buf: _*)
      k += 1
    }
    new GenericArrayData(out)
  }

  def arrayMd5Arr(arr: ArrayData): ArrayData = {
    val sz = arr.numElements()
    val out = new Array[Any](sz)
    var i = 0
    while (i < sz) {
      out(i) =
        if (arr.isNullAt(i)) null
        else UTF8String.fromString(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(
            arr.getUTF8String(i).getBytes))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Sliding-window minimum over a string array — ≡
    * `transform(sequence(1, greatest(size(a) - w + 1, 1)),
    *    i -> array_min(slice(a, i, w)))`
    * (the winnowing fingerprint selector): one window per position,
    * `greatest(..., 1)` keeps a single whole-array window for short
    * docs, `array_min` semantics = least non-null element (null iff
    * the window is all-null/empty). */
  def winnowMinsArr(arr: ArrayData, w: Int): ArrayData = {
    val sz = arr.numElements()
    val m = math.max(sz - w + 1, 1)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val end = math.min(i + w, sz)
      var best: UTF8String = null
      var j = i
      while (j < end) {
        if (!arr.isNullAt(j)) {
          val v = arr.getUTF8String(j)
          if (best == null || v.compareTo(best) < 0) best = v
        }
        j += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Adjacent-pair structs — ≡ `transform(sequence(1, size(ws) - 1),
    * i -> named_struct('w1', element_at(ws, i), 'w2',
    * element_at(ws, i + 1)))` for size(ws) ≥ 2 (callers guard);
    * empty below the guard. */
  def bigramStructsArr(arr: ArrayData): ArrayData = {
    val sz = arr.numElements()
    val m = sz - 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        if (arr.isNullAt(i)) null else arr.getUTF8String(i),
        if (arr.isNullAt(i + 1)) null else arr.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass lowercase tokenizer — ≡ `filter(split(lower(text), ' '),
    * w -> w != '')` (the house word tokenizer, 19 call sites):
    * unicode-aware lowercase of the WHOLE string first (same order as
    * the chain; lowercase mappings never produce U+0020, so token
    * boundaries are unaffected), then a byte scan splitting on 0x20 —
    * exact for UTF-8 because multibyte sequences never contain 0x20 —
    * skipping empty runs (which is precisely what the `w != ''`
    * filter removes: split's empties from leading/trailing/double
    * spaces). */
  def lowerTokensArr(s: UTF8String): ArrayData = {
    val b = s.toLowerCase.getBytes
    var n = 0
    var i = 0
    val len = b.length
    while (i < len) {
      if (b(i) != 0x20) {
        n += 1
        while (i < len && b(i) != 0x20) i += 1
      } else i += 1
    }
    val out = new Array[Any](n)
    var k = 0
    i = 0
    while (i < len) {
      if (b(i) != 0x20) {
        val start = i
        while (i < len && b(i) != 0x20) i += 1
        out(k) = UTF8String.fromBytes(b, start, i - start)
        k += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  /** ≡ `filter(split(text, ' '), w -> w != '')` — the non-lowered
    * twin of [[lowerTokensArr]]. */
  def spaceTokensArr(s: UTF8String): ArrayData = {
    val b = s.getBytes
    var n = 0
    var i = 0
    val len = b.length
    while (i < len) {
      if (b(i) != 0x20) {
        n += 1
        while (i < len && b(i) != 0x20) i += 1
      } else i += 1
    }
    val out = new Array[Any](n)
    var k = 0
    i = 0
    while (i < len) {
      if (b(i) != 0x20) {
        val start = i
        while (i < len && b(i) != 0x20) i += 1
        out(k) = UTF8String.fromBytes(b, start, i - start)
        k += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  /** ≡ `size(filter(split(text, ' '), w -> w IN (<list>)))` — the
    * stop-word counter. The chain keeps split's EMPTY tokens and
    * tests each against the list, so this scan enumerates every
    * between-space segment (including empty ones) and counts set
    * members — duplicates counted per occurrence, byte-equality
    * matching the chain's string equality. */
  def countTokensIn(s: UTF8String, set: java.util.HashSet[UTF8String]): Int = {
    val b = s.getBytes
    val len = b.length
    var cnt = 0
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == 0x20) {
        if (set.contains(UTF8String.fromBytes(b, start, i - start))) cnt += 1
        start = i + 1
      }
      i += 1
    }
    cnt
  }

  /** ≡ `transform(a, w -> substring(md5(w), 1, n))` — the md5-hex
    * bucket prefix per element (md5 hex is 32 ASCII chars, so the
    * char-based substring is byte-exact). */
  def arrayMd5PrefixArr(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    val out = new Array[Any](sz)
    var i = 0
    while (i < sz) {
      out(i) =
        if (arr.isNullAt(i)) null
        else UTF8String.fromString(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(
            arr.getUTF8String(i).getBytes).substring(0, n))
      i += 1
    }
    new GenericArrayData(out)
  }

  private def requireStringArray(tag: String, t: DataType) = t match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$tag requires array<string>, got $other")
  }

  case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, s"word_ngrams width must be >= 1, got $n")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireStringArray("word_ngrams", child.dataType)
    override def nullSafeEval(input: Any): Any =
      wordNgramsArr(input.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NgramExpressions.wordNgramsArr($c, $n);")
    override protected def withNewChildInternal(newChild: Expression): WordNgrams =
      copy(child = newChild)
  }

  case class SpaceSegments(child: Expression, seg: Int) extends UnaryExpression {
    require(seg >= 1, s"space_segments width must be >= 1, got $seg")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireStringArray("space_segments", child.dataType)
    override def nullSafeEval(input: Any): Any =
      spaceSegmentsArr(input.asInstanceOf[ArrayData], seg)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NgramExpressions.spaceSegmentsArr($c, $seg);")
    override protected def withNewChildInternal(newChild: Expression): SpaceSegments =
      copy(child = newChild)
  }

  case class ArrayMd5(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = true)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireStringArray("array_md5", child.dataType)
    override def nullSafeEval(input: Any): Any =
      arrayMd5Arr(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NgramExpressions.arrayMd5Arr($c);")
    override protected def withNewChildInternal(newChild: Expression): ArrayMd5 =
      copy(child = newChild)
  }

  case class LowerTokens(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lower_tokens requires a string input, got $t")
      }
    override def nullSafeEval(input: Any): Any =
      lowerTokensArr(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NgramExpressions.lowerTokensArr($c);")
    override protected def withNewChildInternal(newChild: Expression): LowerTokens =
      copy(child = newChild)
  }

  case class SpaceTokens(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"space_tokens requires a string input, got $t")
      }
    override def nullSafeEval(input: Any): Any =
      spaceTokensArr(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NgramExpressions.spaceTokensArr($c);")
    override protected def withNewChildInternal(newChild: Expression): SpaceTokens =
      copy(child = newChild)
  }

  case class CountTokensIn(child: Expression, list: Seq[String]) extends UnaryExpression {
    @transient private lazy val set: java.util.HashSet[UTF8String] = {
      val h = new java.util.HashSet[UTF8String](list.size * 2)
      list.foreach(w => h.add(UTF8String.fromString(w)))
      h
    }
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"count_tokens_in requires a string input, got $t")
      }
    override def nullSafeEval(input: Any): Any =
      countTokensIn(input.asInstanceOf[UTF8String], set)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val setRef = ctx.addReferenceObj("ctiSet", set, "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NgramExpressions.countTokensIn($c, $setRef);")
    }
    override protected def withNewChildInternal(newChild: Expression): CountTokensIn =
      copy(child = newChild)
  }

  case class ArrayMd5Prefix(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1 && n <= 32, s"array_md5_prefix width must be 1..32, got $n")
    override def dataType: DataType = ArrayType(StringType, containsNull = true)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireStringArray("array_md5_prefix", child.dataType)
    override def nullSafeEval(input: Any): Any =
      arrayMd5PrefixArr(input.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NgramExpressions.arrayMd5PrefixArr($c, $n);")
    override protected def withNewChildInternal(newChild: Expression): ArrayMd5Prefix =
      copy(child = newChild)
  }

  case class WordBigramStructs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("w1", StringType), StructField("w2", StringType))),
      containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireStringArray("word_bigram_structs", child.dataType)
    override def nullSafeEval(input: Any): Any =
      bigramStructsArr(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NgramExpressions.bigramStructsArr($c);")
    override protected def withNewChildInternal(newChild: Expression): WordBigramStructs =
      copy(child = newChild)
  }

  case class WinnowMins(child: Expression, w: Int) extends UnaryExpression {
    require(w >= 1, s"winnow_mins window must be >= 1, got $w")
    override def dataType: DataType = ArrayType(StringType, containsNull = true)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireStringArray("winnow_mins", child.dataType)
    override def nullSafeEval(input: Any): Any =
      winnowMinsArr(input.asInstanceOf[ArrayData], w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NgramExpressions.winnowMinsArr($c, $w);")
    override protected def withNewChildInternal(newChild: Expression): WinnowMins =
      copy(child = newChild)
  }

  /** ≡ `transform(array_sort(collect_list-ed array of struct(k, v)),
    * p -> p.v)` — the positional-reassembly idiom (chunk values,
    * PQ/minhash signature vectors): sort 2-field structs by the
    * integral first field, project the second. PRECONDITION (every
    * call site satisfies it): first fields are non-null and DISTINCT
    * within the array — with distinct keys `array_sort`'s struct
    * ordering never reaches the second field, so key-sort ≡
    * struct-sort. A duplicate key breaks that equivalence (the key
    * sort keeps input order where the struct sort orders by value), so
    * it throws instead of returning a silently different array. */
  def sortedValsArr(arr: ArrayData, keyKind: Int, valType: DataType): ArrayData = {
    val sz = arr.numElements()
    val lkeys = if (keyKind <= 1) new Array[Long](sz) else null
    val skeys = if (keyKind == 2) new Array[UTF8String](sz) else null
    val vals = new Array[Any](sz)
    val idx = new Array[Integer](sz)
    var i = 0
    while (i < sz) {
      val st = arr.getStruct(i, 2)
      keyKind match {
        case 0 => lkeys(i) = st.getInt(0).toLong
        case 1 => lkeys(i) = st.getLong(0)
        case _ => skeys(i) = st.getUTF8String(0)
      }
      vals(i) = if (st.isNullAt(1)) null else st.get(1, valType)
      idx(i) = i
      i += 1
    }
    val cmp: java.util.Comparator[Integer] =
      if (keyKind == 2) new java.util.Comparator[Integer] {
        override def compare(a: Integer, b: Integer): Int =
          skeys(a).compareTo(skeys(b))
      } else new java.util.Comparator[Integer] {
        override def compare(a: Integer, b: Integer): Int =
          java.lang.Long.compare(lkeys(a), lkeys(b))
      }
    java.util.Arrays.sort(idx, cmp)
    i = 1
    while (i < sz) {
      if (cmp.compare(idx(i - 1), idx(i)) == 0) {
        val k = if (keyKind == 2) skeys(idx(i)).toString else lkeys(idx(i)).toString
        throw new IllegalArgumentException(
          s"sorted_vals: duplicate key $k — keys must be distinct within the array")
      }
      i += 1
    }
    val out = new Array[Any](sz)
    i = 0
    while (i < sz) { out(i) = vals(idx(i)); i += 1 }
    new GenericArrayData(out)
  }

  case class SortedVals(child: Expression) extends UnaryExpression {
    private def struct: StructType = child.dataType match {
      case ArrayType(s: StructType, _) => s
      case other => throw new IllegalArgumentException(
        s"sorted_vals requires array<struct<k, v>>, got $other")
    }
    private def keyKind: Int = struct.fields(0).dataType match {
      case IntegerType => 0
      case LongType => 1
      case StringType => 2
      case other => throw new IllegalArgumentException(s"sorted_vals key: $other")
    }
    override def dataType: DataType =
      ArrayType(struct.fields(1).dataType, containsNull = struct.fields(1).nullable)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(s: StructType, _) if s.fields.length == 2 &&
          (s.fields(0).dataType == IntegerType || s.fields(0).dataType == LongType ||
            s.fields(0).dataType == StringType) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_vals requires array<struct<int|bigint|string, v>>, got $t")
      }
    override def nullSafeEval(input: Any): Any =
      sortedValsArr(input.asInstanceOf[ArrayData], keyKind, struct.fields(1).dataType)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val vt = ctx.addReferenceObj("svValType", struct.fields(1).dataType,
        "org.apache.spark.sql.types.DataType")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.NgramExpressions.sortedValsArr($c, $keyKind, $vt);")
    }
    override protected def withNewChildInternal(newChild: Expression): SortedVals =
      copy(child = newChild)
  }

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 64-bit SimHash over a word array in ONE pass — ≡ the HOF chain
    * in `Dedup.simhashFps`:
    *
    *   hs  = transform(ws, w -> concat(md5(w), md5(concat('x:', w))))
    *   cnt_d = size(filter(hs, h -> substring(h, d+1, 1) >= '8')), d ∈ 0..63
    *   fp  = OR_d (cnt_d * 2 > size(ws) ? 1L << d : 0)
    *
    * which made 64 interpreted filter passes over the per-word hash
    * array per row. Hex digit d of the concat is nibble d of md5(w)
    * for d < 32, nibble d−32 of md5("x:" + w) otherwise, and
    * `digit >= '8'` over the hex alphabet 0-9a-f is exactly "nibble's
    * high bit set" — so one scan over 16+16 digest bytes per word
    * accumulates all 64 counters. Null words count toward n (size
    * includes them) but match no filter, exactly like the chain's
    * null-lambda drop; a null array yields fp = 0 like the chain's
    * when(NULL).otherwise(0) fold. */
  def simhash64Arr(arr: ArrayData): Long = {
    val sz = arr.numElements()
    val cnt = new Array[Int](64)
    val dg = md.get()
    var i = 0
    while (i < sz) {
      if (!arr.isNullAt(i)) {
        val wb = arr.getUTF8String(i).getBytes
        dg.reset()
        val d1 = dg.digest(wb)
        val pb = new Array[Byte](wb.length + 2)
        pb(0) = 'x'; pb(1) = ':'
        System.arraycopy(wb, 0, pb, 2, wb.length)
        dg.reset()
        val d2 = dg.digest(pb)
        var k = 0
        while (k < 16) {
          val b1 = d1(k)
          if ((b1 & 0x80) != 0) cnt(2 * k) += 1
          if ((b1 & 0x08) != 0) cnt(2 * k + 1) += 1
          val b2 = d2(k)
          if ((b2 & 0x80) != 0) cnt(32 + 2 * k) += 1
          if ((b2 & 0x08) != 0) cnt(32 + 2 * k + 1) += 1
          k += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var d = 0
    while (d < 64) {
      if (2L * cnt(d) > sz) fp |= (1L << d)
      d += 1
    }
    fp
  }

  case class Simhash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    // the HOF chain folds a null array to fp = 0 (when(NULL).otherwise(0)
    // per dim), so this expression is never null-producing
    override def nullable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireStringArray("simhash64", child.dataType)
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) 0L else simhash64Arr(v.asInstanceOf[ArrayData])
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val c = child.genCode(ctx)
      ev.copy(code =
        code"""
          ${c.code}
          long ${ev.value} = ${c.isNull} ? 0L :
            graft.functions.NgramExpressions.simhash64Arr(${c.value});
        """, isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(newChild: Expression): Simhash64 =
      copy(child = newChild)
  }

  private def wrap(e: Expression): Column = org.apache.spark.sql.GraftBridge.column(e)
  private def un(c: Column): Expression = org.apache.spark.sql.GraftBridge.expression(c)

  def word_ngrams(c: Column, n: Int): Column = wrap(WordNgrams(un(c), n))
  def space_segments(c: Column, seg: Int): Column = wrap(SpaceSegments(un(c), seg))
  def array_md5(c: Column): Column = wrap(ArrayMd5(un(c)))
  def winnow_mins(c: Column, w: Int): Column = wrap(WinnowMins(un(c), w))
  def word_bigram_structs(c: Column): Column = wrap(WordBigramStructs(un(c)))
  def lower_tokens(c: Column): Column = wrap(LowerTokens(un(c)))
  def space_tokens(c: Column): Column = wrap(SpaceTokens(un(c)))
  def count_tokens_in(c: Column, list: Seq[String]): Column = wrap(CountTokensIn(un(c), list))
  def array_md5_prefix(c: Column, n: Int): Column = wrap(ArrayMd5Prefix(un(c), n))
  def sorted_vals(c: Column): Column = wrap(SortedVals(un(c)))
  def simhash64(c: Column): Column = wrap(Simhash64(un(c)))
}
