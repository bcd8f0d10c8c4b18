package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression: integer-grid dot product of two
  * `array<float>` columns — Σ_i round(a[i]·b[i]·1e9) as a long.
  *
  * This is the codegen'd fast path for the ANN/near-dup cosine scoring
  * (graft.operators.Similarity/Dedup): semantically identical to
  * `aggregate(zip_with(a,b,(x,y)->CAST(round(x*y*1e9) AS LONG)),0L,+)`
  * but fused into one loop — no intermediate array allocation, no
  * per-element lambda dispatch, and it stays inside whole-stage codegen.
  *
  * Rounding note: ties round half away from zero on the *exact binary*
  * double (`floor(p+0.5)` / `ceil(p-0.5)`), which is precisely DuckDB's
  * ROUND — whereas Spark's `round()` rounds the shortest-string decimal
  * repr. For the oracle contract the binary form is the safer one.
  *
  * Norms: `GridDot(a, a)` is the squared norm on the same grid.
  */
case class GridDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes needs the private[sql] AbstractDataType; check by hand
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"grid_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def dataType: DataType = LongType

  // mismatched-length inputs yield NULL (not a silent prefix dot product)
  override def nullable: Boolean = true

  override def prettyName: String = "grid_dot"

  /** Shared scalar kernel (interpreted + codegen agree by construction). */
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      val p = x.getFloat(i).toDouble * y.getFloat(i).toDouble * 1e9
      acc += (if (p >= 0) math.floor(p + 0.5) else math.ceil(p - 0.5)).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $p = ((double) $a.getFloat($i)) * ((double) $b.getFloat($i)) * 1.0E9D;
         |    $acc += (long) ($p >= 0 ? java.lang.Math.floor($p + 0.5D)
         |                            : java.lang.Math.ceil($p - 0.5D));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: 60-bit SimHash from an array of 60-bit
  * token hashes — bit j of the result is set iff more than half the
  * token hashes have bit j set (Σ±1 > 0 ⟺ 2·ones > n).
  *
  * Replaces a transform(sequence(0,59), b -> … filter(hs, …)) chain whose
  * lambdas evaluate interpreted per (token × bit); here the token×60 loop
  * is one compiled kernel inside whole-stage codegen.
  */
case class SimHash60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash60 expects array<bigint>, got ${t.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override protected def nullSafeEval(a: Any): Any = {
    val hs = a.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 60) { if (((h >> b) & 1L) == 1L) counts(b) += 1; b += 1 }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (2 * counts(b) > n) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $a.numElements();
         |int[] $counts = new int[60];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 60; $b++) {
         |    if ((($h >> $b) & 1L) == 1L) $counts[$b]++;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 60; $b++) {
         |  if (2 * $counts[$b] > $n) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: whitespace-tokenize a string (after the
  * trim+lowercase normalization every text operator uses), keep distinct
  * tokens in first-occurrence order, and emit each token's portable
  * 60-bit hash (first 15 hex chars of its UTF-8 md5) as `array<bigint>`.
  *
  * Semantically identical to
  * `transform(array_distinct(split(lower(trim(text)),'\\s+')),
  *            w -> CAST(conv(substring(md5(CAST(w AS BINARY)),1,15),16,10) AS BIGINT))`
  * but the HOF form evaluates an interpreted Cast→Md5→Substring→Conv
  * expression tree per token; here the whole pass is one kernel with a
  * single MessageDigest reused across tokens. Normalization parity is by
  * construction: the kernel calls the same UTF8String.trim()/toLowerCase
  * the built-in `trim`/`lower` expressions use, and the same Java-regex
  * split as `split`.
  */
case class TokensH60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  import org.apache.spark.sql.types.StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"tokens_h60 expects string, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "tokens_h60"

  /** Kernel shared by interpreted eval and codegen (called per row).
    * r12: tokens stay byte slices end to end ([[TokensH60.fields]]) —
    * the retired form decoded the document to UTF-16, regex-split it
    * into Strings, then re-encoded every distinct token back to UTF-8
    * for the digest. Digesting the slice bytes is the same bytes (valid
    * UTF-8 round-trips), pinned by the existing HOF-parity spec. */
  def kernel(s: Any): ArrayData = {
    val u = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val toks = TokensH60.fields(u)
    val seen =
      new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i < toks.size()) { seen.add(toks.get(i)); i += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      val d = md.digest(it.next().getBytes)
      // first 15 hex chars = bytes 0..6 (14 digits) + high nibble of byte 7
      var v = 0L
      var j = 0
      while (j < 7) { v = (v << 8) | (d(j) & 0xFFL); j += 1 }
      out(k) = (v << 4) | ((d(7) >> 4) & 0xFL)
      k += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tokensH60", this, classOf[TokensH60].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.kernel($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokensH60 {
  /** The engine tokenizer as a reusable byte walk: all `\s+` fields of
    * `UTF8String.trim().toLowerCase()` as zero-copy byte-slice
    * UTF8Strings, Pattern.split(limit -1) field structure (leading ""
    * under a leading separator, trailing "" under a trailing one, [""]
    * on empty input — see [[TokSplit]]'s exactness contract for the
    * single-byte-whitespace argument). One implementation serves every
    * token kernel so the tokenize semantics can never drift between
    * them; tokens hash/compare as BYTES (≡ String equality on valid
    * UTF-8), so consumers never pay a UTF-16 decode.
    */
  private[graft] def fields(u: org.apache.spark.unsafe.types.UTF8String)
      : java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String] = {
    val b = u.trim().toLowerCase().getBytes
    val n = b.length
    val out =
      new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String](16)
    var start = 0
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c == 0x20 || (c >= 0x09 && c <= 0x0D)) {
        out.add(org.apache.spark.unsafe.types.UTF8String
          .fromBytes(b, start, i - start))
        i += 1
        while (i < n && {
          val d = b(i); d == 0x20 || (d >= 0x09 && d <= 0x0D) }) i += 1
        start = i
      } else i += 1
    }
    out.add(org.apache.spark.unsafe.types.UTF8String
      .fromBytes(b, start, n - start))
    out
  }
}

/** Collected coarse-quantizer model for [[CellArgmin]]: parallel arrays
  * over the EXISTING cells (a cell that lost all members mid-Lloyd has
  * no centroid and is never a candidate, exactly like the join form).
  * `mat(i)(pos)` is cell `cells(i)`'s centroid, `cn2(i)` its grid
  * squared-norm. */
final class CentModel(val cells: Array[Int], val mat: Array[Array[Double]],
    val cn2: Array[Long]) extends Serializable

/** Native Catalyst expression: the k-means E-STEP as a map-side argmin
  * against a BROADCAST centroid model — `CellArgmin(embedding,
  * excludeCell, bc)` returns the best cell by grid-exact squared L2
  * (tie-break cell asc), skipping `excludeCell` (pass −1 for none; the
  * spill router passes the primary cell).
  *
  * Replaces the explode-join E-step (el ⋈ centroids on pos → groupBy →
  * min(struct)) whose intermediate is N×k×d rows — at sf10 with the
  * r13 corpus-scaled cell count (k=400) that is 5.1B rows per Lloyd
  * round. Here each vector is ONE kernel call doing the same k×d grid
  * products in compiled code (the distributed-Lloyd shape MLlib uses);
  * the model rides a Broadcast like the LexKernels lexicons.
  *
  * Exactness contract (spec-pinned equal to the join form): per-term
  * `gridL(x·c)` products (round-half-away-from-zero on the exact
  * binary value × 1e9), compared by `cn2(c) − 2·dot(c)` — the join
  * form's `(vn2 − 2·dot + cn2, cell)` ordering minus the per-vector
  * constant vn2, which cannot change the argmin. */
case class CellArgmin(left: Expression, right: Expression,
    model: org.apache.spark.broadcast.Broadcast[CentModel])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  import org.apache.spark.sql.types.{FloatType, IntegerType}

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cell_argmin expects (array<float>, int), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "cell_argmin"

  private def grid(p: Double): Long =
    (if (p >= 0) math.floor(p * 1e9 + 0.5) else math.ceil(p * 1e9 - 0.5)).toLong

  def kernel(a: Any, ex: Any): Int = {
    val arr = a.asInstanceOf[ArrayData]
    val exclude = ex.asInstanceOf[Int]
    val m = model.value
    val d = arr.numElements()
    var best = -1
    var bestKey = Long.MaxValue
    var i = 0
    while (i < m.cells.length) {
      val cell = m.cells(i)
      if (cell != exclude) {
        val c = m.mat(i)
        var dot = 0L
        var p = 0
        while (p < d) {
          dot += grid(arr.getFloat(p).toDouble * c(p))
          p += 1
        }
        val key = m.cn2(i) - 2L * dot
        // tie-break cell asc: cells[] is ascending, strict < keeps the
        // first (lowest) cell on equal keys
        if (key < bestKey) { bestKey = key; best = cell }
      }
      i += 1
    }
    best
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = kernel(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("cellArgmin", this, classOf[CellArgmin].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: `simhash60(tokens_h60(text))` fused into
  * ONE kernel — tokenize (shared [[TokensH60.fields]] byte walk),
  * distinct, md5-hash, and the 60-bit majority fold, with no
  * intermediate `array<bigint>` materialized per document (r12 verdict
  * #5: the two-kernel chain built an UnsafeArrayData of token hashes
  * only to fold it immediately). Semantics are EXACTLY the composed
  * form's — the parity spec pins fixtures + fuzz, codegen on/off.
  */
case class SimHash60Text(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  import org.apache.spark.sql.types.StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash60_text expects string, got ${t.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60_text"

  // returns primitive long (scala.Long) so the generated code assigns
  // straight into ev.value with no box/cast
  def kernel(s: Any): Long = {
    val u = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val toks = TokensH60.fields(u)
    val seen =
      new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i < toks.size()) { seen.add(toks.get(i)); i += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](60)
    val n = seen.size
    val it = seen.iterator()
    while (it.hasNext) {
      val d = md.digest(it.next().getBytes)
      // first 15 hex chars = bytes 0..6 + high nibble of byte 7, the
      // h60 contract shared with TokensH60
      var v = 0L
      var j = 0
      while (j < 7) { v = (v << 8) | (d(j) & 0xFFL); j += 1 }
      val h = (v << 4) | ((d(7) >> 4) & 0xFL)
      var b = 0
      while (b < 60) { if (((h >> b) & 1L) == 1L) counts(b) += 1; b += 1 }
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (2 * counts(b) > n) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("simhashText", this, classOf[SimHash60Text].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.kernel($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: per-document stopword OCCURRENCE counts
  * for several word lists in ONE tokenize pass —
  * `stop_hits(text, 'the,of,...|der,die,...|...')` returns `array<int>`
  * with one count per `|`-separated list.
  *
  * Replaces N higher-order `size(filter(ws, w -> array_contains(...)))`
  * columns whose lambdas evaluate INTERPRETED per (token × list); here
  * the text is tokenized once (same trim/lower/\s+ semantics as the
  * `ws` column) and each token does one hash probe per list inside a
  * compiled kernel. The second argument must be a literal (the lists
  * are parsed once per expression instance, not per row).
  */
object StopHits {
  import org.apache.spark.unsafe.types.UTF8String

  /** word → bitmask of the `|`-separated lists containing it: ONE
    * byte-hashed lookup per token instead of one String probe per
    * (token × list). Single source for [[StopHits]] AND [[GateStats]]
    * so the two expressions' probe semantics can never drift; ≤64 lists
    * enforced by both expressions at analysis time. Empty spec WORDS
    * map the empty token — probes must therefore cover empty fields
    * too ([[probe]] is called for every split field). */
  private[functions] def wordMask(spec: String)
      : java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long]()
    spec.split("\\|", -1).zipWithIndex.foreach {
      case (l, j) => l.split(",", -1).foreach { w =>
        m.merge(UTF8String.fromString(w), java.lang.Long.valueOf(1L << j),
          (a, b) => java.lang.Long.valueOf(a | b))
      }
    }
    m
  }

  /** Fold one token's list-bitmask into the per-list counts. */
  private[functions] def probe(
      m: java.util.HashMap[UTF8String, java.lang.Long],
      tok: UTF8String, counts: Array[Int]): Unit = {
    val mask = m.get(tok)
    if (mask != null) {
      var j = 0
      var mm = mask.longValue()
      while (mm != 0L) {
        if ((mm & 1L) != 0L) counts(j) += 1
        mm >>>= 1
        j += 1
      }
    }
  }
}

case class StopHits(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.types.{IntegerType, StringType}

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != StringType || right.dataType != StringType ||
      !right.foldable)
      return TypeCheckResult.TypeCheckFailure(
        "stop_hits expects (string, foldable string list spec)")
    // validate the spec at analysis time: a NULL spec would NPE in the
    // lazy `sets` initializer, and an empty list segment (e.g. a
    // trailing '|') would silently misalign every later language's
    // counts — fail loud here instead of misreporting at runtime
    val spec = right.eval(null)
    if (spec == null)
      return TypeCheckResult.TypeCheckFailure(
        "stop_hits list spec must not be NULL")
    val lists = spec.toString.split("\\|", -1)
    if (lists.exists(_.isEmpty))
      return TypeCheckResult.TypeCheckFailure(
        "stop_hits list spec contains an empty list " +
          "(leading/trailing/doubled '|')")
    if (lists.length > 64)
      return TypeCheckResult.TypeCheckFailure(
        "stop_hits supports at most 64 lists (bitmask-probed)")
    TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "stop_hits"

  // split with an explicit -1 limit: String.split's default drops
  // TRAILING empty segments, which would shorten the list count relative
  // to the caller's indexing (getItem(i) reading the wrong language)
  @transient private lazy val nLists: Int =
    right.eval(null).toString.split("\\|", -1).length

  @transient private lazy val wordMask
      : java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long] =
    StopHits.wordMask(right.eval(null).toString)

  /** Kernel shared by interpreted eval and codegen. */
  def kernel(a: Any): ArrayData = {
    val u = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val toks = TokensH60.fields(u)
    val counts = new Array[Int](nLists)
    var i = 0
    while (i < toks.size()) {
      StopHits.probe(wordMask, toks.get(i), counts)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(counts)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("stopHits", this, classOf[StopHits].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $self.kernel($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: per-document lexical statistics in one
  * compiled pass — struct(vocab, n_hapax, top_token, top_count) over the
  * whitespace tokens of lower(trim(text)), empty tokens dropped.
  *
  * Replaces ta05's explode → groupBy(doc_id, tok) → window →
  * groupBy(doc_id) chain: those stats depend only on the row's own
  * token multiset, so shuffling the exploded token corpus twice was
  * pure overhead (VERDICT r2 "What's wrong" #1). Map-side, the plan
  * keeps zero exchanges before the final presentation orderBy.
  *
  * Tie-break parity: top_token is the max-count token, ties broken by
  * the LOWEST token in binary (UTF-8 byte) order — identical to
  * `ROW_NUMBER() OVER (ORDER BY cnt DESC, tok)` in both Spark and
  * DuckDB, whose default string comparison is binary. Returns NULL when
  * the document has no non-empty tokens, mirroring how such docs simply
  * had no rows to group in the relational form.
  */
case class TokenStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  import org.apache.spark.sql.types.{StringType, StructField, StructType}

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_stats expects string, got ${t.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("vocab", LongType, nullable = false),
    StructField("n_hapax", LongType, nullable = false),
    StructField("top_token", StringType, nullable = false),
    StructField("top_count", LongType, nullable = false)))

  override def nullable: Boolean = true
  override def prettyName: String = "token_stats"

  /** Kernel shared by interpreted eval and codegen (called per row).
    * r12: byte-slice tokens ([[TokensH60.fields]]) counted in a
    * UTF8String-keyed map — the retired form regex-split a UTF-16
    * decode into Strings and re-encoded each map key for the tie-break
    * compare. UTF8String.compareTo is the same binary order the
    * relational form's ROW_NUMBER pinned. */
  def kernel(s: Any): Any = {
    val u = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val toks = TokensH60.fields(u)
    val counts =
      new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Long]()
    var i = 0
    while (i < toks.size()) {
      val tok = toks.get(i)
      if (tok.numBytes() > 0) counts.merge(tok, 1L, java.lang.Long.sum _)
      i += 1
    }
    if (counts.isEmpty) return null
    var hapax = 0L
    var topTok: org.apache.spark.unsafe.types.UTF8String = null
    var topCnt = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cnt = e.getValue.longValue()
      if (cnt == 1L) hapax += 1
      if (cnt > topCnt || (cnt == topCnt && e.getKey.compareTo(topTok) < 0)) {
        topCnt = cnt
        topTok = e.getKey
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](counts.size.toLong, hapax, topTok, topCnt))
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tokenStats", this, classOf[TokenStats].getName)
    // fresh name for the temporary: with a non-nullable child,
    // nullSafeExec emits this snippet WITHOUT an enclosing block, so a
    // fixed name would collide when two instances of the expression land
    // in one whole-stage-codegen scope (Janino compile failure → silent
    // interpreted fallback)
    val r = ctx.freshName("tokenStatsRes")
    nullSafeCodeGen(ctx, ev, a => s"""
      |Object $r = $self.kernel($a);
      |if ($r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $r; }
    """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: per-document word-n-gram statistics in
  * one compiled pass — struct(n_grams, n_distinct, top_gram, top_count)
  * over consecutive non-empty whitespace tokens of lower(trim(text)),
  * grams joined by a single space. The Gopher/C4-style repetition
  * signals (duplicate-gram fraction, top-gram share) are single exact
  * divisions over these counts — computed in the query, not here, so
  * the kernel stays integer-exact and oracle-hashable.
  *
  * Same design as [[TokenStats]]: the stats depend only on the row's own
  * token sequence, so the relational form (explode → self-join on
  * position → two groupBys) would shuffle the exploded gram corpus for
  * per-doc answers. Map-side, zero exchanges. Ties on top_gram break to
  * the LOWEST gram in binary order (≡ ROW_NUMBER OVER (cnt DESC, gram)
  * in both Spark and DuckDB). NULL when the document has fewer than n
  * non-empty tokens (no grams to describe).
  */
object NgramStats {
  private[functions] val Space =
    org.apache.spark.unsafe.types.UTF8String.fromString(" ")
}

case class NgramStats(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != StringType || right.dataType != IntegerType ||
      !right.foldable)
      return TypeCheckResult.TypeCheckFailure(
        "ngram_stats expects (string, foldable int n)")
    val n = right.eval(null)
    if (n == null || n.asInstanceOf[Int] < 1)
      return TypeCheckResult.TypeCheckFailure(
        "ngram_stats n must be a non-NULL positive int")
    TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_gram", StringType, nullable = false),
    StructField("top_count", LongType, nullable = false)))

  override def nullable: Boolean = true
  override def prettyName: String = "ngram_stats"

  @transient private lazy val n: Int = right.eval(null).asInstanceOf[Int]

  /** Kernel shared by interpreted eval and codegen (called per row).
    * r12: byte-slice tokens windowed into UTF8String grams (one
    * concatWs per gram — no per-gram StringBuilder, no UTF-16 decode),
    * counted and tie-broken on the keys directly ([[TokenStats]]'s
    * rationale; same binary order as the retired form). */
  def kernel(s: Any): Any = {
    val u = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val fields = TokensH60.fields(u)
    val toks =
      new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String](fields.size())
    var f = 0
    while (f < fields.size()) {
      if (fields.get(f).numBytes() > 0) toks.add(fields.get(f))
      f += 1
    }
    if (toks.size() < n) return null
    val counts =
      new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Long]()
    val window = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i + n <= toks.size()) {
      var j = 0
      while (j < n) { window(j) = toks.get(i + j); j += 1 }
      counts.merge(
        org.apache.spark.unsafe.types.UTF8String.concatWs(NgramStats.Space, window: _*),
        1L, java.lang.Long.sum _)
      i += 1
    }
    var topTok: org.apache.spark.unsafe.types.UTF8String = null
    var topCnt = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cnt = e.getValue.longValue()
      if (cnt > topCnt || (cnt == topCnt && e.getKey.compareTo(topTok) < 0)) {
        topCnt = cnt
        topTok = e.getKey
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any]((toks.size() - n + 1).toLong, counts.size.toLong, topTok, topCnt))
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ngramStats", this, classOf[NgramStats].getName)
    // fresh temp name — same duplicate-instance hazard as TokenStats
    val r = ctx.freshName("ngramStatsRes")
    nullSafeCodeGen(ctx, ev, (a, _) => s"""
      |Object $r = $self.kernel($a);
      |if ($r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $r; }
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration for the engine's native functions. Call once per session
  * (idempotent); afterwards `expr("grid_dot(a, b)")` resolves. Also
  * injectable via `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {
  /** The engine's tokenizer as a Column: exactly
    * `split(lower(trim(c)), '\s+')` via the compiled [[TokSplit]] byte
    * scanner. Registers against the active session so call sites that
    * only have a Column (Dedup/Curation shingling) stay one-liners. */
  def tokSplit(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("tok_split", c)
  }

  /** Single source of truth for every native kernel: name → (impl class,
    * builder). Both session-local [[register]] and the cluster-wide
    * [[GraftExtensions]] injector iterate THIS list, so the two deployment
    * modes can never drift (the r11 gap: extensions shipped 5 of 11). */
  private[graft] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("grid_dot",    classOf[GridDot],     exprs => GridDot(exprs(0), exprs(1))),
    ("simhash60",   classOf[SimHash60],   exprs => SimHash60(exprs(0))),
    ("tokens_h60",  classOf[TokensH60],   exprs => TokensH60(exprs(0))),
    ("token_stats", classOf[TokenStats],  exprs => TokenStats(exprs(0))),
    ("stop_hits",   classOf[StopHits],    exprs => StopHits(exprs(0), exprs(1))),
    ("ngram_stats", classOf[NgramStats],  exprs => NgramStats(exprs(0), exprs(1))),
    ("kmv_kth",     classOf[KmvKth],      exprs => KmvKth(exprs(0), exprs(1))),
    ("text_metrics", classOf[TextMetrics], exprs => TextMetrics(exprs(0))),
    ("pii_scrub",   classOf[PiiScrub],    exprs => PiiScrub(exprs(0))),
    ("clf_margin",  classOf[ClfMargin],   exprs => ClfMargin(exprs(0), exprs(1))),
    ("tok_split",   classOf[TokSplit],    exprs => TokSplit(exprs(0))),
    ("gate_stats",  classOf[GateStats],   exprs => GateStats(exprs(0), exprs(1), exprs(2))),
    ("simhash60_text", classOf[SimHash60Text], exprs => SimHash60Text(exprs(0))),
    ("tok_hash131",  classOf[TokHash131],  exprs => TokHash131(exprs(0))))

  def register(spark: SparkSession): Unit = {
    // idempotent: re-registering an already-present function makes Spark
    // log a "replaced a previously registered function" WARN per call —
    // pure noise when every operator defensively calls register(). Guard
    // per-function (not on one sentinel name) so a session that got a
    // partial set from an older injector is healed, never skipped.
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, builder) =>
      if (reg.lookupFunctionBuilder(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)).isEmpty)
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** SparkSessionExtensions hook: `--conf spark.sql.extensions=
  * graft.functions.GraftExtensions` makes grid_dot available in every
  * session of the cluster without code changes. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(cls.getName, name),
        builder))
    }
}
