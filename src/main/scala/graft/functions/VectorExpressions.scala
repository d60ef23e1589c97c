package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Content equality for the expressions that carry constant arrays
  * (centroids, codebooks, lookup tables): case-class equality compares
  * arrays by identity, so two plans built from separately read copies of
  * the same tables would not canonicalize equal, breaking
  * ReusedExchange. Every constructor field is compared with
  * `Objects.deepEquals` and hashed with `Arrays.deepHashCode`.
  */
trait ContentEquality extends Product {
  override def equals(o: Any): Boolean = o match {
    case p: Product if p.getClass == getClass =>
      productIterator.zip(p.productIterator)
        .forall { case (a, b) => java.util.Objects.deepEquals(a, b) }
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Arrays.deepHashCode(productIterator.map(_.asInstanceOf[AnyRef]).toArray)
}

/** Codegen'd dot product over two `array<double>` columns.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` —
  * allocates an intermediate array and walks two higher-order lambdas per
  * row; inside an O(n²) similarity join that dominates the query. This
  * expression is one fused loop over the underlying ArrayData in both
  * interpreted and whole-stage-codegen paths (SURVEY.md §4.2: custom
  * `Expression` as the perf option; used by graft.ops.Similarity for
  * q25/q31/q32).
  *
  * Lives under org.apache.spark.sql because `AbstractDataType` and
  * `ExpressionUtils` are private[sql]; the public API is
  * [[graft.functions.VectorFunctions]].
  *
  * Null handling matches the built-ins: null if either side is null;
  * mismatched lengths fold over the shorter prefix (vectors in this engine
  * are fixed-dimension, so lengths always agree).
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Distinct w-word shingles of a space-split text, in one pass.
  *
  * The composable form — `array_distinct(transform(sequence(...),
  * i => concat_ws(" ", element_at(split(text), i), ...)))` — re-evaluates
  * `split(text)` inside EVERY `element_at` call (HOF lambda bodies are not
  * common-subexpression-eliminated), costing O(tokens²) splits per
  * document; and its lambda exprIds defeat plan canonicalization, so
  * self-joins recompute the whole chain per branch instead of sharing a
  * ReusedExchange. This expression is a plain deterministic unary op:
  * tokenizes once, emits first-occurrence-ordered distinct shingles, and
  * canonicalizes like any other expression.
  *
  * Matches `split(text, ' ')` semantics exactly (every single space is a
  * separator; empty tokens between consecutive spaces are kept), which
  * keeps the DuckDB oracle twins (STRING_SPLIT) valid.
  */
case class WordShingles(child: Expression, w: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.WordShingles.compute($in, $w);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  import org.apache.spark.unsafe.types.UTF8String

  /** Shared by interpreted eval and codegen: first-occurrence-ordered
    * distinct w-shingles of the space-split text.
    */
  def compute(input: UTF8String, w: Int): ArrayData = {
    val toks = input.toString.split(" ", -1)
    val out = new java.util.LinkedHashSet[String]()
    var i = 0
    val last = toks.length - w
    val sb = new java.lang.StringBuilder
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Deterministic random projection of an `array<double>` vector to
  * `outDim` components — the dimensionality-reduction lever of the
  * similarity family: out[p] = Σ_j R[p][j]·v[j] over a fixed md5-derived
  * matrix (the [[RandomHyperplanes]] component convention in a DISJOINT
  * plane-index space, offset 2^20, so projections and LSH buckets stay
  * independent families). Cosine ranks are approximately preserved
  * (JL-flavoured; uniform [-0.5, 0.5) components — scale is irrelevant
  * to cosine), measured rather than assumed in the spec. Same plan-size
  * story as [[RandomHyperplanes]]: the matrix rides as ONE codegen
  * reference object, the hot loop is a fused outDim×dim pass, and the
  * left-associative ascending-j summation is the exact order the DuckDB
  * oracle mirrors (bit-identical doubles, rounded only at query edges).
  */
case class RandomProjection(child: Expression, dim: Int, outDim: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_random_project"

  @transient lazy val planes: Array[Array[Double]] =
    RandomProjection.matrix(dim, outDim)

  override protected def nullSafeEval(input: Any): Any =
    RandomProjection.compute(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = org.apache.spark.sql.graft.RandomProjection" +
        s".compute($v, $planesRef);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): RandomProjection =
    copy(child = newChild)
}

object RandomProjection {
  /** Plane-index offset keeping the projection matrix disjoint from
    * every LSH band's planes (band b uses indexes b·nBits+p, bounded far
    * below 2^20 in practice).
    */
  val PlaneOffset: Int = 1 << 20

  def matrix(dim: Int, outDim: Int): Array[Array[Double]] =
    Array.tabulate(outDim, dim)((p, j) =>
      RandomHyperplanes.component(PlaneOffset + p, j))

  /** Shared by interpreted eval and codegen: strict ascending-j
    * left-associative sums — the order the oracle SQL reproduces.
    */
  def compute(v: ArrayData, planes: Array[Array[Double]]): ArrayData = {
    val outDim = planes.length
    val out = new Array[Any](outDim)
    var p = 0
    while (p < outDim) {
      val plane = planes(p)
      val n = math.min(plane.length, v.numElements())
      var s = 0.0
      var j = 0
      while (j < n) { s += plane(j) * v.getDouble(j); j += 1 }
      out(p) = s
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Random-hyperplane LSH bucket of an `array<double>` vector: the sign bits
  * of `nBits` fixed pseudo-random hyperplanes, as a '0'/'1' string.
  *
  * Plane component j of global plane `band * nBits + p` is a deterministic
  * value in [-0.5, 0.5) derived from md5 — reproducible across runs, JVMs
  * and engines (the DuckDB oracle can inline the same constants), with no
  * RNG state on executors.
  *
  * Why an expression and not `array(lit, lit, ...)` composition: the literal
  * form puts O(dim × nBits) constants INTO the plan — at dim=1536, nBits=16
  * that is ~25k expression nodes per projection, blowing up analysis and
  * codegen time. Here the plane matrix lives in the expression object
  * (shipped once as a codegen reference object), so plan size is O(1) in
  * both dim and nBits, and the hot loop is one fused dim×nBits pass.
  */
case class RandomHyperplanes(child: Expression, dim: Int, nBits: Int, band: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lsh_bucket"

  @transient lazy val planes: Array[Array[Double]] =
    RandomHyperplanes.planeMatrix(dim, nBits, band)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    val out = new Array[Byte](nBits)
    var p = 0
    while (p < nBits) {
      val plane = planes(p)
      var s = 0.0
      var j = 0
      while (j < n) { s += plane(j) * v.getDouble(j); j += 1 }
      out(p) = if (s >= 0) '1' else '0'
      p += 1
    }
    UTF8String.fromBytes(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |byte[] $out = new byte[$nBits];
         |for (int $p = 0; $p < $nBits; $p++) {
         |  double $s = 0.0;
         |  double[] _pl = $planesRef[$p];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += _pl[$i] * $v.getDouble($i);
         |  }
         |  $out[$p] = $s >= 0 ? (byte) '1' : (byte) '0';
         |}
         |${ev.value} = UTF8String.fromBytes($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): RandomHyperplanes =
    copy(child = newChild)
}

object RandomHyperplanes {
  /** Deterministic plane component: first 4 md5 bytes of "plane|component"
    * as a signed int scaled into [-0.5, 0.5). Identical to the literal
    * construction this expression replaced (graft.ops.Similarity round 1),
    * so bucket assignments are stable across rounds and engines.
    */
  def component(plane: Int, j: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane|$j".getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(hex).getInt.toDouble / (2.0 * Int.MaxValue)
  }

  def planeMatrix(dim: Int, nBits: Int, band: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dim)((p, j) => component(band * nBits + p, j))

  /** Driver-side twin of the expression: the bucket of one query vector,
    * computed with the same plane matrix — lets an index probe pick its
    * partitions without launching a Spark job.
    */
  def bucketOf(v: Array[Double], dim: Int, nBits: Int, band: Int = 0): String = {
    val planes = planeMatrix(dim, nBits, band)
    val n = math.min(dim, v.length)
    val out = new Array[Char](nBits)
    var p = 0
    while (p < nBits) {
      var s = 0.0
      var j = 0
      while (j < n) { s += planes(p)(j) * v(j); j += 1 }
      out(p) = if (s >= 0) '1' else '0'
      p += 1
    }
    new String(out)
  }
}

/** Index of the nearest centroid (max cosine similarity, ties to the
  * lowest index) for an `array<double>` vector — the IVF coarse-quantizer
  * assignment as a single fused projection.
  *
  * The centroid matrix rides along as a codegen reference object (same
  * plan-size-O(1) pattern as [[RandomHyperplanes]]): k×dim doubles live in
  * the expression, not the plan, so cell assignment is zero-shuffle and
  * the alternative — a broadcast crossJoin + groupBy-argmin, which
  * shuffles one row per vector — is never needed.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes with ContentEquality {

  import org.apache.spark.sql.types.IntegerType

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  @transient private lazy val norms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum))

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    NearestCentroid.nearest(centroids, norms, v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val nRef = ctx.addReferenceObj("norms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = org.apache.spark.sql.graft.NearestCentroid.nearest($cRef, $nRef, $v);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  /** Shared by interpreted eval and codegen: argmax of cosine(v, c_i),
    * ties to the lowest index.
    */
  def nearest(centroids: Array[Array[Double]], norms: Array[Double], v: ArrayData): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var vnorm = 0.0
    val n = v.numElements()
    var j = 0
    while (j < n) { val x = v.getDouble(j); vnorm += x * x; j += 1 }
    vnorm = math.sqrt(vnorm)
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      val d = math.min(c.length, n)
      var dot = 0.0
      var k = 0
      while (k < d) { dot += c(k) * v.getDouble(k); k += 1 }
      val denom = norms(i) * vnorm
      val sim = if (denom == 0) 0.0 else dot / denom
      if (sim > bestSim) { bestSim = sim; best = i }
      i += 1
    }
    best
  }
}

/** Per-document SimHash fingerprint in one pass: majority vote per bit
  * over the md5 of each space-split token occurrence; bit i of a token is
  * the high bit of hex digit i of its md5 (i.e. nibble i >= 8).
  *
  * Semantics exactly match the explode+groupBy formulation this replaced
  * (graft.ops.Dedup.simHash round 1) and its DuckDB oracle twin — but as
  * a deterministic unary projection: the round-1 form shuffled EVERY
  * token occurrence of the corpus just to re-group per-row math by doc
  * id, which at 100 TB is a full-corpus shuffle for zero information
  * gain.
  */
case class SimHashBits(child: Expression, bits: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  require(bits <= 32, "simhash bits bounded by the md5 nibble count")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    SimHashBits.compute(input.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.SimHashBits.compute($in, $bits);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

object SimHashBits {
  import org.apache.spark.unsafe.types.UTF8String

  /** Shared by interpreted eval and codegen: per-bit majority vote over
    * md5 of each space-split token occurrence.
    */
  def compute(input: UTF8String, bits: Int): UTF8String = {
    val toks = input.toString.split(" ", -1)
    val md = GraftDigest.md5()
    val votes = new Array[Int](bits)
    var t = 0
    while (t < toks.length) {
      md.reset()
      val h = md.digest(toks(t).getBytes("UTF-8"))
      var i = 0
      while (i < bits) {
        val nibble =
          if ((i & 1) == 0) (h(i >> 1) >> 4) & 0xF
          else h(i >> 1) & 0xF
        if (nibble >= 8) votes(i) += 1
        i += 1
      }
      t += 1
    }
    val n = toks.length
    val out = new Array[Byte](bits)
    var i = 0
    while (i < bits) {
      out(i) = if (votes(i) * 2 > n) '1' else '0'
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** Per-thread MD5 instance: `MessageDigest.getInstance` walks the provider
  * list on every call, which is measurable in per-token/per-gram loops.
  * One instance per executor thread, reset per use.
  */
object GraftDigest {
  private val local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def md5(): java.security.MessageDigest = { val m = local.get(); m.reset(); m }
}

/** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken) in one
  * pass: md5-hex every k-char-gram, slide a window of `t - k + 1` hashes,
  * keep each window's minimum, dedup in first-occurrence order.
  *
  * Semantics exactly match the HOF composition it replaced (hash array →
  * `slice`/`array_min` per window → `array_distinct`) and the DuckDB
  * oracle twin — but with a monotonic deque (O(m) total instead of
  * O(m × window)) and no materialized intermediate arrays: the HOF form
  * allocated an m-element hex-string array plus a fresh window slice per
  * position, which dominated its runtime.
  */
case class WinnowFingerprints(child: Expression, k: Int, t: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  require(t >= k, "guarantee threshold t must be >= gram size k")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(input: Any): Any =
    WinnowFingerprints.compute(input.asInstanceOf[UTF8String], k, t)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.WinnowFingerprints.compute($in, $k, $t);"
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {
  import org.apache.spark.unsafe.types.UTF8String

  /** Shared by interpreted eval and codegen: winnowed fingerprint set via
    * a monotonic deque over md5-hex k-gram hashes.
    */
  def compute(input: UTF8String, k: Int, t: Int): ArrayData = {
    val text = input
    val len = text.numChars()
    val md = GraftDigest.md5()
    val hexOut = new Array[Char](32)
    def toHex(d: Array[Byte]): String = {
      var i = 0
      while (i < 16) {
        hexOut(2 * i) = Character.forDigit((d(i) >> 4) & 0xF, 16)
        hexOut(2 * i + 1) = Character.forDigit(d(i) & 0xF, 16)
        i += 1
      }
      new String(hexOut)
    }
    // ASCII fast path: gram bytes are a slice of the backing bytes — no
    // substring/UTF8String allocation per gram (chars == bytes).
    val raw = text.getBytes
    val ascii = raw.length == len
    def gramHash(i: Int): String = {
      md.reset()
      if (ascii) md.update(raw, i, k)
      else md.update(text.substringSQL(i + 1, k).getBytes)
      toHex(md.digest())
    }
    val selected = new java.util.LinkedHashSet[String]()
    if (len < k) {
      md.reset()
      selected.add(toHex(md.digest(raw)))
    } else {
      val m = len - k + 1
      val win = t - k + 1
      if (m < win) {
        // fewer grams than one window: single global minimum
        var min: String = null
        var i = 0
        while (i < m) {
          val h = gramHash(i)
          if (min == null || h.compareTo(min) < 0) min = h
          i += 1
        }
        selected.add(min)
      } else {
        // monotonic deque of (index, hash), increasing by hash
        val idx = new Array[Int](m)
        val hsh = new Array[String](m)
        var head = 0
        var tail = 0 // exclusive
        var i = 0
        while (i < m) {
          val h = gramHash(i)
          while (tail > head && hsh(tail - 1).compareTo(h) > 0) tail -= 1
          idx(tail) = i; hsh(tail) = h; tail += 1
          if (idx(head) <= i - win) head += 1
          if (i >= win - 1) selected.add(hsh(head))
          i += 1
        }
      }
    }
    val arr = new Array[Any](selected.size)
    val it = selected.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = UTF8String.fromString(it.next()); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Positional w-gram md5-hex hashes of a pre-split word array — THE gram
  * formula of the span-excision family (graft.ops.Dedup: exciseDupSpans /
  * collapseRepeats / buildGramIndex / exciseAgainstIndex, q88/q90/q91 and
  * the gram index layouts), byte-identical to the HOF composition it
  * replaced:
  *
  *   transform(sequence(1, size(_words) - w + 1),
  *             i -> md5(concat_ws(' ', slice(_words, i, w))))
  *
  * and therefore to the DuckDB oracle twins. Element k (0-based) is the
  * hash of words [k+1, k+w]; arrays shorter than w yield an empty array
  * (`sequence` with start > stop counts DOWN — the composable form needed
  * a `when` guard for exactly that pitfall; here it's just the loop
  * bound).
  *
  * Why an expression: the HOF form allocates a slice array, a concat_ws
  * UTF8String and the lambda-eval machinery PER WINDOW — at w=8 that
  * copies every word ~8 times and the resulting garbage dominated q88's
  * bench variance (GC-pause outliers). Here the word bytes are fetched
  * once per row and each window is fed straight into a per-thread digest:
  * per-window allocation is just the 16-byte digest output and its 32-byte
  * hex rendering, and the projection stays inside whole-stage codegen.
  *
  * Input arrays must be null-free (the `_words` contract: a filtered
  * `split`, which never yields null elements).
  */
case class WordGramHashes(child: Expression, w: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType

  require(w >= 1, "gram width w must be >= 1")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_gram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WordGramHashes.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.WordGramHashes.compute($in, $w);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordGramHashes =
    copy(child = newChild)
}

object WordGramHashes {
  import org.apache.spark.unsafe.types.UTF8String

  private val HEX = "0123456789abcdef".getBytes("US-ASCII")

  /** Shared by interpreted eval and codegen: md5-hex per w-word window,
    * one digest pass per window over byte arrays fetched once per row.
    */
  def compute(words: ArrayData, w: Int): ArrayData = {
    val n = words.numElements()
    if (n < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val s = words.getUTF8String(i)
      // fail fast: the public VectorFunctions.wordGramHashes surface can
      // receive arbitrary array<string>; a silent NPE here would surface
      // as an opaque task failure deep in a shuffle
      if (s == null) throw new IllegalArgumentException(
        s"graft_word_gram_hashes: null element at index $i " +
          "(input word arrays must be null-free)")
      bytes(i) = s.getBytes; i += 1
    }
    val md = GraftDigest.md5()
    val out = new Array[Any](n - w + 1)
    i = 0
    while (i <= n - w) {
      md.reset()
      var j = 0
      while (j < w) {
        if (j > 0) md.update(' '.toByte)
        md.update(bytes(i + j))
        j += 1
      }
      val d = md.digest()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = HEX((d(b) >> 4) & 0xF)
        hex(2 * b + 1) = HEX(d(b) & 0xF)
        b += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Product-quantization ENCODE: assign each of `m` subvectors of an
  * `array<double>` vector its nearest codeword (squared-L2, ties to the
  * lowest code), returning the `array<int>` of m codes — the
  * memory-compression step of PQ ANN (Jégou et al. '11, "Product
  * Quantization for Nearest Neighbor Search"): m small ints replace
  * m·subDim doubles in every stored row.
  *
  * `codebooks(s)(c)` is codeword c of subspace s; all codewords of a
  * subspace have the same width subDim, and input vectors must have
  * exactly m·subDim components (fail fast — a silent prefix match would
  * desynchronize the engine from the oracle's list slices).
  *
  * The squared distance is computed as `x·x − 2·x·w + w·w` (each dot an
  * ascending-index loop, `w·w` precomputed per codeword) — the exact
  * arithmetic the DuckDB oracle writes with `list_dot_product`, so the
  * argmin can never diverge between engines, even at ULP-level ties.
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes with ContentEquality {

  import org.apache.spark.sql.types.IntegerType

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "PqEncode needs at least one codeword per subspace")
  require(codebooks.flatten.map(_.length).distinct.length == 1,
    "all PQ codewords must share one subspace width")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val norm2: Array[Array[Double]] =
    codebooks.map(_.map { w =>
      var s = 0.0; var j = 0
      while (j < w.length) { s += w(j) * w(j); j += 1 }
      s
    })

  override protected def nullSafeEval(input: Any): Any =
    PqEncode.encode(codebooks, norm2, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    val n2Ref = ctx.addReferenceObj("norm2", norm2, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = org.apache.spark.sql.graft.PqEncode.encode($cbRef, $n2Ref, $v);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  /** Shared by interpreted eval and codegen: per-subspace argmin of
    * `x·x − 2·x·w + w·w`, ties to the lowest code.
    */
  def encode(cb: Array[Array[Array[Double]]], n2: Array[Array[Double]],
             v: ArrayData): ArrayData = {
    val m = cb.length
    val subDim = cb(0)(0).length
    val n = v.numElements()
    if (n != m * subDim)
      throw new IllegalArgumentException(
        s"PqEncode: vector has $n components, codebooks expect ${m * subDim}")
    val codes = new Array[Any](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var xx = 0.0
      var j = 0
      while (j < subDim) { val x = v.getDouble(off + j); xx += x * x; j += 1 }
      var best = 0
      var bestD = Double.PositiveInfinity
      val words = cb(s)
      var c = 0
      while (c < words.length) {
        val w = words(c)
        var xw = 0.0
        j = 0
        while (j < subDim) { xw += v.getDouble(off + j) * w(j); j += 1 }
        val d = xx - 2.0 * xw + n2(s)(c)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }
}

/** Product-quantization ADC (asymmetric distance computation) scoring:
  * approximate cosine between the LIVE query vector and a PQ-encoded
  * corpus vector, from the codes alone — `Σ_s dot(q_s, w_{s,code_s})`
  * over a per-query lookup table, normalized by the query norm and the
  * reconstruction norm `√(Σ_s |w|²)`. One array probe and two adds per
  * subspace — the scan never touches a stored float.
  *
  * `dots(s)(c)` = dot(q_s, codeword c of subspace s) and `norm2(s)(c)` =
  * |codeword|² are driver-computed per query (m·nCodes doubles — LUT
  * rides as a codegen reference object). Zero-norm guard returns 0 like
  * cosineGuarded.
  */
case class PqAdcScore(child: Expression, dots: Array[Array[Double]],
                      norm2: Array[Array[Double]], qNorm: Double)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes with ContentEquality {

  import org.apache.spark.sql.types.IntegerType

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_score"

  override protected def nullSafeEval(input: Any): Any =
    PqAdcScore.score(dots, norm2, qNorm, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dRef = ctx.addReferenceObj("dots", dots, "double[][]")
    val nRef = ctx.addReferenceObj("norm2", norm2, "double[][]")
    // qNorm rides as raw bits, not a decimal literal: a NaN/Infinity
    // norm (a degenerate query vector) must not splice an uncompilable
    // token like `Infinity` into the generated source
    val qBits = java.lang.Double.doubleToRawLongBits(qNorm)
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = org.apache.spark.sql.graft.PqAdcScore.score($dRef, $nRef, " +
        s"java.lang.Double.longBitsToDouble(${qBits}L), $v);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcScore =
    copy(child = newChild)
}

object PqAdcScore {
  /** Shared by interpreted eval and codegen: LUT sum, ascending subspace
    * order (the DuckDB oracle sums the same m terms), cosine-normalized.
    */
  def score(dots: Array[Array[Double]], norm2: Array[Array[Double]],
            qNorm: Double, codes: ArrayData): Double = {
    val m = codes.numElements()
    var sd = 0.0
    var sn2 = 0.0
    var s = 0
    while (s < m) {
      val c = codes.getInt(s)
      sd += dots(s)(c)
      sn2 += norm2(s)(c)
      s += 1
    }
    val denom = qNorm * math.sqrt(sn2)
    if (denom == 0) 0.0 else sd / denom
  }
}

/** Per-query ADC lookup table as a COLUMN — the batch-join form of the
  * driver-computed LUT that [[PqAdcScore]] carries as a constant. For a
  * query vector it emits the flattened `dots[s·nCodes + c] =
  * dot(q_s, codeword c of subspace s)` table (m·nCodes doubles), computed
  * ONCE per query row on the probe side of a k-NN join — so each
  * (query, corpus) pair downstream costs m array probes
  * ([[PqAdcScoreBatch]]), never an O(dim) dot product. Codebooks ride as
  * a codegen reference object; subspace dots accumulate in ascending
  * index order, the same arithmetic as [[PqAdcScore]]'s driver LUT and
  * the DuckDB oracle's `list_dot_product`.
  */
case class PqQueryLut(child: Expression, codebooks: Array[Array[Array[Double]]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes with ContentEquality {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "PqQueryLut needs at least one codeword per subspace")
  require(codebooks.flatten.map(_.length).distinct.length == 1,
    "all PQ codewords must share one subspace width")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_query_lut"

  override protected def nullSafeEval(input: Any): Any =
    PqQueryLut.compute(codebooks, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = org.apache.spark.sql.graft.PqQueryLut.compute($cbRef, $v);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqQueryLut =
    copy(child = newChild)
}

object PqQueryLut {
  /** Shared by interpreted eval and codegen: flattened per-subspace
    * query·codeword dot table, ascending-index loops.
    */
  def compute(cb: Array[Array[Array[Double]]], v: ArrayData): ArrayData = {
    val m = cb.length
    val nCodes = cb(0).length
    val sub = cb(0)(0).length
    if (v.numElements() != m * sub)
      throw new IllegalArgumentException(
        s"PqQueryLut: vector has ${v.numElements()} components, " +
          s"codebooks expect ${m * sub}")
    val lut = new Array[Any](m * nCodes)
    var s = 0
    while (s < m) {
      val off = s * sub
      val words = cb(s)
      var c = 0
      while (c < nCodes) {
        val w = words(c)
        var d = 0.0
        var j = 0
        while (j < sub) { d += v.getDouble(off + j) * w(j); j += 1 }
        lut(s * nCodes + c) = d
        c += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(lut)
  }
}

/** ADC scoring against a per-ROW lookup table — the batch-join twin of
  * [[PqAdcScore]], whose LUT is a per-QUERY constant. Children:
  * (codes: array<int>, lut: array<double> from [[PqQueryLut]],
  * qNorm: double). Codeword norms² are query-independent and ride as a
  * codegen reference object; `nCodes` indexes the flattened LUT. Score =
  * `Σ_s lut[s·nCodes + code_s] / (qNorm · √Σ_s |w|²)` — identical
  * arithmetic (ascending subspace order, zero-denominator → 0) to
  * [[PqAdcScore.score]], so point probes and batch joins agree exactly.
  */
case class PqAdcScoreBatch(first: Expression, second: Expression, third: Expression,
                           norm2: Array[Array[Double]])
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
  with ImplicitCastInputTypes with ContentEquality {

  import org.apache.spark.sql.types.IntegerType

  require(norm2.nonEmpty && norm2.forall(_.length == norm2(0).length),
    "PqAdcScoreBatch needs one norm² row per subspace, equal widths")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_score_batch"

  override protected def nullSafeEval(codes: Any, lut: Any, qn: Any): Any =
    PqAdcScoreBatch.score(norm2, codes.asInstanceOf[ArrayData],
      lut.asInstanceOf[ArrayData], qn.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nRef = ctx.addReferenceObj("norm2", norm2, "double[][]")
    nullSafeCodeGen(ctx, ev, (c, l, q) => {
      s"${ev.value} = org.apache.spark.sql.graft.PqAdcScoreBatch.score($nRef, $c, $l, $q);"
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PqAdcScoreBatch =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object PqAdcScoreBatch {
  /** Shared by interpreted eval and codegen: flattened-LUT sum in
    * ascending subspace order, cosine-normalized, zero-denominator → 0.
    */
  def score(norm2: Array[Array[Double]], codes: ArrayData,
            lut: ArrayData, qNorm: Double): Double = {
    val m = codes.numElements()
    val nCodes = norm2(0).length
    var sd = 0.0
    var sn2 = 0.0
    var s = 0
    while (s < m) {
      val c = codes.getInt(s)
      sd += lut.getDouble(s * nCodes + c)
      sn2 += norm2(s)(c)
      s += 1
    }
    val denom = qNorm * math.sqrt(sn2)
    if (denom == 0) 0.0 else sd / denom
  }
}

/** Per-row residual against the row's assigned centroid — the encode-side
  * primitive of residual IVF-PQ ([[graft.ops.Similarity.buildIvfPqIndex]]
  * with `residual = true`): `v − centroids[cell]`, elementwise, in one
  * codegen'd pass. Centroids ride as a reference object; the subtraction
  * order (v_j − c_j, ascending j) is the exact arithmetic the DuckDB
  * oracle writes with `list_transform(list_zip(v, cv), x -> x[1]-x[2])`,
  * so the downstream argmin can never diverge between engines.
  */
case class CentroidResidual(left: Expression, right: Expression,
                            centroids: Array[Array[Double]])
  extends BinaryExpression with ImplicitCastInputTypes with ContentEquality {

  import org.apache.spark.sql.types.IntegerType

  require(centroids.nonEmpty, "CentroidResidual needs at least one centroid")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_centroid_residual"

  override protected def nullSafeEval(v: Any, cell: Any): Any =
    CentroidResidual.compute(centroids, v.asInstanceOf[ArrayData],
      cell.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, c) => {
      s"${ev.value} = org.apache.spark.sql.graft.CentroidResidual.compute($cRef, $v, $c);"
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidResidual =
    copy(left = newLeft, right = newRight)
}

object CentroidResidual {
  def compute(cents: Array[Array[Double]], v: ArrayData, cell: Int): ArrayData = {
    val c = cents(cell)
    val n = v.numElements()
    if (n != c.length)
      throw new IllegalArgumentException(
        s"CentroidResidual: vector has $n components, centroids have ${c.length}")
    val out = new Array[Any](n)
    var j = 0
    while (j < n) { out(j) = v.getDouble(j) - c(j); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Per-query setup vector for RESIDUAL ADC scoring, as one array column
  * of length m·nCodes + nCells + 1 (the batch-join form of the driver
  * constants; one packed array instead of three columns keeps the scorer
  * ternary):
  *
  *   `[0, m·nCodes)`                 — the [[PqQueryLut]] dots,
  *                                     `dot(q_s, w_{s,c})` flattened;
  *   `[m·nCodes, m·nCodes + nCells)` — `qc[cell] = dot(q, centroid)`;
  *   last element                    — `|q|`.
  *
  * Consumed by [[PqAdcResidualScore]], which knows the section offsets
  * from its own constants. Computed once per query row on a broadcast
  * probe side; for point probes the same layout is built on the driver.
  */
case class PqResidualQueryLut(child: Expression,
                              codebooks: Array[Array[Array[Double]]],
                              centroids: Array[Array[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes with ContentEquality {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "PqResidualQueryLut needs at least one codeword per subspace")
  require(centroids.nonEmpty, "PqResidualQueryLut needs at least one centroid")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_residual_query_lut"

  override protected def nullSafeEval(input: Any): Any =
    PqResidualQueryLut.compute(codebooks, centroids, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    val ceRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = org.apache.spark.sql.graft.PqResidualQueryLut" +
        s".compute($cbRef, $ceRef, $v);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqResidualQueryLut =
    copy(child = newChild)
}

object PqResidualQueryLut {
  /** The driver-side twin of the expression — one layout, two producers. */
  def computeArray(cb: Array[Array[Array[Double]]], cents: Array[Array[Double]],
                   qv: Array[Double]): Array[Double] = {
    val m = cb.length
    val nCodes = cb(0).length
    val sub = cb(0)(0).length
    require(qv.length == m * sub,
      s"PqResidualQueryLut: vector has ${qv.length} components, " +
        s"codebooks expect ${m * sub}")
    val out = new Array[Double](m * nCodes + cents.length + 1)
    var s = 0
    while (s < m) {
      val off = s * sub
      var c = 0
      while (c < nCodes) {
        val w = cb(s)(c)
        var d = 0.0
        var j = 0
        while (j < sub) { d += qv(off + j) * w(j); j += 1 }
        out(s * nCodes + c) = d
        c += 1
      }
      s += 1
    }
    var i = 0
    while (i < cents.length) {
      val ct = cents(i)
      var d = 0.0
      var j = 0
      while (j < qv.length) { d += qv(j) * ct(j); j += 1 }
      out(m * nCodes + i) = d
      i += 1
    }
    var qq = 0.0
    var j = 0
    while (j < qv.length) { qq += qv(j) * qv(j); j += 1 }
    out(out.length - 1) = math.sqrt(qq)
    out
  }

  def compute(cb: Array[Array[Array[Double]]], cents: Array[Array[Double]],
              v: ArrayData): ArrayData = {
    val n = v.numElements()
    val qv = new Array[Double](n)
    var j = 0
    while (j < n) { qv(j) = v.getDouble(j); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      computeArray(cb, cents, qv).map(x => x: Any))
  }
}

/** RESIDUAL ADC scoring — approximate cosine between the live query and
  * `centroid[cell] + decode(codes)`, the reconstruction of a residual
  * IVF-PQ row, from the codes alone. Children: (codes: array<int>,
  * cell: int, lutPlus: array<double> — [[PqResidualQueryLut]]'s packed
  * layout). Constants: codeword norms² `n2[s][c]`, centroid·codeword
  * dots `cd[cell][s][c]`, centroid norms² `cn2[cell]` — all
  * query-independent, bounded (nCells·m·nCodes doubles), riding as
  * codegen reference objects.
  *
  * Because subspace codewords have disjoint support,
  * `|c + w|² = cn2[cell] + 2·Σ_s cd[cell][s][code_s] + Σ_s n2[s][code_s]`
  * EXACTLY, and `dot(q, c + w) = qc[cell] + Σ_s lut[s·nCodes+code_s]` —
  * so the score is exact cosine against the reconstruction at m array
  * probes + one centroid lookup per row. Ascending subspace order, zero
  * denominator → 0, the house ADC conventions.
  */
case class PqAdcResidualScore(first: Expression, second: Expression,
                              third: Expression,
                              norm2: Array[Array[Double]],
                              cd: Array[Array[Array[Double]]],
                              cn2: Array[Double])
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
  with ImplicitCastInputTypes with ContentEquality {

  import org.apache.spark.sql.types.IntegerType

  require(norm2.nonEmpty && cd.nonEmpty && cn2.nonEmpty,
    "PqAdcResidualScore needs non-empty constants")
  require(cd.length == cn2.length,
    "one centroid-dot table and one norm² per cell")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), IntegerType, ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_residual_score"

  override protected def nullSafeEval(codes: Any, cell: Any, lutPlus: Any): Any =
    PqAdcResidualScore.score(norm2, cd, cn2, codes.asInstanceOf[ArrayData],
      cell.asInstanceOf[Int], lutPlus.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nRef = ctx.addReferenceObj("norm2", norm2, "double[][]")
    val dRef = ctx.addReferenceObj("cd", cd, "double[][][]")
    val cRef = ctx.addReferenceObj("cn2", cn2, "double[]")
    nullSafeCodeGen(ctx, ev, (codes, cell, lut) => {
      s"${ev.value} = org.apache.spark.sql.graft.PqAdcResidualScore" +
        s".score($nRef, $dRef, $cRef, $codes, $cell, $lut);"
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): PqAdcResidualScore =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object PqAdcResidualScore {
  def score(norm2: Array[Array[Double]], cd: Array[Array[Array[Double]]],
            cn2: Array[Double], codes: ArrayData, cell: Int,
            lutPlus: ArrayData): Double = {
    val m = codes.numElements()
    val nCodes = norm2(0).length
    val nCells = cn2.length
    var sd = 0.0
    var sn2 = 0.0
    var cds = 0.0
    val cdCell = cd(cell)
    var s = 0
    while (s < m) {
      val c = codes.getInt(s)
      sd += lutPlus.getDouble(s * nCodes + c)
      sn2 += norm2(s)(c)
      cds += cdCell(s)(c)
      s += 1
    }
    val qc = lutPlus.getDouble(m * nCodes + cell)
    val qn = lutPlus.getDouble(m * nCodes + nCells)
    val denom = qn * math.sqrt(cn2(cell) + 2.0 * cds + sn2)
    if (denom == 0) 0.0 else (qc + sd) / denom
  }
}

/** Token shape statistics — (mean_word_len, digit_frac, top_token_share)
  * — in ONE pass over the space-split tokens.
  *
  * The composable form (graft.ops.TextAnalysis.qualitySignals round 4 v1)
  * chained `aggregate` / `filter` / `sort_array` higher-order functions:
  * every one of them is interpreter-only in Spark, so the projection
  * stage fell out of whole-stage codegen AND materialized the token
  * array three times. This expression tokenizes once, keeps a per-row
  * count map for the top-token share (O(n) per row), and code-generates
  * like any other unary expression. `length` semantics match Spark's
  * `length()` (Unicode code points).
  */
case class TokenStats(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("mean_word_len", DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("digit_frac", DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("top_token_share", DoubleType, nullable = false)))
  override def prettyName: String = "graft_token_stats"

  override protected def nullSafeEval(input: Any): Any =
    TokenStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.TokenStats.compute($in);"
    })

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

object TokenStats {
  import org.apache.spark.unsafe.types.UTF8String

  /** Shared by interpreted eval and codegen. */
  def compute(input: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = input.toString.split(" ", -1)
    val n = toks.length
    val counts = new java.util.HashMap[String, Int](n * 2)
    var lenSum = 0L
    var digits = 0
    var top = 0
    var i = 0
    while (i < n) {
      val w = toks(i)
      lenSum += w.codePointCount(0, w.length)
      if (w.nonEmpty) {
        var j = 0
        var allDigit = true
        while (allDigit && j < w.length) {
          if (w.charAt(j) < '0' || w.charAt(j) > '9') allDigit = false
          j += 1
        }
        if (allDigit) digits += 1
      }
      val c = counts.merge(w, 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    val d = n.toDouble
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lenSum / d, digits / d, top / d))
  }
}

/** N-gram repetition statistics — (total, n_distinct, max_count) over the
  * space-split token stream's n-grams — in ONE pass per row.
  *
  * Backs the Gopher-style repetition filters (duplicate-n-gram fraction,
  * top-n-gram share): the explode-groupBy formulation shuffles every gram
  * of the corpus twice; this keeps the whole computation row-local inside
  * whole-stage codegen, the same shape win as [[TokenStats]]. Integer
  * outputs so the derived fractions round identically in any engine.
  */
case class NgramRepetition(child: Expression, n: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  require(n >= 1, "n-gram size must be >= 1")

  import org.apache.spark.sql.types.{LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("total", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_distinct", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("max_count", LongType, nullable = false)))
  override def prettyName: String = "graft_ngram_rep"

  override protected def nullSafeEval(input: Any): Any =
    NgramRepetition.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.NgramRepetition.compute($in, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): NgramRepetition =
    copy(child = newChild)
}

object NgramRepetition {
  import org.apache.spark.unsafe.types.UTF8String

  /** Shared by interpreted eval and codegen. */
  def compute(input: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = input.toString.split(" ", -1)
    val m = toks.length - (n - 1)
    var total = 0L
    var distinct = 0L
    var top = 0L
    if (m > 0) {
      val counts = new java.util.HashMap[String, Int](m * 2)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val c = counts.merge(sb.toString, 1, (a, b) => a + b)
        if (c > top) top = c
        i += 1
      }
      total = m.toLong
      distinct = counts.size.toLong
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total, distinct, top))
  }
}

/** `Web.htmlToText`'s rule chain as ONE expression. The Column spelling
  * (chained `regexp_replace`s + the tokenize-and-transform entity
  * decode) is semantically identical — and the equivalence is
  * spec-pinned — but its codegen inlines every rule into the enclosing
  * stage's method: composed into a real intake projection (html fold +
  * NFC + normalize + [[GopherStats]] + md5, the q148 chain) the stage
  * crosses janino's 64 KB method limit and the WHOLE stage falls back
  * to interpreted eval. One static call keeps the stage resident; the
  * patterns compile once per JVM instead of living in generated code.
  * Patterns/replacements are read from `graft.ops.Web.htmlStripRules` /
  * `htmlWhitespaceRules` and the entity decode is the single-pass
  * `Web.decodeHtmlEntities` scanner — the same single sources the
  * DuckDB oracle generator folds — applied with the same
  * java.util.regex replaceAll the built-in `RegExpReplace` uses, then
  * a Spark-`trim` (space-only) of the result.
  */
case class HtmlToText(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_html_to_text"

  override protected def nullSafeEval(input: Any): Any =
    HtmlToText.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.HtmlToText.compute($in);"
    })

  override protected def withNewChildInternal(newChild: Expression): HtmlToText =
    copy(child = newChild)
}

object HtmlToText {
  import org.apache.spark.unsafe.types.UTF8String

  private def compile(rules: Seq[(String, String)]) =
    rules.map { case (p, r) =>
      (java.util.regex.Pattern.compile(p), r)
    }.toArray

  private lazy val strip = compile(graft.ops.Web.htmlStripRules)
  private lazy val whitespace = compile(graft.ops.Web.htmlWhitespaceRules)

  /** Shared by interpreted eval and codegen: strip rules → single-pass
    * entity decode ([[graft.ops.Web.decodeHtmlEntities]]) → whitespace
    * rules → space-only trim.
    */
  def compute(input: UTF8String): UTF8String = {
    var s = input.toString
    var i = 0
    while (i < strip.length) {
      s = strip(i)._1.matcher(s).replaceAll(strip(i)._2)
      i += 1
    }
    s = graft.ops.Web.decodeHtmlEntities(s)
    i = 0
    while (i < whitespace.length) {
      s = whitespace(i)._1.matcher(s).replaceAll(whitespace(i)._2)
      i += 1
    }
    // Spark's trim strips SPACES only (not the \n the rules produce)
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    UTF8String.fromString(if (a == 0 && b == s.length) s else s.substring(a, b))
  }
}

/** Charset-sniffed transcode of a crawl payload — the rung between a
  * WARC response block and the text pipeline. Pure per-row compute
  * (BOM → Content-Type header → meta-tag prescan → UTF-8 fallback,
  * replacement semantics; logic in [[graft.sources.Charsets]], the
  * single source the WarcReaderSpec pins), exposed as a codegen'd
  * expression so decode runs inside the scan projection's
  * whole-stage-codegen span like the html fold it feeds. The wrapper
  * coalesces a NULL content-type to '' — a response record with no
  * HTTP Content-Type must still decode via the remaining rungs, not
  * null out.
  */
case class DecodeCharset(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{BinaryType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_decode_charset"

  override protected def nullSafeEval(payload: Any, ct: Any): Any =
    UTF8String.fromString(graft.sources.Charsets.decode(
      payload.asInstanceOf[Array[Byte]],
      ct.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, c) => {
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.sources.Charsets.decode($p, $c.toString()));""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DecodeCharset = copy(newLeft, newRight)
}

/** The sniffed charset NAME (canonical java.nio name) — the audit
  * column beside [[DecodeCharset]]: a crawl-quality profile keyed on it
  * shows which encodings a source actually ships (and how much of a
  * corpus rides the UTF-8 fallback). Same rung order as the decode, by
  * construction (both call [[graft.sources.Charsets]]).
  */
case class SniffCharset(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{BinaryType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_sniff_charset"

  override protected def nullSafeEval(payload: Any, ct: Any): Any =
    UTF8String.fromString(graft.sources.Charsets.sniff(
      payload.asInstanceOf[Array[Byte]],
      ct.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, c) => {
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.sources.Charsets.sniff($p, $c.toString()));""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SniffCharset = copy(newLeft, newRight)
}

/** `Web.registeredDomain`'s longest-suffix cut as ONE expression. The
  * Column spelling folds ~60 `when(endsWith…, regexp_extract…)` branches
  * into a single chained CASE — correct, but the generated code is large
  * enough that TWO folds in one stage (q150 evaluates the domain in the
  * anti-join key and again in the output projection) cross janino's
  * 64 KB method limit and drop the stage to interpreted eval. One static
  * call replaces the branch chain with a hash-set suffix walk (also
  * O(labels) instead of O(suffixes) regex probes per row). Semantics are
  * the fold's, spec-pinned equivalent branch for branch:
  * exact-suffix host passes through; `label.suffix` cut with the regex's
  * empty-label no-match → "" behavior; no suffix → last-two-labels
  * fallback (both labels non-empty, else ""); dotless host passes
  * through.
  */
case class RegisteredDomain(child: Expression,
                            rules: graft.ops.PublicSuffixRules)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_registered_domain"

  // the dot walk is LEFT to right, so the first set hit is the longest
  // matching suffix — the same winner the ordered fold's Seq precedence
  // picks (every listed multi-label suffix is longer than its parent);
  // the full walk, wildcard/exception classes included, lives on
  // graft.ops.PublicSuffixRules (default: the bundled exact-only set)
  override protected def nullSafeEval(input: Any): Any =
    rules.registeredDomain(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      // rules ride as a reference object: one static-shape call per row
      // whether the set is the bundled ~60 or the full published ~9500
      val ref = ctx.addReferenceObj("pslRules", rules,
        "graft.ops.PublicSuffixRules")
      s"${ev.value} = $ref.registeredDomain($in);"
    })

  override protected def withNewChildInternal(newChild: Expression): RegisteredDomain =
    copy(child = newChild)
}

/** The Gopher keep DECISION as one boolean expression. The Column
  * spelling (flags derived from a [[GopherStats]] struct) is correct in
  * a PROJECTION, where whole-stage codegen's subexpression elimination
  * evaluates the struct once — but as a FILTER predicate there is no
  * subexpression elimination (FilterExec generates a plain predicate),
  * so each of the ~14 struct-field references re-evaluates the whole
  * stats pass — and, after predicate pushdown inlines the alias,
  * everything UNDER it (the q148 intake gate measured 19 htmlToText
  * evaluations per row, 4.3 s of a 4.9 s stage). One static call
  * computes the stats once and applies the thresholds in Scala —
  * arithmetic identical to `TextAnalysis.gopherRules` (same
  * long→double divisions, same guards), spec-pinned equivalent.
  */
case class GopherKeep(child: Expression,
                      minWords: Long, maxWords: Long,
                      minMeanWordLen: Double, maxMeanWordLen: Double,
                      maxSymbolWordRatio: Double, maxBulletLineFrac: Double,
                      maxEllipsisLineFrac: Double, minAlphaWordFrac: Double,
                      minStopHits: Long)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{BooleanType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_gopher_keep"

  override protected def nullSafeEval(input: Any): Any =
    GopherKeep.compute(input.asInstanceOf[UTF8String], minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolWordRatio, maxBulletLineFrac,
      maxEllipsisLineFrac, minAlphaWordFrac, minStopHits)

  // Non-finite thresholds (Infinity to disable a max rule, NaN) would
  // render as bare 'Infinity'/'NaN' — not valid Java — and silently drop
  // the stage to interpreted eval. Emit the Double constants instead.
  private def dlit(d: Double): String =
    if (d.isNaN) "Double.NaN"
    else if (d == Double.PositiveInfinity) "Double.POSITIVE_INFINITY"
    else if (d == Double.NegativeInfinity) "Double.NEGATIVE_INFINITY"
    else s"${d}D"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"""${ev.value} = org.apache.spark.sql.graft.GopherKeep.compute($in,
         |  ${minWords}L, ${maxWords}L, ${dlit(minMeanWordLen)}, ${dlit(maxMeanWordLen)},
         |  ${dlit(maxSymbolWordRatio)}, ${dlit(maxBulletLineFrac)}, ${dlit(maxEllipsisLineFrac)},
         |  ${dlit(minAlphaWordFrac)}, ${minStopHits}L);""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GopherKeep =
    copy(child = newChild)
}

object GopherKeep {
  import org.apache.spark.unsafe.types.UTF8String

  /** Shared by interpreted eval and codegen — ONE stats pass, then the
    * same threshold arithmetic the Column rules evaluate.
    */
  def compute(input: UTF8String, minWords: Long, maxWords: Long,
              minMeanWordLen: Double, maxMeanWordLen: Double,
              maxSymbolWordRatio: Double, maxBulletLineFrac: Double,
              maxEllipsisLineFrac: Double, minAlphaWordFrac: Double,
              minStopHits: Long): Boolean = {
    val r = GopherStats.compute(input)
    val nWords = r.getLong(0); val lenSum = r.getLong(1)
    val nAlpha = r.getLong(2); val nStop = r.getLong(3)
    val nLines = r.getLong(4); val nBullet = r.getLong(5)
    val nEllipsis = r.getLong(6); val nHash = r.getLong(7)
    val nMarks = r.getLong(8)
    val hasWords = nWords > 0
    val hasLines = nLines > 0
    val fWords = nWords >= minWords && nWords <= maxWords
    val fLen = hasWords && lenSum.toDouble / nWords >= minMeanWordLen &&
      lenSum.toDouble / nWords <= maxMeanWordLen
    val fSymbol = hasWords &&
      (nHash + nMarks).toDouble / nWords <= maxSymbolWordRatio
    val fBullet = !hasLines || nBullet.toDouble / nLines <= maxBulletLineFrac
    val fEllipsis = !hasLines ||
      nEllipsis.toDouble / nLines <= maxEllipsisLineFrac
    val fAlpha = hasWords && nAlpha.toDouble / nWords >= minAlphaWordFrac
    val fStop = nStop >= minStopHits
    fWords && fLen && fSymbol && fBullet && fEllipsis && fAlpha && fStop
  }
}

/** `TextAnalysis.paragraphsCol`'s unit rule as ONE expression —
  * blank-line split (`\n{2,}`), per-paragraph edge trim ([ \t\n\r]),
  * empties dropped. The HOF spelling (split + transform + filter
  * lambdas) is CodegenFallback in Spark: one such expression drops the
  * ENTIRE enclosing projection stage out of whole-stage codegen — the
  * same class of regression the [[TokenStats]]/[[GopherStats]] fusions
  * closed. One scan, no regex, no intermediate arrays.
  */
case class Paragraphs(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_paragraphs"

  override protected def nullSafeEval(input: Any): Any =
    Paragraphs.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.Paragraphs.compute($in);"
    })

  override protected def withNewChildInternal(newChild: Expression): Paragraphs =
    copy(child = newChild)
}

object Paragraphs {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private def isTrimWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** Shared by interpreted eval and codegen. Semantics mirror
    * `split(text, "\n{2,}")` + trim + drop-empties exactly: only runs
    * of TWO OR MORE consecutive newlines separate paragraphs (a single
    * newline stays inside its paragraph).
    */
  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def emit(a0: Int, b0: Int): Unit = {
      var a = a0; var b = b0
      while (a < b && isTrimWs(s.charAt(a))) a += 1
      while (b > a && isTrimWs(s.charAt(b - 1))) b -= 1
      if (b > a) out += UTF8String.fromString(s.substring(a, b))
    }
    var st = 0
    var i = 0
    while (i < n) {
      if (s.charAt(i) == '\n' && i + 1 < n && s.charAt(i + 1) == '\n') {
        emit(st, i)
        i += 2
        while (i < n && s.charAt(i) == '\n') i += 1
        st = i
      } else i += 1
    }
    emit(st, n)
    new GenericArrayData(out.toArray)
  }
}

/** The integer counts behind the published Gopher document-quality rules
  * (Rae et al. 2021, §A1.1) in ONE row-local pass: word count and length
  * sum, alphabetic-word and stop-word hits, non-blank/bullet/ellipsis
  * line counts, and the `#`/`…` symbol tallies. Integers only — the
  * derived ratios and threshold flags divide identically in any engine,
  * so the operator hash-checks against a DuckDB twin.
  *
  * The HOF spelling (split + filter/aggregate lambdas per signal) walks
  * the text once PER SIGNAL through interpreter-only expressions; this is
  * the [[TokenStats]] shape win applied to the full rule family — one
  * fused scan inside whole-stage codegen. Semantics pinned for the
  * oracle mirror:
  *   - words = maximal runs of non-[ \t\n\r]; length in codepoints;
  *   - alphabetic word = contains [A-Za-z]; stop word = lowercased
  *     exact match against the published 8-word list;
  *   - lines split on \n, trimmed of [ \t\r]; blank lines don't count;
  *     bullet = first char in {-, *, •}; ellipsis = ends "..." or "…";
  *   - symbol tallies: every `#` char; `…` chars plus non-overlapping
  *     left-to-right "..." runs (exactly what a replace-all counts).
  */
case class GopherStats(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    GopherStats.fields.map(f =>
      org.apache.spark.sql.types.StructField(f, LongType, nullable = false)))
  override def prettyName: String = "graft_gopher_stats"

  override protected def nullSafeEval(input: Any): Any =
    GopherStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.GopherStats.compute($in);"
    })

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}

object GopherStats {
  import org.apache.spark.unsafe.types.UTF8String

  val fields: Seq[String] = Seq("n_words", "word_len_sum", "n_alpha_words",
    "n_stop_hits", "n_lines", "n_bullet_lines", "n_ellipsis_lines",
    "n_hash", "n_ellipsis_marks")

  /** The published Gopher stop list (word must appear ≥2 times... the
    * RULE's threshold lives in the operator; this is just the list).
    */
  val stopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopWords.foreach(s.add)
    s
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'
  private def isLineWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\r'

  /** Shared by interpreted eval and codegen. */
  def compute(input: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = input.toString
    val n = s.length
    var nWords = 0L; var lenSum = 0L; var nAlpha = 0L; var nStop = 0L
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        var hasAlpha = false
        while (i < n && !isWs(s.charAt(i))) {
          val c = s.charAt(i)
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hasAlpha = true
          i += 1
        }
        nWords += 1
        lenSum += s.codePointCount(start, i)
        if (hasAlpha) nAlpha += 1
        if (i - start <= 4 &&
          stopSet.contains(
            s.substring(start, i).toLowerCase(java.util.Locale.ROOT)))
          nStop += 1
      }
    }
    // line stats: split on \n, trim [ \t\r] at both ends, skip blanks
    var nLines = 0L; var nBullet = 0L; var nEllipsis = 0L
    var ls = 0
    while (ls <= n) {
      var le = s.indexOf('\n', ls)
      if (le < 0) le = n
      var a = ls; var b = le
      while (a < b && isLineWs(s.charAt(a))) a += 1
      while (b > a && isLineWs(s.charAt(b - 1))) b -= 1
      if (b > a) {
        nLines += 1
        val first = s.charAt(a)
        if (first == '-' || first == '*' || first == '•') nBullet += 1
        if (s.charAt(b - 1) == '…' ||
          (b - a >= 3 && s.charAt(b - 1) == '.' && s.charAt(b - 2) == '.' &&
            s.charAt(b - 3) == '.')) nEllipsis += 1
      }
      ls = le + 1
    }
    // symbol tallies: '#' chars; '…' chars + non-overlapping "..." runs
    var nHash = 0L; var nMarks = 0L
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '#') nHash += 1
      if (c == '…') nMarks += 1
      if (c == '.' && i + 2 < n && s.charAt(i + 1) == '.' &&
        s.charAt(i + 2) == '.') { nMarks += 1; i += 2 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, lenSum, nAlpha, nStop, nLines, nBullet, nEllipsis,
        nHash, nMarks))
  }
}

/** The `nProbe` nearest centroids by cosine (ties to the lower index),
  * as an array<int> — the multi-cell generalization of [[NearestCentroid]]
  * that IVF batch probes need: each QUERY row expands to its probe cells
  * in one zero-shuffle projection, instead of a queries × centroids join
  * plus a per-query window rank. Same cosine arithmetic as
  * [[NearestCentroid.nearest]], so assignments and probes can never
  * disagree about geometry.
  */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]],
                            nProbe: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes with ContentEquality {

  require(nProbe >= 1 && nProbe <= centroids.length,
    s"nProbe must be in [1, ${centroids.length}]: $nProbe")

  import org.apache.spark.sql.types.IntegerType

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroids"

  @transient private lazy val norms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum))

  override protected def nullSafeEval(input: Any): Any =
    NearestCentroids.nearestK(centroids, norms, input.asInstanceOf[ArrayData], nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val nRef = ctx.addReferenceObj("norms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = org.apache.spark.sql.graft.NearestCentroids.nearestK($cRef, $nRef, $v, $nProbe);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

object NearestCentroids {
  /** Shared by interpreted eval and codegen: indices of the top-nProbe
    * centroids by (cosine desc, index asc) — selection sort over the
    * bounded centroid table (nCells is tens, not thousands).
    */
  def nearestK(centroids: Array[Array[Double]], norms: Array[Double],
               v: ArrayData, nProbe: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = v.numElements()
    var vnorm = 0.0
    var j = 0
    while (j < n) { val x = v.getDouble(j); vnorm += x * x; j += 1 }
    vnorm = math.sqrt(vnorm)
    val sims = new Array[Double](centroids.length)
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      val d = math.min(c.length, n)
      var dot = 0.0
      var k = 0
      while (k < d) { dot += c(k) * v.getDouble(k); k += 1 }
      val denom = norms(i) * vnorm
      sims(i) = if (denom == 0) 0.0 else dot / denom
      i += 1
    }
    val taken = new Array[Boolean](sims.length)
    val out = new Array[Any](nProbe)
    var p = 0
    while (p < nProbe) {
      // `best == -1` seed (not a bare `>` against -Inf): a NaN component
      // makes every sim NaN and no comparison fires — degrade to
      // first-untaken, like NearestCentroid's best=0 seed, instead of
      // indexing with -1
      var best = -1
      var bestSim = Double.NegativeInfinity
      var q = 0
      while (q < sims.length) {
        if (!taken(q) && (best == -1 || sims(q) > bestSim)) {
          bestSim = sims(q); best = q
        }
        q += 1
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Token profile against a family of stopword lists — (n_tokens,
  * n_distinct, hits[i] per list) — in ONE pass over the space-split
  * tokens.
  *
  * Backs languageId (argmax over per-language stopword hits) and
  * qualityScore (length/type-token/stopword ratios): the `filter(tokens,
  * w -> w.isin(...))` HOF form those used is interpreter-only in Spark
  * (lambda expressions never codegen), so the hottest text projections
  * fell out of whole-stage codegen and walked the token array once per
  * language. The stopword sets ride along as a codegen reference object.
  */
case class TokenProfile(child: Expression, lists: Seq[Seq[String]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_tokens", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_distinct", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("hits",
      ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "graft_token_profile"

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    TokenProfile.buildSets(lists)

  override protected def nullSafeEval(input: Any): Any =
    TokenProfile.compute(input.asInstanceOf[UTF8String], sets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sets", sets, "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.TokenProfile.compute($in, $ref);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): TokenProfile =
    copy(child = newChild)
}

object TokenProfile {
  import org.apache.spark.unsafe.types.UTF8String

  def buildSets(lists: Seq[Seq[String]]): Array[java.util.HashSet[String]] =
    lists.map { l =>
      val s = new java.util.HashSet[String](l.size * 2)
      l.foreach(s.add)
      s
    }.toArray

  /** Shared by interpreted eval and codegen. */
  def compute(input: UTF8String,
              sets: Array[java.util.HashSet[String]]): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = input.toString.split(" ", -1)
    val n = toks.length
    val seen = new java.util.HashSet[String](n * 2)
    val hits = new Array[Long](sets.length)
    var i = 0
    while (i < n) {
      val w = toks(i)
      seen.add(w)
      var j = 0
      while (j < sets.length) {
        if (sets(j).contains(w)) hits(j) += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, seen.size.toLong,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          hits.map(h => h: Any))))
  }
}

/** Both token counts of the q35 contract — whitespace fields and the
  * BPE-ish pre-tokenizer count — in ONE pass over the code points.
  *
  * The pre-tokenizer rule is the regex `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]`:
  * a maximal ASCII-letter run, a maximal digit run, or any single other
  * non-whitespace code point. That alternation is a three-state DFA, so
  * running java.util.regex (NFA backtracker, one Matcher per row) for it
  * pays an order of magnitude over a hand walk — and the walk also yields
  * the whitespace-field count (spaces + 1, the `split(' ')` contract)
  * for free, without materializing the token array. Code-point iteration
  * keeps supplementary characters counting once, exactly as the regex
  * engines do.
  */
case class TokenCountsExpr(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("ws_tokens", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("bpe_tokens", LongType, nullable = false)))
  override def prettyName: String = "graft_token_counts"

  override protected def nullSafeEval(input: Any): Any =
    TokenCountsExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.TokenCountsExpr.compute($in);"
    })

  override protected def withNewChildInternal(newChild: Expression): TokenCountsExpr =
    copy(child = newChild)
}

object TokenCountsExpr {
  import org.apache.spark.unsafe.types.UTF8String

  // Java regex \s
  private def isSpace(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'
  private def isLetter(cp: Int): Boolean =
    (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')
  private def isDigit(cp: Int): Boolean = cp >= '0' && cp <= '9'

  /** Shared by interpreted eval and codegen. */
  def compute(input: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = input.toString
    val len = s.length
    var ws = 1L // split(' ') fields = single-space separators + 1
    var bpe = 0L
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      if (cp == ' ') ws += 1
      if (isLetter(cp)) {
        bpe += 1
        while (i < len && isLetter(s.codePointAt(i))) i += Character.charCount(s.codePointAt(i))
      } else if (isDigit(cp)) {
        bpe += 1
        while (i < len && isDigit(s.codePointAt(i))) i += Character.charCount(s.codePointAt(i))
      } else {
        if (!isSpace(cp)) bpe += 1
        i += Character.charCount(cp)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](ws, bpe))
  }
}

/** Token count under a pluggable [[graft.functions.TokenCounter]] — the
  * SPI's single column-evaluation path. The counter object ships to
  * executors as a plan reference object (the [[BloomMightContain]] /
  * [[NearestCentroid]] pattern), so ANY SPI implementation — the built-in
  * greedy-BPE counter included — evaluates inside whole-stage codegen
  * with no UDF boundary and no token array materialized. Pure map-side
  * work: at 100 TB this adds zero shuffles to the budget operators that
  * consume it (q52b packing, q58b token-budget sampling).
  */
case class TokenCountExpr(child: Expression,
                          counter: graft.functions.TokenCounter)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = s"graft_tokens_${counter.name}"

  override protected def nullSafeEval(input: Any): Any =
    counter.countTokens(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("counter", counter,
      classOf[graft.functions.TokenCounter].getName)
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = $ref.countTokens($in.toString());"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCountExpr =
    copy(child = newChild)
}

/** Token-id materialization under a pluggable
  * [[graft.functions.TokenEncoder]] — [[TokenCountExpr]]'s id-emitting
  * sibling and the expression behind `packTokens` (the pipeline step
  * that writes training-ready id sequences instead of counts). The
  * encoder ships as a plan reference object; evaluation stays inside
  * whole-stage codegen, and the ids land directly in an
  * `UnsafeArrayData` primitive array — no boxing, no UDF boundary.
  * Map-side only: the expression itself adds zero shuffles (the packing
  * operator downstream owns its one explode + one group).
  */
case class TokenEncodeExpr(child: Expression,
                           encoder: graft.functions.TokenEncoder)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = s"graft_token_ids_${encoder.name}"

  override protected def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(encoder.encodeTokens(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("encoder", encoder,
      classOf[graft.functions.TokenEncoder].getName)
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
        s".fromPrimitiveArray($ref.encodeTokens($in.toString()));"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): TokenEncodeExpr =
    copy(child = newChild)
}

/** Membership probe against a driver-built Bloom filter, shipped once as a
  * codegen reference object (same pattern as [[NearestCentroid]]'s
  * centroid matrix) — the broadcast "runtime filter" that lets a 100 TB
  * scan discard rows BEFORE any shuffle or join. No false negatives, so
  * an exact verify join over the tiny surviving slice restores exactness.
  *
  * Probes with `mightContainBinary` over the UTF8String's bytes —
  * byte-identical to the `putString` the builder uses (putString hashes
  * the UTF-8 encoding), with no per-row String allocation.
  */
case class BloomMightContain(child: Expression,
                             bloom: org.apache.spark.util.sketch.BloomFilter)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{BooleanType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  override protected def nullSafeEval(input: Any): Any =
    bloom.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = $ref.mightContainBinary($in.getBytes());"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** Symmetric per-vector int8 quantization: scale = max |x|, q_i =
  * floor(x_i · 127 / scale + 0.5) — the storage form that shrinks an
  * embedding index 4× (byte vs float) with cosine ranks preserved to
  * quantization precision; at 100 TB of vectors the scan-and-rank cost
  * IS the byte volume read. One fused pass per row in both interpreted
  * and codegen paths; output struct(scale, q) so magnitudes remain
  * reconstructible (q_i · scale / 127). floor(+0.5) rather than a
  * half-even round because both engines (Java and the DuckDB oracle)
  * define FLOOR identically — rounding-mode parity for free. Zero
  * vectors quantize to all-zero q with scale 0.
  */
case class QuantizeInt8(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.ByteType

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("scale", DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("q",
      ArrayType(ByteType, containsNull = false), nullable = false)))
  override def prettyName: String = "graft_quantize_int8"

  override protected def nullSafeEval(input: Any): Any =
    QuantizeInt8.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.QuantizeInt8.compute($in);"
    })

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
}

object QuantizeInt8 {
  /** Shared by interpreted eval and codegen. */
  def compute(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      if (a > s) s = a
      i += 1
    }
    val q = new Array[Byte](n)
    if (s > 0) {
      i = 0
      while (i < n) {
        q(i) = math.floor(v.getDouble(i) * 127 / s + 0.5).toByte
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](s, org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(q)))
  }
}

/** Hashing-trick text featurizer: one pass over the space-split tokens
  * (empties skipped — the q63/q64 token stream), each token's first 8
  * md5 nibbles read as an unsigned 32-bit value mod `dim` picks a
  * bucket, and the output is the `dim`-wide int array of bucket
  * multiplicities — a deterministic, vocabulary-free document vector
  * that feeds the whole similarity family (cosine top-k, LSH/IVF
  * indexes, quantization) from raw text, no trained embedder required.
  *
  * As a row-local projection it replaces the explode + groupBy(doc,
  * bucket) formulation that would shuffle every token occurrence of the
  * corpus; the md5-derived bucket is engine-portable, so the oracle
  * recomputes it in SQL.
  */
case class HashEmbed(child: Expression, dim: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{IntegerType, StringType}

  require(dim >= 1 && dim <= (1 << 20), s"hash-embed dim out of range: $dim")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_hash_embed"

  override protected def nullSafeEval(input: Any): Any =
    HashEmbed.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.HashEmbed.compute($in, $dim);"
    })

  override protected def withNewChildInternal(newChild: Expression): HashEmbed =
    copy(child = newChild)
}

object HashEmbed {
  /** Shared by interpreted eval and codegen: bucket = unsigned int of
    * md5 bytes 0–3 (= first 8 hex nibbles) mod dim, counts with
    * multiplicity.
    */
  def compute(input: org.apache.spark.unsafe.types.UTF8String,
              dim: Int): ArrayData = {
    val toks = input.toString.split(" ", -1)
    val counts = new Array[Int](dim)
    val md = GraftDigest.md5()
    var t = 0
    while (t < toks.length) {
      val s = toks(t)
      if (s.nonEmpty) {
        md.reset()
        val h = md.digest(s.getBytes("UTF-8"))
        val v = ((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) |
          ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)
        counts((v % dim).toInt) += 1
      }
      t += 1
    }
    ArrayData.toArrayData(counts)
  }
}

/** Unicode NFC normalization as one codegen'd unary projection — the
  * canonical-composition step a text pipeline runs BEFORE hashing: the
  * same rendered string can arrive precomposed (é = U+00E9) or as
  * base+combining sequences (e + U+0301), and every md5-keyed operator
  * in this engine (exact dedup, minhash, simhash, winnowing, the
  * samplers' coins) would treat the two as different documents.
  * `java.text.Normalizer` implements the Unicode standard's NFC, as
  * does the oracle's `nfc_normalize` (utf8proc) — the q144 hash-check
  * pins the cross-implementation agreement. Fast path: the NFC
  * quick-check returns the input UTF8String untouched for the
  * overwhelmingly common already-normalized document (no String
  * round-trip, no allocation).
  */
case class NfcNormalize(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.StringType

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"${ev.value} = org.apache.spark.sql.graft.NfcNormalize.compute($in);"
    })

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  import org.apache.spark.unsafe.types.UTF8String

  /** Shared by interpreted eval and codegen. */
  def compute(input: UTF8String): UTF8String = {
    val s = input.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC))
      input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

object VectorBridge {
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def nfcNormalize(text: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(text)))

  def wordShingles(text: Column, w: Int): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(text), w))

  def lshBucket(vec: Column, dim: Int, nBits: Int, band: Int): Column =
    ExpressionUtils.column(
      RandomHyperplanes(ExpressionUtils.expression(vec), dim, nBits, band))

  def randomProject(vec: Column, dim: Int, outDim: Int): Column =
    ExpressionUtils.column(
      RandomProjection(ExpressionUtils.expression(vec), dim, outDim))

  def simHashBits(text: Column, bits: Int): Column =
    ExpressionUtils.column(SimHashBits(ExpressionUtils.expression(text), bits))

  def winnow(text: Column, k: Int, t: Int): Column =
    ExpressionUtils.column(WinnowFingerprints(ExpressionUtils.expression(text), k, t))

  def wordGramHashes(words: Column, w: Int): Column =
    ExpressionUtils.column(WordGramHashes(ExpressionUtils.expression(words), w))

  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ExpressionUtils.column(PqEncode(ExpressionUtils.expression(vec), codebooks))

  def pqAdcScore(codes: Column, dots: Array[Array[Double]],
                 norm2: Array[Array[Double]], qNorm: Double): Column =
    ExpressionUtils.column(
      PqAdcScore(ExpressionUtils.expression(codes), dots, norm2, qNorm))

  def pqQueryLut(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ExpressionUtils.column(PqQueryLut(ExpressionUtils.expression(vec), codebooks))

  def pqAdcScoreBatch(codes: Column, lut: Column, qNorm: Column,
                      norm2: Array[Array[Double]]): Column =
    ExpressionUtils.column(
      PqAdcScoreBatch(ExpressionUtils.expression(codes),
        ExpressionUtils.expression(lut), ExpressionUtils.expression(qNorm), norm2))

  def centroidResidual(vec: Column, cell: Column,
                       centroids: Array[Array[Double]]): Column =
    ExpressionUtils.column(CentroidResidual(
      ExpressionUtils.expression(vec), ExpressionUtils.expression(cell), centroids))

  def pqResidualQueryLut(vec: Column, codebooks: Array[Array[Array[Double]]],
                         centroids: Array[Array[Double]]): Column =
    ExpressionUtils.column(PqResidualQueryLut(
      ExpressionUtils.expression(vec), codebooks, centroids))

  def pqAdcResidualScore(codes: Column, cell: Column, lutPlus: Column,
                         norm2: Array[Array[Double]],
                         cd: Array[Array[Array[Double]]],
                         cn2: Array[Double]): Column =
    ExpressionUtils.column(PqAdcResidualScore(
      ExpressionUtils.expression(codes), ExpressionUtils.expression(cell),
      ExpressionUtils.expression(lutPlus), norm2, cd, cn2))

  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    ExpressionUtils.column(NearestCentroid(ExpressionUtils.expression(vec), centroids))

  def nearestCentroids(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    ExpressionUtils.column(
      NearestCentroids(ExpressionUtils.expression(vec), centroids, nProbe))

  def tokenStats(text: Column): Column =
    ExpressionUtils.column(TokenStats(ExpressionUtils.expression(text)))

  def ngramRep(text: Column, n: Int): Column =
    ExpressionUtils.column(NgramRepetition(ExpressionUtils.expression(text), n))

  def gopherStats(text: Column): Column =
    ExpressionUtils.column(GopherStats(ExpressionUtils.expression(text)))

  def htmlToText(html: Column): Column =
    ExpressionUtils.column(HtmlToText(ExpressionUtils.expression(html)))

  def decodeCharset(payload: Column, contentType: Column): Column =
    ExpressionUtils.column(DecodeCharset(
      ExpressionUtils.expression(payload),
      ExpressionUtils.expression(contentType)))

  def sniffCharset(payload: Column, contentType: Column): Column =
    ExpressionUtils.column(SniffCharset(
      ExpressionUtils.expression(payload),
      ExpressionUtils.expression(contentType)))

  def registeredDomain(host: Column): Column =
    ExpressionUtils.column(RegisteredDomain(ExpressionUtils.expression(host),
      graft.ops.PublicSuffixRules.bundled))

  def registeredDomain(host: Column,
                       rules: graft.ops.PublicSuffixRules): Column =
    ExpressionUtils.column(
      RegisteredDomain(ExpressionUtils.expression(host), rules))

  def paragraphs(text: Column): Column =
    ExpressionUtils.column(Paragraphs(ExpressionUtils.expression(text)))

  def gopherKeep(text: Column, minWords: Long, maxWords: Long,
                 minMeanWordLen: Double, maxMeanWordLen: Double,
                 maxSymbolWordRatio: Double, maxBulletLineFrac: Double,
                 maxEllipsisLineFrac: Double, minAlphaWordFrac: Double,
                 minStopHits: Long): Column =
    ExpressionUtils.column(GopherKeep(ExpressionUtils.expression(text),
      minWords, maxWords, minMeanWordLen, maxMeanWordLen,
      maxSymbolWordRatio, maxBulletLineFrac, maxEllipsisLineFrac,
      minAlphaWordFrac, minStopHits))

  def tokenProfile(text: Column, lists: Seq[Seq[String]]): Column =
    ExpressionUtils.column(TokenProfile(ExpressionUtils.expression(text), lists))

  def tokenCounts(text: Column): Column =
    ExpressionUtils.column(TokenCountsExpr(ExpressionUtils.expression(text)))

  def tokenCount(text: Column, counter: graft.functions.TokenCounter): Column =
    ExpressionUtils.column(TokenCountExpr(ExpressionUtils.expression(text), counter))

  def tokenEncode(text: Column, encoder: graft.functions.TokenEncoder): Column =
    ExpressionUtils.column(TokenEncodeExpr(ExpressionUtils.expression(text), encoder))

  def quantizeInt8(vec: Column): Column =
    ExpressionUtils.column(QuantizeInt8(ExpressionUtils.expression(vec)))

  def hashEmbed(text: Column, dim: Int): Column =
    ExpressionUtils.column(HashEmbed(ExpressionUtils.expression(text), dim))

  def bloomMightContain(text: Column,
                        bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    ExpressionUtils.column(
      BloomMightContain(ExpressionUtils.expression(text), bloom))
}
