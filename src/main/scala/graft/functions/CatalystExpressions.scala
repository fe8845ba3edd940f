package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the similarity/dedup hot paths
  * (SURVEY.md §7.3). Spark's higher-order functions (`zip_with`/
  * `aggregate`) evaluate their lambda once per ELEMENT outside whole-stage
  * codegen — ~0.5 ms per 64-dim cosine — which dominates every similarity
  * job at scale. These expressions compile to a tight primitive loop
  * inside codegen ([[CosineSimilarityExpr.doGenCode]]), with an
  * interpreted `nullSafeEval` fallback kept bit-identical (same
  * left-to-right double accumulation as the HOF forms and the DuckDB
  * oracle's list_sum).
  */

/** cosine(a, b) over two array<float> columns. NULL when either side is
  * NULL or lengths differ (matching zip_with's null-pad propagation);
  * 0.0 when either norm is zero. */
case class CosineSimilarityExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  // constructed internally over known array<float> columns; no implicit
  // input-type coercion needed
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // can be NULL (length mismatch) even when both children are non-nullable;
  // without this override Spark's non-nullable codegen path never declares
  // ev.isNull, the body's assignment doesn't compile under janino, and the
  // whole stage silently falls back to interpreted eval (the swallowed
  // NonFateSharingCache error in the round-2/3 bench tails)
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val n = ctx.freshName("n")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  int $i = 0;
         |  final int $n = $a.numElements();
         |  while ($i < $n) {
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |    $i++;
         |  }
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0)
         |    ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityExpr =
    copy(left = newLeft, right = newRight)
}

/** Full MinHash signature over a raw whitespace-split token array, in ONE
  * codegen pass with zero string allocation: empty tokens are skipped
  * (split("\\s+") artifacts), each surviving token is XXH64-hashed from
  * its UTF8 bytes, shingle hashes chain the `shingleN` window token hashes
  * (fewer tokens than shingleN -> one whole-document shingle, matching
  * TextFunctions.shingles' fallback), and every seed's minimum is a
  * multiply-add over the shingle hash. Never NULL: an empty document
  * yields the seed-chain signature deterministically. */
case class MinHashSignatureExpr(child: Expression, shingleN: Int,
                                mixA: Array[Long], mixB: Array[Long])
  extends UnaryExpression {

  private val hashSeed = 42L

  // constructed internally over a split(normalized, "\\s+") array<string>
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val th = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null && s.numBytes() > 0) {
        th(m) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes(), hashSeed)
        m += 1
      }
      i += 1
    }
    val mins = Array.fill(mixA.length)(Long.MaxValue)
    def update(sh: Long): Unit = {
      var j = 0
      while (j < mins.length) {
        val v = sh * mixA(j) + mixB(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    if (m < shingleN) {
      var sh = hashSeed
      var k = 0
      while (k < m) { sh = XXH64.hashLong(th(k), sh); k += 1 }
      update(sh)
    } else {
      var s0 = 0
      while (s0 <= m - shingleN) {
        var sh = hashSeed
        var k = 0
        while (k < shingleN) { sh = XXH64.hashLong(th(s0 + k), sh); k += 1 }
        update(sh)
        s0 += 1
      }
    }
    new GenericArrayData(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mixA", mixA, "long[]")
    val bRef = ctx.addReferenceObj("mixB", mixB, "long[]")
    val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val th = ctx.freshName("th")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val mins = ctx.freshName("mins")
      val sh = ctx.freshName("sh")
      val k = ctx.freshName("k")
      val s0 = ctx.freshName("s0")
      val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $c.numElements();
         |long[] $th = new long[$n];
         |int $m = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  org.apache.spark.unsafe.types.UTF8String $s = $c.getUTF8String($i);
         |  if ($s != null && $s.numBytes() > 0) {
         |    $th[$m++] = $xxh.hashUnsafeBytes($s.getBaseObject(),
         |      $s.getBaseOffset(), $s.numBytes(), ${hashSeed}L);
         |  }
         |}
         |long[] $mins = new long[$aRef.length];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |if ($m < $shingleN) {
         |  long $sh = ${hashSeed}L;
         |  for (int $k = 0; $k < $m; $k++) { $sh = $xxh.hashLong($th[$k], $sh); }
         |  for (int $j = 0; $j < $mins.length; $j++) {
         |    long $v = $sh * $aRef[$j] + $bRef[$j];
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |} else {
         |  for (int $s0 = 0; $s0 <= $m - $shingleN; $s0++) {
         |    long $sh = ${hashSeed}L;
         |    for (int $k = 0; $k < $shingleN; $k++) {
         |      $sh = $xxh.hashLong($th[$s0 + $k], $sh);
         |    }
         |    for (int $j = 0; $j < $mins.length; $j++) {
         |      long $v = $sh * $aRef[$j] + $bRef[$j];
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignatureExpr = copy(child = newChild)
}

/** Content-defined chunking (CDC) fingerprints over a text column: a
  * gear-style rolling hash walks the UTF-8 bytes and cuts a chunk boundary
  * whenever the low `maskBits` of the rolling state are zero (subject to a
  * `minChunk` byte floor), then each chunk is XXH64-fingerprinted. Because
  * boundaries depend only on LOCAL content, an edit in the middle of a
  * document changes O(1) chunks — unlike fixed-width chunking where one
  * insertion shifts every later chunk. This is the rolling-hash document
  * fingerprint for partial-duplication / containment detection: docs
  * sharing chunks share content regions. One codegen pass, no allocation
  * beyond the output array. NULL text -> NULL. */
case class CdcChunksExpr(child: Expression, minChunk: Int = 16,
                         maskBits: Int = 6, portable: Boolean = false)
  extends UnaryExpression {

  private val mask = (1L << maskBits) - 1
  private val hashSeed = 42L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    if (portable) return CdcChunksPortable.chunks(s.getBytes, minChunk, mask)
    val bytes = s.getBytes
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h << 1) + (bytes(i) & 0xff)
      if (i - start + 1 >= minChunk && (h & mask) == 0L) {
        out += XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
          i - start + 1, hashSeed)
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < bytes.length || bytes.isEmpty) {
      out += XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
        bytes.length - start, hashSeed)
    }
    new GenericArrayData(out.toArray)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (portable) {
      return nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.CdcChunksPortable.chunks(" +
          s"$c.getBytes(), $minChunk, ${mask}L);")
    }
    val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
    val off = "org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET"
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val buf = ctx.freshName("buf")
      val cnt = ctx.freshName("cnt")
      val start = ctx.freshName("start")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      // primitive growable buffer: no boxing in the per-row hot path
      s"""
         |byte[] $bytes = $c.getBytes();
         |long[] $buf = new long[16];
         |int $cnt = 0;
         |int $start = 0;
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h << 1) + ($bytes[$i] & 0xff);
         |  if ($i - $start + 1 >= $minChunk && ($h & ${mask}L) == 0L) {
         |    if ($cnt == $buf.length) {
         |      $buf = java.util.Arrays.copyOf($buf, $buf.length * 2);
         |    }
         |    $buf[$cnt++] = $xxh.hashUnsafeBytes($bytes, $off + $start,
         |      $i - $start + 1, ${hashSeed}L);
         |    $start = $i + 1;
         |    $h = 0L;
         |  }
         |}
         |if ($start < $bytes.length || $bytes.length == 0) {
         |  if ($cnt == $buf.length) {
         |    $buf = java.util.Arrays.copyOf($buf, $buf.length + 1);
         |  }
         |  $buf[$cnt++] = $xxh.hashUnsafeBytes($bytes, $off + $start,
         |    $bytes.length - $start, ${hashSeed}L);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($buf, $cnt));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): CdcChunksExpr = copy(child = newChild)
}

/** minhash minima over a pre-hashed shingle array: for seed j,
  * min over elements h of (h * mixA(j) + mixB(j)), long overflow wrapping.
  * One pass over the input instead of numHashes interpreted
  * array_min(transform(...)) evaluations. Empty input -> NULL. */
case class SeededMinArrayExpr(child: Expression,
                              mixA: Array[Long], mixB: Array[Long])
  extends UnaryExpression {

  // constructed internally over a transform(_, xxhash64) array<long> child
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // NULL on an empty input array even for a non-nullable child (see
  // CosineSimilarityExpr.nullable for the codegen hazard this avoids)
  override def nullable: Boolean = true
  override def prettyName: String = "seeded_min_array"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(mixA.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < mins.length) {
        val v = h * mixA(j) + mixB(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mixA", mixA, "long[]")
    val bRef = ctx.addReferenceObj("mixB", mixB, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      val n = ctx.freshName("n")
      s"""
         |final int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[$aRef.length];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h = $c.getLong($i);
         |    for (int $j = 0; $j < $mins.length; $j++) {
         |      long $v = $h * $aRef[$j] + $bRef[$j];
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): SeededMinArrayExpr = copy(child = newChild)
}

/** Portable MinHash signature in one pass: tokens joined with ' ' per
  * `shingleN`-window are MD5-hashed (UTF-8 bytes, no hex-string round
  * trip); the base hash is the decimal value of the first 15 md5 hex
  * chars — i.e. big-endian(bytes 0..7) >>> 4 — exactly
  * [[TextFunctions.portableHash64]] of the joined shingle string; seed
  * minima use the same wrapping affine mix as [[SeededMinArrayExpr]].
  * Bit-identical to the built-in composition
  * `SeededMinArrayExpr(transform(shingles(text, n), portableHash64))`
  * but ~7x faster: no interpreted HOF lambdas, no per-shingle string
  * concat, no hex parse. Never NULL for a non-null token array (empty
  * docs hash the empty string, matching shingles' fallback). */
case class PortableMinHashExpr(child: Expression, shingleN: Int,
                               mixA: Array[Long], mixB: Array[Long])
  extends UnaryExpression {

  // constructed internally over a split(normalized, "\\s+") array<string>
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "portable_minhash"

  override def nullSafeEval(input: Any): Any =
    PortableMinHash.signature(input.asInstanceOf[ArrayData], shingleN,
      mixA, mixB)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mixA", mixA, "long[]")
    val bRef = ctx.addReferenceObj("mixB", mixB, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PortableMinHash.signature(" +
        s"$c, $shingleN, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): PortableMinHashExpr = copy(child = newChild)
}

/** Shared md5-based 60-bit hashing for the portable workers: a thread-local
  * digest and the "first 15 hex nibbles as a long" extraction
  * (= big-endian bytes[0..7] >>> 4, exactly TextFunctions.portableHash64
  * of the hashed string). */
private[functions] object Md5Hash60 {
  val md: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  val HEXB: Array[Byte] = "0123456789ABCDEF".getBytes

  /** Extract the 60-bit value from a 16-byte md5 digest. */
  def first60(dig: Array[Byte]): Long = {
    var v = 0L
    var t = 0
    while (t < 8) { v = (v << 8) | (dig(t) & 0xffL); t += 1 }
    v >>> 4
  }
}

/** Row-local worker for [[PortableMinHashExpr]] — a static call keeps the
  * surrounding projection inside whole-stage codegen. */
object PortableMinHash {

  def signature(arr: ArrayData, shingleN: Int,
                mixA: Array[Long], mixB: Array[Long]): GenericArrayData = {
    val n0 = arr.numElements()
    val toks = new Array[Array[Byte]](n0)
    var m = 0
    var i = 0
    while (i < n0) {
      val s = arr.getUTF8String(i)
      if (s != null && s.numBytes() > 0) { toks(m) = s.getBytes; m += 1 }
      i += 1
    }
    val d = Md5Hash60.md.get()
    val mins = Array.fill(mixA.length)(Long.MaxValue)

    def update(h: Long): Unit = {
      var j = 0
      while (j < mins.length) {
        val v = h * mixA(j) + mixB(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    // md5 of the window tokens joined with ' '
    def hashWindow(s0: Int, len: Int): Long = {
      d.reset()
      var k = 0
      while (k < len) {
        if (k > 0) d.update(' '.toByte)
        d.update(toks(s0 + k))
        k += 1
      }
      Md5Hash60.first60(d.digest())
    }

    if (m < shingleN) update(hashWindow(0, m))
    else {
      var s0 = 0
      while (s0 <= m - shingleN) { update(hashWindow(s0, shingleN)); s0 += 1 }
    }
    new GenericArrayData(mins)
  }
}

/** Sign-bit LSH bucket over an array<float> vector: bit j of the result is
  * set when the dot product with hyperplane j is >= 0. Bit-identical to the
  * HOF form in [[VectorFunctions.signBucket]] (same left-to-right double
  * accumulation per plane, matching the DuckDB oracle's list_sum) but a
  * tight primitive loop instead of nBits interpreted zip_with/aggregate
  * passes — the bucketing pass over a 100 TB corpus is scan-bound, not
  * lambda-bound. Assumes the vector length equals the plane dimension
  * (callers guard via signBucketChecked). */
case class SignBucketExpr(child: Expression, planes: Array[Array[Double]])
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sign_bucket"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    SignBucket.bucket(arr, planes)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", planes, "double[][]")
    val j = ctx.freshName("j")
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    val p = ctx.freshName("p")
    val b = ctx.freshName("b")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |long $b = 0L;
         |for (int $j = 0; $j < $pRef.length; $j++) {
         |  double[] $p = $pRef[$j];
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $p.length; $i++) {
         |    $acc += ((double) $c.getFloat($i)) * $p[$i];
         |  }
         |  if ($acc >= 0.0) $b |= (1L << $j);
         |}
         |${ev.value} = $b;
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): SignBucketExpr = copy(child = newChild)
}

/** IVF coarse-quantizer assignment: index of the L2-nearest centroid
  * (ties -> lowest index). One tight nLists x dim primitive loop per row —
  * the corpus-assignment pass of [[graft.operators.Similarity.ivfBuild]]
  * stays scan-bound inside whole-stage codegen. Centroids are driver-side
  * literals (fitted on a bounded sample), so the expression is
  * deterministic and identical across executors. Assumes the vector length
  * equals the centroid dimension (callers guard, like signBucketChecked). */
case class NearestCentroidExpr(child: Expression,
                               centroids: Array[Array[Float]])
  extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(input: Any): Any =
    NearestCentroid.assign(input.asInstanceOf[ArrayData], centroids)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NearestCentroid.assign($c, $cRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidExpr = copy(child = newChild)
}

object NearestCentroid {
  def assign(arr: ArrayData, cents: Array[Array[Float]]): Int = {
    var bi = 0
    var bd = Double.MaxValue
    var j = 0
    while (j < cents.length) {
      val cv = cents(j)
      var acc = 0.0
      var i = 0
      while (i < cv.length) {
        val d = arr.getFloat(i).toDouble - cv(i).toDouble
        acc += d * d
        i += 1
      }
      if (acc < bd) { bd = acc; bi = j }
      j += 1
    }
    bi
  }
}

/** Integer-exact nearest-codeword over a SLICE of a long-array column:
  * argmin_j of sum_d (arr[offset+d] - centroids(j)(d))^2 in pure 64-bit
  * integer arithmetic, ties to the LOWEST j (strict `<`) — the
  * cross-engine-replayable convention of `Similarity.kmeansLloyd`. One
  * codegen call per subspace instead of a k-term `when` fold, so PQ
  * assignment stays compact at production code-book sizes (k = 256). */
case class NearestSubCentroidExpr(child: Expression, offset: Int,
                                  centroids: Array[Array[Long]])
  extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_sub_centroid"

  override def nullSafeEval(input: Any): Any =
    NearestSubCentroid.assign(input.asInstanceOf[ArrayData], offset, centroids)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NearestSubCentroid" +
        s".assign($c, $offset, $cRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestSubCentroidExpr = copy(child = newChild)
}

object NearestSubCentroid {
  def assign(arr: ArrayData, off: Int, cents: Array[Array[Long]]): Int = {
    var bi = 0
    var bd = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val cv = cents(j)
      var acc = 0L
      var i = 0
      while (i < cv.length) {
        val d = arr.getLong(off + i) - cv(i)
        acc += d * d
        i += 1
      }
      if (acc < bd) { bd = acc; bi = j }
      j += 1
    }
    bi
  }
}

object SignBucket {
  def bucket(arr: ArrayData, planes: Array[Array[Double]]): Long = {
    var b = 0L
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      var acc = 0.0
      var i = 0
      while (i < p.length) { acc += arr.getFloat(i).toDouble * p(i); i += 1 }
      if (acc >= 0.0) b |= (1L << j)
      j += 1
    }
    b
  }
}

/** SimHash over a tokenized document in ONE row-local codegen pass:
  * per-bit majority vote of the per-token hashes (XXH64 seed-42 over 63
  * bits, or the md5-derived portable 60-bit hash — exactly matching
  * `xxhash64()` / [[TextFunctions.portableHash64]] of each token).
  * Bit-identical to the explode -> 60/63-conditional-sum aggregate form
  * ([[graft.operators.Dedup.simhashAgg]], kept for the parity spec) but
  * with no explode, no shuffle and no aggregation: the majority vote only
  * ever needs a doc's OWN tokens, so it is a scalar of the row. Zero
  * tokens -> NULL (the aggregate form emits no row; callers filter). */
case class SimHashExpr(child: Expression, portable: Boolean)
  extends UnaryExpression {

  // constructed internally over a split(normalized, "\\s+") array<string>
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  // NULL on zero tokens even for a non-nullable child (see
  // CosineSimilarityExpr.nullable for the codegen hazard this avoids)
  override def nullable: Boolean = true
  override def prettyName: String = "simhash"

  override def nullSafeEval(input: Any): Any =
    SimHashWorker.compute(input.asInstanceOf[ArrayData], portable)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val res = ctx.freshName("res")
      s"""
         |java.lang.Long $res =
         |  graft.functions.SimHashWorker.compute($c, $portable);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SimHashExpr = copy(child = newChild)
}

/** Row-local worker for [[SimHashExpr]] — a static call keeps the
  * surrounding projection inside whole-stage codegen. Returns a boxed
  * Long (null = no tokens) so codegen can branch on it. */
object SimHashWorker {

  def compute(arr: ArrayData, portable: Boolean): java.lang.Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val nbits = if (portable) 60 else 63
    val counts = new Array[Int](nbits)
    val n = arr.numElements()
    var m = 0
    var i = 0
    if (portable) {
      val d = Md5Hash60.md.get()
      while (i < n) {
        val s = arr.getUTF8String(i)
        if (s != null && s.numBytes() > 0) {
          m += 1
          d.reset()
          d.update(s.getBytes)
          vote(counts, Md5Hash60.first60(d.digest()), nbits)
        }
        i += 1
      }
    } else {
      while (i < n) {
        val s = arr.getUTF8String(i)
        if (s != null && s.numBytes() > 0) {
          m += 1
          vote(counts, XXH64.hashUnsafeBytes(s.getBaseObject,
            s.getBaseOffset, s.numBytes(), 42L), nbits)
        }
        i += 1
      }
    }
    if (m == 0) return null
    var v = 0L
    var b = 0
    while (b < nbits) {
      if (counts(b) > 0) v |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(v)
  }

  private def vote(counts: Array[Int], h: Long, nbits: Int): Unit = {
    var b = 0
    while (b < nbits) {
      if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
      b += 1
    }
  }
}

/** Word n-gram repetition statistics in ONE row-local codegen pass:
  * `[total, distinct]` counts over the document's n-gram windows —
  * bit-identical to `size(shingles)` / `size(array_distinct(shingles))`
  * over [[TextFunctions.shingles]] (fewer tokens than n collapses to one
  * whole-document shingle, so total >= 1 always), but with no interpreted
  * transform/slice/concat lambdas and no joined-string allocation:
  * distinctness uses token-sequence equality (UTF8String element-wise),
  * which equals joined-string equality because tokens cannot contain the
  * joiner. NULL tokens array (NULL text) -> NULL. */
case class NgramStatsExpr(child: Expression, n: Int)
  extends UnaryExpression {

  // constructed internally over a split(normalized, "\\s+") array<string>
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ngram_stats"

  override def nullSafeEval(input: Any): Any =
    NgramStats.compute(input.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NgramStats.compute($c, $n);")

  override protected def withNewChildInternal(
      newChild: Expression): NgramStatsExpr = copy(child = newChild)
}

object NgramStats {
  def compute(arr: ArrayData, n: Int): GenericArrayData = {
    val n0 = arr.numElements()
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](n0)
    var m = 0
    var i = 0
    while (i < n0) {
      val s = arr.getUTF8String(i)
      if (s != null && s.numBytes() > 0) { toks(m) = s; m += 1 }
      i += 1
    }
    if (m < n) return new GenericArrayData(Array(1L, 1L)) // whole-doc shingle
    val total = m - n + 1
    val seen = new java.util.HashSet[java.util.List[
      org.apache.spark.unsafe.types.UTF8String]](total * 2)
    var s0 = 0
    while (s0 < total) {
      val w = new java.util.ArrayList[
        org.apache.spark.unsafe.types.UTF8String](n)
      var k = 0
      while (k < n) { w.add(toks(s0 + k)); k += 1 }
      seen.add(w)
      s0 += 1
    }
    new GenericArrayData(Array(total.toLong, seen.size.toLong))
  }
}

/** Heuristic language-ID over raw text in ONE codegen pass. Bit-identical
  * to the HOF reference form ([[TextFunctions.langIdHof]]): tokens are
  * maximal runs of non-`\s` bytes (multibyte UTF-8 units are never ASCII
  * whitespace, so the byte scan equals the `split("\\s+")` + non-empty
  * filter), each language's score is its exact-match marker-hit count, and
  * the winner is the first language in [[TextFunctions.langMarkers]] order
  * with the maximal positive score. All-zero scores -> "und". NULL text ->
  * NULL (callers coalesce to "und", matching the HOF chain's fall-through).
  * Replaces a plan that re-evaluated ~40 `split(text)` HOF lambdas per row
  * (round-3 verdict: q43 at 30 s) with one scan. */
case class LangIdExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lang_id"

  override def nullSafeEval(input: Any): Any =
    TextScore.langId(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextScore.langId($c);")

  override protected def withNewChildInternal(
      newChild: Expression): LangIdExpr = copy(child = newChild)
}

/** Unrounded composite quality score in one codegen pass — the argument of
  * [[TextFunctions.qualityScore]]'s final `round(_, 4)` (the round stays a
  * Column op so its BigDecimal HALF_UP semantics are Spark's own).
  * Bit-identical to the HOF form: same token/stopword counts as
  * [[LangIdExpr]], alpha ratio = ASCII-letter chars / code points, and the
  * identical double-op order `min(tc/100,1)*0.4 + alpha*0.4 +
  * min(swr*5,1)*0.2`. NULL text -> NULL (the HOF form also yields NULL:
  * its alphaRatio term is NULL-propagating). */
case class QualityRawExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quality_raw"

  override def nullSafeEval(input: Any): Any =
    TextScore.qualityRaw(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextScore.qualityRaw($c);")

  override protected def withNewChildInternal(
      newChild: Expression): QualityRawExpr = copy(child = newChild)
}

/** Row-local worker for [[LangIdExpr]] / [[QualityRawExpr]] — static calls
  * keep the surrounding projection inside whole-stage codegen. Marker
  * tables derive from [[TextFunctions.langMarkers]] (single source of
  * truth with the HOF forms and the DuckDB oracle SQL). */
object TextScore {

  private val langs: Array[org.apache.spark.unsafe.types.UTF8String] =
    TextFunctions.langMarkers.map(m =>
      org.apache.spark.unsafe.types.UTF8String.fromString(m._1)).toArray
  private val markers: Array[Array[Array[Byte]]] =
    TextFunctions.langMarkers.map(_._2.map(
      _.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray).toArray
  private val enMarkers: Array[Array[Byte]] = markers(0)
  private val und = org.apache.spark.unsafe.types.UTF8String.fromString("und")

  // Java regex \s = [ \t\n\x0B\f\r] (ASCII-only without UNICODE flags)
  private def isWs(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)

  private def tokenEq(bytes: Array[Byte], start: Int, len: Int,
                      w: Array[Byte]): Boolean = {
    if (w.length != len) return false
    var k = 0
    while (k < len) {
      if (bytes(start + k) != w(k)) return false
      k += 1
    }
    true
  }

  def langId(s: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.unsafe.types.UTF8String = {
    val bytes = s.getBytes
    val n = bytes.length
    val scores = new Array[Int](markers.length)
    var i = 0
    while (i < n) {
      if (isWs(bytes(i))) i += 1
      else {
        var j = i + 1
        while (j < n && !isWs(bytes(j))) j += 1
        val len = j - i
        var l = 0
        while (l < markers.length) {
          val ws = markers(l)
          var w = 0
          var hit = false
          while (w < ws.length && !hit) {
            if (tokenEq(bytes, i, len, ws(w))) hit = true
            w += 1
          }
          if (hit) scores(l) += 1
          l += 1
        }
        i = j
      }
    }
    var best = 0
    var l = 0
    while (l < scores.length) {
      if (scores(l) > best) best = scores(l)
      l += 1
    }
    if (best == 0) return und
    l = 0
    while (l < scores.length) {
      if (scores(l) == best) return langs(l)
      l += 1
    }
    und
  }

  def qualityRaw(s: org.apache.spark.unsafe.types.UTF8String): Double = {
    val bytes = s.getBytes
    val n = bytes.length
    var cp = 0     // code points (= Spark length())
    var alpha = 0  // ASCII letters
    var tc = 0     // tokens
    var stop = 0   // en-marker tokens
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b & 0xc0) != 0x80) cp += 1 // not a UTF-8 continuation byte
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) alpha += 1
      i += 1
    }
    i = 0
    while (i < n) {
      if (isWs(bytes(i))) i += 1
      else {
        var j = i + 1
        while (j < n && !isWs(bytes(j))) j += 1
        tc += 1
        val len = j - i
        var w = 0
        while (w < enMarkers.length) {
          if (tokenEq(bytes, i, len, enMarkers(w))) {
            stop += 1
            w = enMarkers.length
          } else w += 1
        }
        i = j
      }
    }
    val alphaRatio = if (cp == 0) 0.0 else alpha.toDouble / cp.toDouble
    val swr = if (tc == 0) 0.0 else stop.toDouble / tc.toDouble
    math.min(tc.toDouble / 100.0, 1.0) * 0.4 + alphaRatio * 0.4 +
      math.min(swr * 5.0, 1.0) * 0.2
  }
}

/** Portable-fingerprint worker for [[CdcChunksExpr]]: identical chunk
  * BOUNDARIES (the rolling (h<<1)+b mask test), but each chunk is
  * fingerprinted as the first 60 bits of md5 over the UPPERCASE HEX
  * encoding of its bytes — DuckDB 1.0 cannot md5 a BLOB, so both engines
  * hash the hex form (the q39 frame-hash trick). The oracle recomputes
  * boundaries positionally: (h & 63) depends only on the trailing 6 bytes
  * (higher shifts vanish mod 2^maskBits), so candidates are a window
  * expression and the min-chunk rule is a greedy scan over them. */
object CdcChunksPortable {

  def chunks(bytes: Array[Byte], minChunk: Int, mask: Long): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h << 1) + (bytes(i) & 0xff)
      if (i - start + 1 >= minChunk && (h & mask) == 0L) {
        out += fp(bytes, start, i - start + 1)
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < bytes.length || bytes.isEmpty)
      out += fp(bytes, start, bytes.length - start)
    new GenericArrayData(out.toArray)
  }

  private def fp(bytes: Array[Byte], off: Int, len: Int): Long = {
    val d = Md5Hash60.md.get()
    d.reset()
    val hex = new Array[Byte](len * 2)
    var k = 0
    while (k < len) {
      val b = bytes(off + k) & 0xff
      hex(2 * k) = Md5Hash60.HEXB(b >> 4)
      hex(2 * k + 1) = Md5Hash60.HEXB(b & 15)
      k += 1
    }
    d.update(hex)
    Md5Hash60.first60(d.digest())
  }
}

/** `bloom.mightContain(key)` as a codegen expression over a driver-built
  * [[org.apache.spark.util.sketch.BloomFilter]] — the probe side of the
  * bloom-prefiltered semi/anti join ([[graft.operators.Joins.bloomSemiJoin]]).
  * The filter object rides the serialized plan (one copy per stage via the
  * task-binary broadcast, NOT one per row or task), and the probe runs
  * inside whole-stage codegen on the scan, i.e. BEFORE any exchange — the
  * entire point of the operator. Supports the two key shapes bloom
  * construction supports: integral keys probe `mightContainLong`, string
  * keys probe `mightContainBinary` over the UTF-8 bytes (bit-compatible
  * with `DataFrameStatFunctions.bloomFilter`'s `putString`/`putLong`). */
case class BloomMightContainExpr(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter)
  extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  private def isString = child.dataType == StringType

  override def nullSafeEval(input: Any): Any =
    if (isString)
      bloom.mightContainBinary(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    else bloom.mightContainLong(input match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case s: java.lang.Short => s.longValue()
      case b: java.lang.Byte => b.longValue()
      case other => throw new IllegalStateException(
        s"unsupported bloom key: $other (${child.dataType})")
    })

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c =>
      if (isString) s"${ev.value} = $ref.mightContainBinary($c.getBytes());"
      else s"${ev.value} = $ref.mightContainLong((long) $c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BloomMightContainExpr = copy(child = newChild)
}

/** Membership of a string column in a SORTED driver-built key array —
  * the refresh trigger's exact-tier drop filter. The hit set (confirmed
  * duplicate fingerprints) is bounded by the micro-batch contract, so a
  * binary search against an expression-held sorted array replaces a
  * whole anti-join subtree (exchange + join stage per trigger) with one
  * row-local codegen'd probe. Keys MUST be sorted by
  * [[org.apache.spark.unsafe.types.UTF8String]]'s binary order (see
  * [[Utf8SortedKeys.sorted]]). NULL in, NULL out. */
case class Utf8InSortedArrayExpr(child: Expression,
    keys: Array[org.apache.spark.unsafe.types.UTF8String])
  extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "in_sorted_utf8"

  override def nullSafeEval(input: Any): Any =
    Utf8SortedKeys.contains(keys,
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedKeys", keys,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Utf8SortedKeys.contains($ref, $c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Utf8InSortedArrayExpr = copy(child = newChild)
}

object Utf8SortedKeys {
  /** Sort driver-side strings into the binary order [[contains]] probes
    * with (UTF8String.compareTo). */
  def sorted(keys: Array[String])
      : Array[org.apache.spark.unsafe.types.UTF8String] =
    keys.distinct
      .map(org.apache.spark.unsafe.types.UTF8String.fromString)
      .sortWith(_.compareTo(_) < 0)

  def contains(keys: Array[org.apache.spark.unsafe.types.UTF8String],
               v: org.apache.spark.unsafe.types.UTF8String): Boolean = {
    var lo = 0
    var hi = keys.length - 1
    while (lo <= hi) {
      val m = (lo + hi) >>> 1
      val c = keys(m).compareTo(v)
      if (c == 0) return true
      else if (c < 0) lo = m + 1
      else hi = m - 1
    }
    false
  }
}

/** Integer-exact squared-L2 distance over two array<long> unit vectors —
  * sum((a-b)^2) as one codegen loop. The `aggregate(zip_with(...))` HOF
  * form evaluates its lambdas interpreted, once per ELEMENT; at a
  * 100k-corpus brute-force recall gate (1.6M pairs x 64 dims) that is
  * ~100 s of lambda dispatch for what is one fused multiply-add loop.
  * Arithmetic is IDENTICAL to the HOF form (long multiply-add, order
  * irrelevant), so every oracle replay is unaffected. NULL when either
  * side is NULL or lengths differ (zip_with's null-pad would poison the
  * sum the same way). Inputs are analysis-checked as array<long> — the
  * unsafe getLong reads would otherwise reinterpret an array<int>
  * bytewise into garbage distances with no error. */
case class L2UnitsDistExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // length mismatch -> NULL
  override def prettyName: String = "l2_units_dist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      var acc = 0L
      var i = 0
      val n = x.numElements()
      while (i < n) {
        val d = x.getLong(i) - y.getLong(i)
        acc += d * d
        i += 1
      }
      acc
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2UnitsDistExpr =
    copy(left = newLeft, right = newRight)
}

/** PQ asymmetric-distance (ADC): squared L2 between a full-dim integer
  * unit vector and the codebook reconstruction of a code array —
  * sum over subspaces s of sum_d (vec[s*subDim+d] -
  * centroids[s][codes[s]][d])^2 — as ONE codegen loop over the
  * broadcast-literal codebook. Replaces a per-subspace chain of
  * interpreted `aggregate(zip_with(slice, element_at(...)))` lambdas on
  * the ADC hot path (every candidate row of every probe). Arithmetic
  * identical to the HOF chain; out-of-range codes fail loudly (the
  * upstream pqQuery guard's contract — silent NULLs would drop rows
  * from rankings under ansi=false). Inputs are analysis-checked
  * (vec: array<long>, codes: array<int>) — the unsafe getLong/getInt
  * reads would otherwise reinterpret a foreign column's bytes. */
case class PqAdcDistExpr(vec: Expression, codes: Expression,
                         centroids: Array[Array[Array[Long]]])
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(IntegerType))
  override def left: Expression = vec
  override def right: Expression = codes
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc_dist"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqAdcCodec.dist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      centroids)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCents", centroids, "long[][][]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PqAdcCodec.dist($a, $b, $ref);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDistExpr =
    copy(vec = newLeft, codes = newRight)
}

object PqAdcCodec {
  /** Shared interpreted/codegen ADC kernel. Fail-loud on shape drift:
    * wrong code count or an out-of-range code means the codes column
    * does not belong to this codebook. */
  def dist(vec: ArrayData, codes: ArrayData,
           centroids: Array[Array[Array[Long]]]): Long = {
    val subDim = checkShape(vec.numElements(), codes, centroids)
    var acc = 0L
    var s = 0
    while (s < centroids.length) {
      val cw = codeword(codes, s, centroids)
      var d = 0
      val off = s * subDim
      while (d < subDim) {
        val diff = vec.getLong(off + d) - cw(d)
        acc += diff * diff
        d += 1
      }
      s += 1
    }
    acc
  }

  /** [[dist]] over a driver-built unit vector: the same checks and the
    * same wrapping long arithmetic, for the driver-planned probe path. */
  def dist(vec: Array[Long], codes: ArrayData,
           centroids: Array[Array[Array[Long]]]): Long = {
    val subDim = checkShape(vec.length, codes, centroids)
    var acc = 0L
    var s = 0
    while (s < centroids.length) {
      val cw = codeword(codes, s, centroids)
      var d = 0
      val off = s * subDim
      while (d < subDim) {
        val diff = vec(off + d) - cw(d)
        acc += diff * diff
        d += 1
      }
      s += 1
    }
    acc
  }

  /** The codebook's subspace width, after checking the code count and
    * the vector dimension. */
  private def checkShape(dim: Int, codes: ArrayData,
                         centroids: Array[Array[Array[Long]]]): Int = {
    val m = centroids.length
    if (codes.numElements() != m) throw new IllegalStateException(
      s"pq_adc_dist: ${codes.numElements()} codes for m=$m subspaces")
    val subDim = centroids(0)(0).length
    if (dim != m * subDim) throw new IllegalStateException(
      s"pq_adc_dist: vector dim $dim != ${m * subDim}")
    subDim
  }

  private def codeword(codes: ArrayData, s: Int,
                       centroids: Array[Array[Array[Long]]]): Array[Long] = {
    val code = codes.getInt(s)
    if (code < 0 || code >= centroids(s).length)
      throw new IllegalStateException(
        s"pq_adc_dist: code $code out of range for subspace $s")
    centroids(s)(code)
  }
}

/** Byte-level BPE token count: the ENTIRE ~1k-merge chain applied in one
  * pass per row (`reference [[Bpe.encodeBytesStr]]` replace-chain
  * semantics: merges in rank order, each as a left-to-right
  * non-overlapping replacement). A Column-level chain of 1k `replace`
  * calls would blow codegen/analyzer limits; this expression keeps the
  * whole encoder inside whole-stage codegen as one static call.
  *
  * Correctness of the single-pass form: merge j's pair members are
  * symbols older than j and a merge never deletes symbols, so no later
  * merge can create an earlier pair's adjacency — applying ranks
  * 0..n-1 once each IS the fixed point of the rank-order chain (pinned
  * against the reference encoder in BpeSpec).
  *
  * Cost: O(merges x len) worst case, cut hard by a symbol-presence
  * bitmap (a rank whose pair members don't both occur in the row is
  * skipped in O(1)). Row-local, zero shuffle — the 100 TB shape. */
case class BpeByteCountExpr(child: Expression,
                            pairA: Array[Int], pairB: Array[Int])
  extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_byte_count"

  // compiled merge table, built once per expression instance on the
  // driver and shipped via the task-binary broadcast like the decode
  // expansions table
  private val vocab = new BpeByteCodec.Vocab(pairA, pairB)

  override def nullSafeEval(input: Any): Any =
    BpeByteCodec.count(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      vocab)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vRef = ctx.addReferenceObj("bpeVocab", vocab,
      classOf[BpeByteCodec.Vocab].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeByteCodec.count($c, $vRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeByteCountExpr = copy(child = newChild)
}

object BpeByteCodec {

  /** The merge table compiled for encoding: an open-addressing
    * (pair -> earliest rank) map, built once per expression instance on
    * the driver and shipped with the task binary (~16 KB at 1k merges,
    * the [[BpeByteDecodeExpr]] expansions-table discipline). "Earliest
    * rank" preserves the degenerate duplicate-pair case exactly: under
    * the sequential replace chain a later duplicate rank can never fire
    * (its pair is consumed by the earlier one and pair components only
    * ever grow), so mapping every occurrence to the FIRST rank is the
    * chain's fixed point. A pair packs into one Int key as
    * `(a << 16) | b`, which is collision-free only while every symbol
    * id fits 16 bits and `(0xFFFF, 0xFFFF)` (== the -1 empty-slot
    * sentinel) cannot occur — so the largest symbol id, 255 + merges,
    * must be at most 0xFFFE; a larger table fails here instead of
    * mis-tokenizing silently. */
  final class Vocab(val pairA: Array[Int],
                    val pairB: Array[Int]) extends Serializable {
    require(pairA.length == pairB.length)
    val nMerges: Int = pairA.length
    require(255L + nMerges <= 0xFFFE,
      s"byte-BPE vocab of $nMerges merges has symbol ids up to " +
        s"${255L + nMerges}, past the 16-bit pair-key limit 0xFFFE " +
        s"(at most ${0xFFFE - 255} merges)")
    // capacity: power of two >= 2x entries (load factor <= 0.5)
    private val cap: Int = {
      var c = 16
      while (c < 2 * math.max(nMerges, 1)) c <<= 1
      c
    }
    private val mask = cap - 1
    private[BpeByteCodec] val keys = {
      val k = new Array[Int](cap)
      java.util.Arrays.fill(k, -1)
      k
    }
    private[BpeByteCodec] val vals = new Array[Int](cap)
    locally {
      var j = 0
      while (j < nMerges) {
        val key = (pairA(j) << 16) | pairB(j)
        var i = (key * 0x9E3779B9.toInt >>> (32 - Integer
          .numberOfTrailingZeros(cap))) & mask
        var done = false
        while (!done) {
          if (keys(i) == key) done = true // duplicate pair: first rank wins
          else if (keys(i) == -1) { keys(i) = key; vals(i) = j; done = true }
          else i = (i + 1) & mask
        }
        j += 1
      }
    }
    /** Rank of merge pair (a, b), or -1. */
    def rank(a: Int, b: Int): Int = {
      val key = (a << 16) | b
      var i = (key * 0x9E3779B9.toInt >>> (32 - Integer
        .numberOfTrailingZeros(cap))) & mask
      while (true) {
        val k = keys(i)
        if (k == key) return vals(i)
        if (k == -1) return -1
        i = (i + 1) & mask
      }
      -1
    }
  }

  /** Token count after the full merge chain — the trimmed length of
    * [[merge]]'s symbol buffer, sharing ONE loop with [[ids]] so the two
    * surfaces cannot drift. */
  def count(u: org.apache.spark.unsafe.types.UTF8String,
            vocab: Vocab): Int =
    merge(u, vocab)._2

  /** The token-id array itself (what a training shard physically holds):
    * base symbols = byte values 0..255, merge rank j = id 256+j — the
    * same id space [[graft.functions.Bpe.symbolOf]] defines for the
    * committed table. Returned as an UnsafeArrayData copy of the trimmed
    * merge buffer. */
  def ids(u: org.apache.spark.unsafe.types.UTF8String,
          vocab: Vocab): ArrayData = {
    val (s, n) = merge(u, vocab)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(s, n))
  }

  /** Per-call-table forms (tests / one-off callers): builds the Vocab
    * each call — O(merges), fine off the hot path. */
  def count(u: org.apache.spark.unsafe.types.UTF8String,
            pairA: Array[Int], pairB: Array[Int]): Int =
    count(u, new Vocab(pairA, pairB))

  def ids(u: org.apache.spark.unsafe.types.UTF8String,
          pairA: Array[Int], pairB: Array[Int]): ArrayData =
    ids(u, new Vocab(pairA, pairB))

  private val empty = new Array[Int](0)

  /** Per-symbol byte expansions for [[BpeByteDecodeExpr]]: index = symbol
    * id, value = the byte sequence it stands for. Built in rank order —
    * merge j's members are symbols < 256 + j, so their expansions already
    * exist when j's is concatenated. */
  def expansions(pairA: Array[Int], pairB: Array[Int]): Array[Array[Byte]] = {
    val t = new Array[Array[Byte]](256 + pairA.length)
    var b = 0
    while (b < 256) { t(b) = Array(b.toByte); b += 1 }
    var j = 0
    while (j < pairA.length) {
      t(256 + j) = t(pairA(j)) ++ t(pairB(j))
      j += 1
    }
    t
  }

  /** Token ids back to text: one flat byte copy per token. Throws on an
    * id outside the table — a shard encoded under a different vocabulary
    * must fail, not decode to garbage. */
  def decode(ids: ArrayData,
             table: Array[Array[Byte]]): org.apache.spark.unsafe.types.UTF8String = {
    val n = ids.numElements()
    var total = 0
    var i = 0
    while (i < n) {
      val id = ids.getInt(i)
      if (id < 0 || id >= table.length) throw new IllegalStateException(
        s"bpe_byte_decode: token id $id outside symbol space ${table.length}")
      total += table(id).length
      i += 1
    }
    val out = new Array[Byte](total)
    var w = 0
    i = 0
    while (i < n) {
      val e = table(ids.getInt(i))
      System.arraycopy(e, 0, out, w, e.length)
      w += e.length
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
  }

  /** Symbols after the full merge chain over the UTF-8 bytes of `u`:
    * (buffer, length) — the buffer is over-allocated, only the first
    * `length` entries are tokens. Base symbols = byte values 0..255;
    * merge rank j = symbol 256+j.
    *
    * Rank-bucketed encoder, O(n + applied log n) instead of the
    * previous O(merges x n) full pass per present rank: the sequence is
    * a doubly linked list over the position array, every adjacent pair
    * that IS a merge pair sits in a min-heap keyed (rank, position),
    * and popping in that order reproduces the sequential rank-order
    * left-to-right chain EXACTLY:
    *  - (rank, position) ascending == "apply rank 0 everywhere left to
    *    right, then rank 1, ..." — the chain's visit order;
    *  - a popped entry whose nodes no longer spell (a_r, b_r) is stale
    *    — some earlier pop consumed a member — and is skipped, which is
    *    precisely the chain's non-overlap rule (verified on "aaa");
    *  - applying rank r never creates another rank-r adjacency (the
    *    merged symbol 256+r is newer than both members), so new
    *    adjacencies push only LATER ranks — one pass over the heap
    *    suffices;
    *  - a pair can never REAPPEAR at a position once broken: a node's
    *    symbol only grows (merges assign newer symbols) and its
    *    successor node only changes by a merge at the node itself, so
    *    every (position, pair) state is examined exactly once — each
    *    merge pushes at most its two new neighbor pairs, bounding the
    *    heap at n + 2 x applied entries. */
  private def merge(u: org.apache.spark.unsafe.types.UTF8String,
                    vocab: Vocab): (Array[Int], Int) = {
    val bytes = u.getBytes
    val n = bytes.length
    if (n == 0) return (empty, 0)
    val s = new Array[Int](n)
    var i = 0
    while (i < n) { s(i) = bytes(i) & 0xff; i += 1 }
    if (n == 1 || vocab.nMerges == 0) return (s, n)
    val next = new Array[Int](n)
    val prev = new Array[Int](n)
    i = 0
    while (i < n) { next(i) = i + 1; prev(i) = i - 1; i += 1 }
    next(n - 1) = -1
    // per-rank position buckets: one ascending sweep over ranks,
    // positions sorted per bucket at visit time. No priority queue —
    // a merge's new adjacencies always belong to STRICTLY later ranks
    // (the merged symbol postdates both pair members), so a bucket is
    // complete when the sweep reaches it.
    val nm = vocab.nMerges
    val counts = new Array[Int](nm)
    val buckets = new Array[Array[Int]](nm)
    def put(r: Int, pos: Int): Unit = {
      var b = buckets(r)
      if (b == null) { b = new Array[Int](8); buckets(r) = b }
      else if (counts(r) == b.length) {
        b = java.util.Arrays.copyOf(b, b.length * 2); buckets(r) = b
      }
      b(counts(r)) = pos
      counts(r) += 1
    }
    i = 0
    while (i < n - 1) {
      val r = vocab.rank(s(i), s(i + 1))
      if (r >= 0) put(r, i)
      i += 1
    }
    var r = 0
    while (r < nm) {
      val cnt = counts(r)
      if (cnt > 0) {
        val b = buckets(r)
        // left-to-right within the rank (init-scan entries arrive
        // ascending, created entries in merge order — sort restores
        // the chain's visit order)
        java.util.Arrays.sort(b, 0, cnt)
        val a = vocab.pairA(r)
        val bb = vocab.pairB(r)
        var k = 0
        while (k < cnt) {
          val p = b(k)
          // stale unless the nodes still spell exactly this pair
          if (s(p) == a) {
            val q = next(p)
            if (q >= 0 && s(q) == bb) {
              s(p) = 256 + r
              val qn = next(q)
              next(p) = qn
              if (qn >= 0) prev(qn) = p
              s(q) = -1 // dead
              val pp = prev(p)
              if (pp >= 0) {
                val r2 = vocab.rank(s(pp), s(p))
                if (r2 >= 0) put(r2, pp)
              }
              if (qn >= 0) {
                val r3 = vocab.rank(s(p), s(qn))
                if (r3 >= 0) put(r3, p)
              }
            }
          }
          k += 1
        }
      }
      r += 1
    }
    // compact the survivors in place, list order == index order
    var w = 0
    i = 0
    while (i < n) {
      if (s(i) >= 0) { s(w) = s(i); w += 1 }
      i += 1
    }
    (s, w)
  }
}

/** Byte-level BPE token DECODE — the loader side of the tokenizer: an
  * array<int> of token ids back to the text it encodes. Each id expands
  * through the committed merge table (id < 256 is its byte; id 256+j
  * expands to merge j's pair, recursively) — pair members always predate
  * their merge, so expansion terminates and a precomputed per-symbol
  * byte table makes decode a flat array copy per token. Exact inverse of
  * [[BpeByteIdsExpr]] by construction: decode(encode(text)) == text for
  * any byte sequence. NULL in, NULL out; empty array -> empty string.
  * Fail-loud on ids outside the symbol space (a foreign vocabulary's
  * shard must not silently decode to garbage). The ids input is
  * analysis-checked as array<int> — an array<bigint> shard (foreign
  * parquet, literal Seq[Long]) would otherwise be reinterpreted
  * bytewise instead of failing. */
case class BpeByteDecodeExpr(child: Expression,
                             pairA: Array[Int], pairB: Array[Int])
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(IntegerType))
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_byte_decode"

  // one expansion table per expression instance, built once on the
  // driver and shipped via the task-binary broadcast like the pair
  // arrays themselves
  private val table: Array[Array[Byte]] = BpeByteCodec.expansions(pairA, pairB)

  override def nullSafeEval(input: Any): Any =
    BpeByteCodec.decode(input.asInstanceOf[ArrayData], table)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("bpeExp", table, "byte[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeByteCodec.decode($c, $tRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeByteDecodeExpr = copy(child = newChild)
}

/** Byte-level BPE token IDS: the same single-pass merge chain as
  * [[BpeByteCountExpr]] (one shared loop in [[BpeByteCodec.merge]]), but
  * returning the token-id array itself — the payload a training shard
  * physically contains. Id space: bytes 0..255, merge rank j = 256+j.
  * Row-local, inside whole-stage codegen, zero shuffle. NULL in, NULL
  * out; empty string -> empty array. */
case class BpeByteIdsExpr(child: Expression,
                          pairA: Array[Int], pairB: Array[Int])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_byte_ids"

  // compiled merge table — see BpeByteCountExpr
  private val vocab = new BpeByteCodec.Vocab(pairA, pairB)

  override def nullSafeEval(input: Any): Any =
    BpeByteCodec.ids(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      vocab)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vRef = ctx.addReferenceObj("bpeVocab", vocab,
      classOf[BpeByteCodec.Vocab].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeByteCodec.ids($c, $vRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeByteIdsExpr = copy(child = newChild)
}
