package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Approximate-nearest-neighbor search over an embedding column
  * (BASELINE.json north_star; `embeddings.parquet`: `vec_id,
  * embedding: array<float>, label`).
  *
  * Two tiers:
  *  - [[bruteForceTopK]] — the exact baseline: broadcast the (small) probe
  *    set against the corpus; cost O(|corpus| * |probes|), fully codegen'd,
  *    embarrassingly parallel, no shuffle except the final per-probe top-k.
  *  - [[lshTopK]] — the scale path: sign-LSH bucket the corpus once
  *    (a cheap narrow map), join probes to their bucket (one shuffle on the
  *    bucket key), rank within buckets. At 100 TB the corpus-side bucketing
  *    is written once and reused across probe batches.
  */
object Similarity {

  /** All XOR masks over `nBits` bits with popcount <= radius, ascending —
    * i.e. the Hamming ball of the multiprobe expansion. Enumerated by bit
    * combinations (driver-side), so cost is C(nBits, <=radius), not
    * 2^nBits. */
  private[graft] def hammingMasks(nBits: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && nBits >= 1 && nBits <= 62)
    (0 to math.min(radius, nBits)).flatMap(r =>
      (0 until nBits).combinations(r)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq)
  }

  /** Partition-local exact top-k pruning over a (probe_id, neighbor_id,
    * cos) frame: each input partition keeps only its own k best per probe
    * (bounded heaps, full (cos desc, neighbor asc) ordering so ties at the
    * boundary are never mis-evicted) BEFORE anything is shuffled. The
    * global top-k is a subset of the union of local top-ks, so the final
    * window ranks at most partitions*probes*k rows instead of the full
    * scored volume — at 100 TB this turns the ranking shuffle from
    * |corpus|x|probes| into noise. */
  private def localThenGlobalTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import scala.collection.mutable
    // PriorityQueue dequeues its ordering's MAX; rank the worst element as
    // max (lowest cos, then largest neighbor id) so the heap head is the
    // eviction candidate — mirroring the final window's ordering exactly,
    // including numeric ids (zero-padded strings would mis-order negatives)
    def cmpIds(x: Any, y: Any): Int = (x, y) match {
      case (a: Number, b: Number) =>
        // doubleValue first (fractional ids), longValue to break 2^53+ ties
        val c = java.lang.Double.compare(a.doubleValue(), b.doubleValue())
        if (c != 0) c else java.lang.Long.compare(a.longValue(), b.longValue())
      case _ =>
        // Spark windows order strings by UTF8 binary order, not UTF-16
        org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf(x))
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(String.valueOf(y)))
    }
    val worstFirst: Ordering[Row] = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        val c = java.lang.Double.compare(b.getDouble(2), a.getDouble(2))
        if (c != 0) c else cmpIds(a.get(1), b.get(1))
      }
    }
    implicit val enc = org.apache.spark.sql.Encoders.row(scored.schema)
    val pruned = scored.mapPartitions { it =>
      val heaps = mutable.HashMap.empty[Any, mutable.PriorityQueue[Row]]
      it.foreach { r =>
        val h = heaps.getOrElseUpdate(r.get(0),
          mutable.PriorityQueue.empty(worstFirst))
        if (h.size < k) h.enqueue(r)
        else if (worstFirst.lt(r, h.head)) { h.dequeue(); h.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    pruned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact top-k cosine neighbors for each probe. Probes are broadcast —
    * the corpus is never shuffled; scored pairs are pruned to k-per-probe
    * inside each scan partition before the (now tiny) ranking exchange.
    * Ties break deterministically by neighbor id. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        V.cosineFast(col("pv"), col("cv")).as("cos"))
    localThenGlobalTopK(scored, k)
  }

  /** Contrastive hard-negative mining: for each probe, the k MOST
    * similar corpus rows whose `labelCol` DIFFERS from the probe's —
    * the negatives that sit closest to the decision boundary, which is
    * what contrastive / embedding-model training wants (random
    * negatives are too easy to teach anything).
    *
    * Same scale discipline as [[bruteForceTopK]]: probes broadcast,
    * corpus scanned once, partition-local k-heaps before the tiny
    * ranking exchange. Rows with NULL labels on either side are
    * excluded — an unknown label is not evidence of a negative. For
    * corpus-scale probe sets, run over [[pqEncode]] codes with
    * [[pqQuery]] semantics instead. */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, k: Int,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id",
                    labelCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("__nl"))
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("pv"), col(labelCol).as("__pl"))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("probe_id") &&
        col("__nl").isNotNull && col("__pl").isNotNull &&
        col("__nl") =!= col("__pl"))
      .select(col("probe_id"), col("neighbor_id"),
        V.cosineFast(col("pv"), col("cv")).as("cos"))
    localThenGlobalTopK(scored, k)
  }

  /** A prebuilt IVF (inverted-file) index: the corpus assigned to `nLists`
    * inverted lists by a seeded k-means coarse quantizer, plus the tiny
    * centroid table. BUILD ONCE, PROBE MANY: at 100 TB, `assigned` is
    * written to storage `partitionBy("__list")` once and every probe batch
    * reads only its `nProbe` list-partitions — the k-means fit and the
    * corpus assignment pass are amortized across all future queries
    * instead of re-run per call. */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame,
                            nLists: Int)

  /** Deterministic seeded k-means (k-means++ init + Lloyd's), fitted
    * DRIVER-SIDE on a bounded sample — the standard coarse-quantizer
    * recipe (FAISS trains its IVF quantizer on a sample too): quantizer
    * quality needs a representative sample, not the corpus, so only
    * `trainSample` vectors ever reach the driver regardless of corpus
    * size. Empty clusters keep their previous center. Returns float
    * centroids (the corpus element type). */
  private[graft] def fitCentroids(pts: Array[Array[Float]], k: Int,
                                  seed: Long, maxIter: Int): Array[Array[Float]] = {
    require(pts.nonEmpty, "cannot fit a quantizer on an empty sample")
    val dim = pts(0).length
    val n = pts.length
    def l2sq(a: Array[Double], p: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < dim) { val d = a(i) - p(i); acc += d * d; i += 1 }
      acc
    }
    val rng = new scala.util.Random(seed)
    val centers = Array.ofDim[Double](k, dim)
    if (n <= k) {
      // degenerate: cycle the sample; no iterations needed
      for (j <- 0 until k; i <- 0 until dim) centers(j)(i) = pts(j % n)(i)
    } else {
      // k-means++ seeding: subsequent centers drawn with prob ~ D^2
      val d2 = new Array[Double](n)
      val first = pts(rng.nextInt(n))
      for (i <- 0 until dim) centers(0)(i) = first(i)
      for (i <- 0 until n) d2(i) = l2sq(centers(0), pts(i))
      for (j <- 1 until k) {
        val total = d2.sum
        var pick = 0
        if (total > 0.0) {
          var r = rng.nextDouble() * total
          var i = 0
          while (i < n - 1 && r >= d2(i)) { r -= d2(i); i += 1 }
          pick = i
        } else pick = rng.nextInt(n) // all-identical sample
        for (i <- 0 until dim) centers(j)(i) = pts(pick)(i)
        for (i <- 0 until n) d2(i) = math.min(d2(i), l2sq(centers(j), pts(i)))
      }
      // Lloyd's iterations: assign to nearest (ties -> lowest index,
      // matching NearestCentroidExpr), recompute means
      val sums = Array.ofDim[Double](k, dim)
      val cnts = new Array[Long](k)
      var it = 0
      var moved = true
      while (it < maxIter && moved) {
        java.util.Arrays.fill(cnts, 0L)
        sums.foreach(java.util.Arrays.fill(_, 0.0))
        var i = 0
        while (i < n) {
          val p = pts(i)
          var bj = 0
          var bd = Double.MaxValue
          var j = 0
          while (j < k) {
            val d = l2sq(centers(j), p)
            if (d < bd) { bd = d; bj = j }
            j += 1
          }
          cnts(bj) += 1
          var x = 0
          while (x < dim) { sums(bj)(x) += p(x); x += 1 }
          i += 1
        }
        moved = false
        var j = 0
        while (j < k) {
          if (cnts(j) > 0) {
            var x = 0
            while (x < dim) {
              val nc = sums(j)(x) / cnts(j)
              if (nc != centers(j)(x)) moved = true
              centers(j)(x) = nc
              x += 1
            }
          } // empty cluster: keep previous center
          j += 1
        }
        it += 1
      }
    }
    centers.map(_.map(_.toFloat))
  }

  /** Fit the coarse quantizer on a bounded deterministic sample and assign
    * the corpus — one codegen argmin pass; deterministic for a fixed seed.
    *
    * Scale shape: the training sample is TakeOrdered by a seeded hash
    * (never a full sort; at most `trainSample` rows reach the driver), the
    * fit is a driver-local Lloyd's over that sample, and the assignment is
    * a row-local [[graft.functions.NearestCentroidExpr]] — the corpus is
    * scanned once and never shuffled.
    *
    * `persist = true` (the probe-many default) caches the assignment so
    * every [[ivfQuery]] reuses it — the caller owns the lifetime
    * (unpersist, or write out partitioned by `__list` for cross-job
    * reuse). One-shot callers ([[ivfTopK]]) pass false: nothing to
    * amortize, nothing leaked. */
  def ivfBuild(corpus: DataFrame, nLists: Int = 64, seed: Long = 42L,
               maxIter: Int = 10, vecCol: String = "embedding",
               idCol: String = "vec_id", trainSample: Int = 16384,
               persist: Boolean = true): IvfIndex = {
    import org.apache.spark.sql.graftglue.GraftGlue
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // hash-ordered bounded sample (TakeOrdered, never a full sort). Rows
    // with byte-identical vectors tie on the hash; the vector itself is the
    // secondary sort key so which ROW wins stays partition-order-free even
    // if this select ever grows more columns — the sample must be a pure
    // function of corpus CONTENT or the fitted centroids drift across runs
    val sample = c.filter(col("cv").isNotNull).select(col("cv"))
      .orderBy(xxhash64(col("cv"), lit(seed)), col("cv"))
      .limit(trainSample)
      .as[Array[Float]].collect()
    val cents = fitCentroids(sample, nLists, seed, maxIter)
    val dim = cents.head.length
    // same fail-fast dimension guard contract as signBucketChecked: NULL
    // vectors stay NULL (drop out of the list join); wrong-size raises
    val assign = when(col("cv").isNull, lit(null).cast("int"))
      .when(size(col("cv")) === dim, GraftGlue.column(
        graft.functions.NearestCentroidExpr(GraftGlue.expression(col("cv")), cents)))
      .otherwise(raise_error(concat(
        lit(s"embedding dimension != centroid dimension $dim: got "),
        size(col("cv")).cast("string"))))
    val assigned0 = c.withColumn("__list", assign)
    val assigned =
      if (persist) assigned0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else assigned0
    val centDf = cents.zipWithIndex.map { case (v, i) => (i, v) }
      .toSeq.toDF("__list", "__centroid")
    IvfIndex(assigned, centDf, nLists)
  }

  /** Probe a prebuilt index: each probe scores only its `nProbe` nearest
    * lists — recall rises with nProbe, scan cost falls with
    * nLists/nProbe; nProbe = nLists is exact. */
  def ivfQuery(index: IvfIndex, probes: DataFrame, k: Int, nProbe: Int = 8,
               vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    // nProbe nearest centroids per probe: centroid set is tiny (nLists
    // rows) -> broadcast cross join + rank, never a corpus-wide op
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
    val wc = Window.partitionBy("probe_id")
      .orderBy(col("__l2").asc, col("__list"))
    val probeLists = p.crossJoin(broadcast(index.centroids))
      .withColumn("__l2", V.l2sq(col("pv"), col("__centroid")))
      .withColumn("__pr", row_number().over(wc))
      .filter(col("__pr") <= nProbe)
      .select("probe_id", "pv", "__list")
    // each neighbor lives in exactly one list, so a (probe, neighbor) pair
    // can match at most once — no dedup needed before ranking
    val scored = index.assigned.join(broadcast(probeLists), Seq("__list"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        V.cosineFast(col("pv"), col("cv")).as("cos"))
    localThenGlobalTopK(scored, k)
  }

  /** Persist a built IVF index as a parquet layout: list assignments
    * PARTITIONED BY `__list` plus a small centroids table — the
    * build-once/serve-forever form. A loaded index's query reads only the
    * probed lists' directories (partition pruning on `__list` does what
    * the in-memory join's shuffle avoidance did, but across JVMs and
    * days): index build cost is paid once per corpus version, not per
    * serving session. */
  def ivfSave(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("__list").parquet(s"$path/assigned")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load an [[ivfSave]]d index. The assignment frame arrives
    * list-partitioned from the directory layout; queries against it probe
    * by partition-pruned scan instead of recomputing assignments. */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession,
              path: String): IvfIndex = {
    val assigned = spark.read.parquet(s"$path/assigned")
    val centroids = spark.read.parquet(s"$path/centroids")
    IvfIndex(assigned, centroids, centroids.count().toInt)
  }

  /** Convenience one-shot: build + query (the q38 shape). Builds WITHOUT
    * persisting — a single query materializes the assignment exactly once,
    * so caching it would only leak (the round-3 advisor finding). Prefer
    * [[ivfBuild]]/[[ivfQuery]] when serving repeated probe batches. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              nLists: Int = 64, nProbe: Int = 8, seed: Long = 42L,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame =
    ivfQuery(ivfBuild(corpus, nLists, seed, vecCol = vecCol, idCol = idCol,
        persist = false),
      probes, k, nProbe, vecCol, idCol)

  /** LSH-bucketed approximate top-k: candidates are corpus vectors whose
    * sign-bucket is within Hamming distance <= `multiprobe` of the probe's
    * bucket (multiprobe=0 -> same bucket only). Each probe expands to
    * C(nBits, <=multiprobe) bucket ids via XOR masks — the full Hamming
    * ball, not just single-bit flips. Exact cosine ranks the candidates.
    * Recall rises with multiprobe / falls with nBits.
    *
    * The plane dimension is taken from `dim` and fail-fast validated
    * against every vector (no silent null-padded buckets). */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              nBits: Int = 8, multiprobe: Int = 1, dim: Int = 64,
              seed: Long = 42L, vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame = {
    val planes = V.randomPlanes(nBits, dim, seed)
    val masks = hammingMasks(nBits, multiprobe)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      V.signBucketChecked(col(vecCol), planes).as("cb"))
    val probeBuckets = probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("pv"), V.signBucketChecked(col(vecCol), planes).as("b0"))
      .withColumn("pb",
        explode(array(masks.map(m => col("b0").bitwiseXOR(lit(m))): _*)))
    // each (probe, neighbor) matches exactly one mask (mask = b0 XOR cb),
    // so no dedup is needed before ranking
    val scored = c.join(broadcast(probeBuckets), col("cb") === col("pb"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        V.cosineFast(col("pv"), col("cv")).as("cos"))
    localThenGlobalTopK(scored, k)
  }

  /** DISTRIBUTED integer-exact Lloyd's k-means — the cluster-scale
    * counterpart of [[ivfBuild]]'s bounded-sample driver fit. Vectors are
    * quantized once to integer units (`trunc(x * unitScale)`, the
    * embeddingCentroids convention), so every distance, assignment, and
    * centroid update is exact integer / deterministic-double arithmetic:
    * the ENTIRE trajectory is bit-reproducible across engines,
    * partitionings, and row orders — and therefore oracle-checkable.
    *
    * Per iteration: assignment is ROW-LOCAL (centroids ride into the
    * task as array literals; argmin ties break to the lowest cluster id),
    * and the update is ONE map-side-combined aggregation of compact
    * (cluster, dim, unit) longs; k x dim sums come back to the driver
    * (bounded by construction). Seeds are the k lowest-`idCol` vectors.
    * Empty clusters keep their previous centroid. No corpus-size
    * driver materialization anywhere — this is the 100 TB shape.
    *
    * Output, one row per (iteration, non-empty cluster):
    * (iter, cluster, n_members, c_checksum = sum of centroid units over
    * all dims, c_d0, c_dLast) — the checksum pins every dimension. */
  def kmeansLloyd(df: DataFrame, vecCol: String, idCol: String,
                  k: Int, iterations: Int,
                  unitScale: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(iterations >= 1 && iterations <= 64,
      s"iterations out of range: $iterations")
    val spark = df.sparkSession
    import spark.implicits._
    val xu0 = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        transform(col(vecCol),
          x => (x.cast("double") * unitScale).cast("long")).as("__xu"))
    val seedRows = xu0.orderBy(col("__id")).limit(k)
      .select(col("__xu")).as[Array[Long]].collect()
    require(seedRows.length == k, s"corpus smaller than k=$k")
    val dim = seedRows.head.length
    // fail-loud dimension guard (the ivfBuild contract): a wrong-size
    // vector would otherwise zip_with to NULL distances and silently land
    // in a NULL cluster
    val xu = xu0.withColumn("__xu",
      when(size(col("__xu")) === dim, col("__xu"))
        .otherwise(raise_error(concat(
          lit(s"kmeansLloyd: embedding dimension != $dim: got "),
          size(col("__xu")).cast("string")))))
    var cents: Array[Array[Long]] = seedRows
    val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long)]
    (1 to iterations).foreach { iter =>
      // row-local argmin over k broadcast-literal centroids; strict <
      // keeps the earlier cluster on ties
      val dists = cents.map { cj =>
        aggregate(zip_with(col("__xu"), typedLit(cj.toSeq),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v)
      }
      val assign = dists.zipWithIndex.tail.foldLeft(
          (dists.head, lit(0).cast("int"))) {
        case ((bestD, bestJ), (dj, j)) =>
          (when(dj < bestD, dj).otherwise(bestD),
            when(dj < bestD, j).otherwise(bestJ))
      }._2
      val sums = xu.select(col("__id"), col("__xu"), assign.as("__c"))
        .select(col("__c"), posexplode(col("__xu")))
        .groupBy(col("__c"), col("pos"))
        .agg(sum(col("col")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      val byCluster = sums.groupBy(_.getAs[Int]("__c"))
      val nextCents = cents.zipWithIndex.map { case (old, j) =>
        byCluster.get(j) match {
          case Some(rows) =>
            val c = new Array[Long](dim)
            rows.foreach { r =>
              c(r.getAs[Int]("pos")) =
                (r.getAs[Long]("__s").toDouble / r.getAs[Long]("__n")).toLong
            }
            c
          case None => old  // empty cluster: keep
        }
      }
      byCluster.toSeq.sortBy(_._1).foreach { case (j, rows) =>
        val n = rows.head.getAs[Long]("__n")
        val cj = nextCents(j)
        out += ((iter.toLong, j.toLong, n, cj.sum, cj.head, cj.last))
      }
      cents = nextCents
    }
    out.result().toDF("iter", "cluster", "n_members", "c_checksum",
      "c_d0", "c_dlast")
  }

  /** A trained product-quantization codebook: `m` subspaces of `subDim`
    * dims each, `kCodes` integer-unit codewords per subspace
    * (`centroids(s)(j)(d)`). Driver footprint is m*k*subDim longs —
    * bounded by construction, independent of corpus size. */
  final case class PqCodebook(m: Int, kCodes: Int, subDim: Int,
                              unitScale: Long,
                              centroids: Array[Array[Array[Long]]])

  /** Codegen integer squared-L2 over unit arrays — same arithmetic as
    * the `aggregate(zip_with(...))` HOF form it replaces (long
    * multiply-add; NULL on NULL or length mismatch), but one fused loop
    * inside whole-stage codegen instead of per-element interpreted
    * lambdas: the difference between ~100 s and ~2 s on a 100k-corpus
    * brute-force recall gate. */
  private def l2UnitsDist(a: org.apache.spark.sql.Column,
                          b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftglue.GraftGlue
    GraftGlue.column(graft.functions.L2UnitsDistExpr(
      GraftGlue.expression(a), GraftGlue.expression(b)))
  }

  /** Codegen ADC distance against a codebook (see
    * [[graft.functions.PqAdcDistExpr]]) — replaces the per-subspace
    * interpreted `aggregate(zip_with(slice, element_at))` chain on the
    * candidate hot path. */
  private def adcDist(vec: org.apache.spark.sql.Column,
                      codes: org.apache.spark.sql.Column,
                      cb: PqCodebook): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftglue.GraftGlue
    GraftGlue.column(graft.functions.PqAdcDistExpr(
      GraftGlue.expression(vec), GraftGlue.expression(codes), cb.centroids))
  }

  private def quantizedUnits(df: DataFrame, vecCol: String, idCol: String,
                             unitScale: Long): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        transform(col(vecCol),
          x => (x.cast("double") * unitScale).cast("long")).as("__xu"))

  private def dimGuard(df: DataFrame, dim: Int): DataFrame =
    df.withColumn("__xu",
      when(size(col("__xu")) === dim, col("__xu"))
        .otherwise(raise_error(concat(
          lit(s"pq: embedding dimension != $dim: got "),
          size(col("__xu")).cast("string")))))

  /** Row-local nearest-codeword id for subspace `s` of `xuCol` against
    * the codeword matrix — one codegen [[graft.functions.NearestSubCentroidExpr]]
    * call (integer-exact, ties to the LOWEST code: the
    * cross-engine-replayable convention of [[kmeansLloyd]]), so the plan
    * stays compact at production code-book sizes (k = 256). */
  private def pqAssign(xuCol: org.apache.spark.sql.Column, s: Int,
                       subDim: Int, cents: Array[Array[Long]])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftglue.GraftGlue
    GraftGlue.column(graft.functions.NearestSubCentroidExpr(
      GraftGlue.expression(xuCol), s * subDim, cents))
  }

  /** Train a PQ codebook: integer-exact Lloyd's run independently per
    * subspace, FUSED so each iteration is ONE corpus pass — assignment
    * for all `m` subspaces is row-local (codegen argmin against literal
    * centroids), then a single map-side-combined aggregation of compact
    * (subspace, code, dim, unit) longs; m*k*subDim sums come back to the
    * driver (bounded by construction). Seeds are the `kCodes`
    * lowest-`idCol` vectors, sliced per subspace. Same arithmetic
    * contract as [[kmeansLloyd]] (truncating unit quantization,
    * truncating mean, ties to lowest code, empty codes carried), so the
    * ENTIRE trajectory replays bit-exactly in another engine.
    *
    * 100 TB shape: iterations * 1 scan + 1 compact shuffle each; nothing
    * corpus-sized reaches the driver. Production codebooks are trained
    * on a bounded sample (the FAISS recipe) — pass a sampled frame as
    * `corpus` for that; the math is identical. */
  def pqTrain(corpus: DataFrame, vecCol: String = "embedding",
              idCol: String = "vec_id", m: Int = 4, kCodes: Int = 8,
              iterations: Int = 2,
              unitScale: Long = 1000000L): PqCodebook =
    pqTrainUnits(quantizedUnits(corpus, vecCol, idCol, unitScale),
      m, kCodes, iterations, unitScale)

  /** [[pqTrain]] over an ALREADY-quantized (`__id`, `__xu`: array<long>)
    * frame — the entry point [[ivfPqBuild]] uses to train on residuals. */
  private[graft] def pqTrainUnits(xu0: DataFrame, m: Int, kCodes: Int,
                                  iterations: Int,
                                  unitScale: Long): PqCodebook = {
    require(m >= 1 && kCodes >= 1, s"bad pq shape: m=$m k=$kCodes")
    require(iterations >= 1 && iterations <= 64,
      s"iterations out of range: $iterations")
    val spark = xu0.sparkSession
    import spark.implicits._
    val seedRows = xu0.orderBy(col("__id")).limit(kCodes)
      .select(col("__xu")).as[Array[Long]].collect()
    require(seedRows.length == kCodes, s"corpus smaller than k=$kCodes")
    val dim = seedRows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val xu = dimGuard(xu0, dim)
    var cents: Array[Array[Array[Long]]] =
      Array.tabulate(m)(s => seedRows.map(_.slice(s * subDim, (s + 1) * subDim)))
    (1 to iterations).foreach { _ =>
      val assigns = (0 until m).map(s =>
        pqAssign(col("__xu"), s, subDim, cents(s)).as(s"__c$s"))
      val sums = xu.select(col("__xu") +: assigns: _*)
        .select(array((0 until m).map(s => col(s"__c$s")): _*).as("__cs"),
          posexplode(col("__xu")))
        .select(element_at(col("__cs"),
            (col("pos") / subDim).cast("int") + 1).as("__c"),
          (col("pos") / subDim).cast("int").as("__s"),
          (col("pos") % subDim).cast("int").as("__d"),
          col("col").as("__v"))
        .groupBy(col("__s"), col("__c"), col("__d"))
        .agg(sum(col("__v")).as("__sum"), count(lit(1)).as("__n"))
        .collect()
      val bySub = sums.groupBy(r => (r.getAs[Int]("__s"), r.getAs[Int]("__c")))
      cents = Array.tabulate(m) { s =>
        cents(s).zipWithIndex.map { case (old, j) =>
          bySub.get((s, j)) match {
            case Some(rows) =>
              val c = new Array[Long](subDim)
              rows.foreach { r =>
                c(r.getAs[Int]("__d")) =
                  (r.getAs[Long]("__sum").toDouble / r.getAs[Long]("__n")).toLong
              }
              c
            case None => old // empty code: keep previous codeword
          }
        }
      }
    }
    PqCodebook(m, kCodes, subDim, unitScale, cents)
  }

  /** Encode the corpus to PQ codes: one ROW-LOCAL pass (codegen argmin
    * per subspace against broadcast-literal codewords), zero shuffle.
    * Output (`idCol`, codes: array<int> of length m). At 100 TB the code
    * table is ~subDim*8/1 bytes-per-dim smaller than the raw vectors —
    * this is the artifact that gets persisted and served. */
  def pqEncode(corpus: DataFrame, cb: PqCodebook,
               vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    val dim = cb.m * cb.subDim
    val xu = dimGuard(
      quantizedUnits(corpus, vecCol, idCol, cb.unitScale), dim)
    xu.select(col("__id").as(idCol), pqCodesCol(col("__xu"), cb).as("codes"))
  }

  /** The row-local code array for a units column against a codebook. */
  private def pqCodesCol(xuCol: org.apache.spark.sql.Column,
                         cb: PqCodebook): org.apache.spark.sql.Column =
    array((0 until cb.m).map(s =>
      pqAssign(xuCol, s, cb.subDim, cb.centroids(s))): _*)

  /** Exact L2 top-k in INTEGER UNITS — the ground truth the quantized
    * tier ([[pqQuery]], [[ivfPqQuery]]) is measured against (those rank
    * by integer L2 too, so recall@k compares like with like; cosine
    * [[bruteForceTopK]] would not). Same scale discipline: probes
    * broadcast, corpus scanned once, partition-local k-heaps. */
  def bruteForceTopKL2(corpus: DataFrame, probes: DataFrame, k: Int,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id",
                       unitScale: Long = 1000000L): DataFrame = {
    val c = quantizedUnits(corpus, vecCol, idCol, unitScale)
      .select(col("__id").as("neighbor_id"), col("__xu").as("__cu"))
    val p = quantizedUnits(probes, vecCol, idCol, unitScale)
      .select(col("__id").as("probe_id"), col("__xu").as("__pu"))
    val dist = l2UnitsDist(col("__pu"), col("__cu"))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (-dist).cast("double").as("cos"), dist.as("l2_dist"))
    localThenGlobalTopK(scored, k)
      .select(col("probe_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("l2_dist"))
  }

  /** Recall@k of an approximate ANN result against exact ground truth:
    * per probe, how many of the exact top-k the approximate index
    * returned — the metric every ANN deployment tracks. Both inputs are
    * (probe_id, neighbor_id, ...) frames (ranks beyond `k` are
    * ignored); output (probe_id, n_hits, k) with n_hits = 0 rows
    * preserved for probes the approximate side missed entirely.
    * One small join + one aggregation over two k-per-probe frames —
    * cost is probes*k, never corpus-scale. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def top(df: DataFrame, n: String) = {
      val ranked =
        if (df.columns.contains("rank")) df.filter(col("rank") <= k) else df
      ranked.select(col("probe_id"), col("neighbor_id").as(n))
    }
    val a = top(approx, "__n")
    val e = top(exact, "__n")
    val joined = a.join(e, Seq("probe_id", "__n"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("probe_id")).distinct()
      .join(joined, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        lit(k.toLong).as("k"))
  }

  /** A fitted per-dimension scalar quantizer: integer-unit min and span
    * per dim (span 0 for degenerate dims). Driver footprint = 2*dim
    * longs. */
  final case class ScalarQuantizer(mins: Array[Long], spans: Array[Long],
                                   unitScale: Long, levels: Int)

  /** Fit an int8-style scalar quantizer: per-dimension min/max over the
    * corpus in ONE compact aggregation (dim-bounded rows to the driver
    * — the codebook discipline). All integer units, so fit and encode
    * replay exactly in another engine. */
  def scalarQuantizeFit(corpus: DataFrame, vecCol: String = "embedding",
                        idCol: String = "vec_id", levels: Int = 256,
                        unitScale: Long = 1000000L): ScalarQuantizer = {
    require(levels >= 2, s"levels must be >= 2: $levels")
    val xu = quantizedUnits(corpus, vecCol, idCol, unitScale)
    val stats = xu.select(posexplode(col("__xu")))
      .groupBy(col("pos"))
      .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .collect()
    require(stats.nonEmpty, "cannot fit a quantizer on an empty corpus")
    val dim = stats.map(_.getAs[Int]("pos")).max + 1
    val mins = new Array[Long](dim)
    val spans = new Array[Long](dim)
    stats.foreach { r =>
      val p = r.getAs[Int]("pos")
      mins(p) = r.getAs[Long]("mn")
      spans(p) = r.getAs[Long]("mx") - mins(p)
    }
    ScalarQuantizer(mins, spans, unitScale, levels)
  }

  /** Encode to `levels` buckets per dim: ROW-LOCAL, zero shuffle —
    * `code = (x_units - min) * (levels-1) / span` (exact: the integer
    * numerator stays far below 2^53, so the truncating double division
    * equals integer division), clamped to [0, levels-1] so
    * out-of-fit-range inputs saturate instead of overflowing; degenerate
    * dims (span 0) encode 0. A 4x compression at levels=256 that
    * composes with [[pqEncode]] (int8 the corpus, PQ the index). */
  def scalarQuantizeEncode(corpus: DataFrame, sq: ScalarQuantizer,
                           vecCol: String = "embedding",
                           idCol: String = "vec_id"): DataFrame = {
    val dim = sq.mins.length
    val xu = dimGuard(
      quantizedUnits(corpus, vecCol, idCol, sq.unitScale), dim)
    val top = sq.levels - 1
    val codes = zip_with(
      zip_with(col("__xu"), typedLit(sq.mins.toSeq), (x, mn) => x - mn),
      typedLit(sq.spans.toSeq),
      (dd, sp) => when(sp === 0L, 0L).otherwise(
        greatest(least(((dd * top) / sp).cast("long"), lit(top.toLong)),
          lit(0L))))
    xu.select(col("__id").as(idCol), codes.as("codes"))
  }

  /** The full production ANN structure: IVF coarse quantizer + RESIDUAL
    * product quantization (the FAISS IVFPQ recipe) — both trained with
    * the integer-exact Lloyd's, so the ENTIRE index build replays
    * bit-for-bit in another engine. `encoded` holds one
    * (id, __list, codes) row per corpus vector. */
  final case class IvfPqIndex(encoded: DataFrame,
                              coarse: Array[Array[Long]],
                              cb: PqCodebook, nLists: Int)

  /** Build an IVF-PQ index: coarse centroids (integer Lloyd's over the
    * full dim), row-local assignment + residual (vector minus its coarse
    * centroid), then a PQ codebook trained ON THE RESIDUALS — residual
    * magnitudes are much smaller than vector magnitudes, so the same
    * code budget quantizes finer (why FAISS does it). Every stage is the
    * fused one-pass-per-iteration shape; driver state = (nLists +
    * m*kCodes) * dim longs, bounded.
    *
    * 100 TB shape: persist `encoded` partitioned by `__list` (the
    * [[ivfSave]] discipline) and each probe batch reads only its nProbe
    * list-partitions of a ~32x-compressed table. */
  def ivfPqBuild(corpus: DataFrame, vecCol: String = "embedding",
                 idCol: String = "vec_id", nLists: Int = 4, m: Int = 4,
                 kCodes: Int = 8, iterations: Int = 2,
                 unitScale: Long = 1000000L,
                 trainOn: DataFrame = null): IvfPqIndex = {
    require(nLists >= 1, s"nLists must be >= 1: $nLists")
    val xu0 = quantizedUnits(corpus, vecCol, idCol, unitScale)
    // the FAISS production recipe: codebooks fit on a bounded TRAIN set
    // (pass a deterministic sample as `trainOn`), the full corpus only
    // ever assigned + encoded — Lloyd's never scans 100 TB. Default
    // (null) trains on the corpus itself, the demo-size behavior every
    // existing oracle replays.
    val xuT = if (trainOn == null) xu0
              else quantizedUnits(trainOn, vecCol, idCol, unitScale)
    val coarse =
      pqTrainUnits(xuT, 1, nLists, iterations, unitScale).centroids(0)
    val dim = coarse.head.length
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    def withResiduals(f: DataFrame): DataFrame =
      dimGuard(f, dim)
        .withColumn("__list", pqAssign(col("__xu"), 0, dim, coarse))
        .withColumn("__ru", zip_with(col("__xu"),
          element_at(coarseLit, col("__list") + 1), (a, b) => a - b))
    // the coarse assign (nLists x dim integer ops per row) is the
    // build's most expensive row-local pass, and the residual frame it
    // produces feeds the codebook train's seed collect PLUS every
    // Lloyd's iteration PLUS (train-on-corpus) the final encode — left
    // lazy it re-executes once per action (measured: the dominant term
    // of the n=100k build). Materialize it ONCE; the train-set frame is
    // bounded by the FAISS train-set recipe (`trainOn` sample), and on
    // the demo-size train-on-corpus path it is the same O(corpus) the
    // encode scans anyway (MEMORY_AND_DISK under localCheckpoint, so it
    // degrades to disk rather than evicting execution memory).
    val resT = withResiduals(xuT)
      .select(col("__id"), col("__list"), col("__ru"))
      .localCheckpoint(true)
    val cb = pqTrainUnits(
      resT.select(col("__id"), col("__ru").as("__xu")),
      m, kCodes, iterations, unitScale)
    // train-on-corpus: the cached residuals ARE the corpus residuals —
    // encode from them instead of re-running the coarse assign. On the
    // trainOn path the checkpointed train-set residuals are dead once
    // the codebooks are fitted (pqTrainUnits is eager) — release them
    // now, or repeated builds in one session accumulate dead executor
    // storage until RDD GC.
    val encoded = (if (trainOn == null) resT else {
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(resT)
      withResiduals(xu0)
    })
      .select(col("__id").as(idCol), col("__list"),
        pqCodesCol(col("__ru"), cb).as("codes"))
    IvfPqIndex(encoded, coarse, cb, nLists)
  }

  /** Append new vectors to an EXISTING index without retraining — the
    * FAISS `add()` path, and the ANN tier's twin of q154's incremental
    * shard append: codebooks are immutable once shipped, a new crawl
    * batch is ASSIGNED to the frozen coarse centroids and ENCODED under
    * the frozen residual codebooks, and only new rows join `encoded`
    * (with ivfPqSave's `__list` partitioning, only touched list
    * partitions are written). Cost is O(batch x nLists x dim +
    * batch x m x kCodes x subDim) — never O(existing corpus), and no
    * Lloyd's at all. The flip side is the standard FAISS caveat: drift
    * between the frozen codebooks and the new batch's distribution
    * degrades recall gradually (monitor with [[recallAtK]], retrain on
    * a schedule) — appending never changes existing codes, so results
    * for old vectors are bit-stable. */
  def ivfPqAppend(index: IvfPqIndex, newVecs: DataFrame,
                  vecCol: String = "embedding",
                  idCol: String = "vec_id"): IvfPqIndex =
    index.copy(encoded = index.encoded.unionByName(
      ivfPqEncodeFrozen(index.coarse, index.cb, newVecs, vecCol, idCol)))

  /** Assign + encode a batch under an index's FROZEN codebooks — the
    * shared encode of [[ivfPqAppend]] (in-memory) and
    * [[ivfPqAppendSave]] (on-disk): no Lloyd's, row-local arithmetic
    * only, one (id, __list, codes) row per new vector. */
  private[graft] def ivfPqEncodeFrozen(coarse: Array[Array[Long]],
                                       cb: PqCodebook,
                                       newVecs: DataFrame,
                                       vecCol: String,
                                       idCol: String): DataFrame = {
    val dim = coarse.head.length
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    dimGuard(quantizedUnits(newVecs, vecCol, idCol, cb.unitScale), dim)
      .withColumn("__list", pqAssign(col("__xu"), 0, dim, coarse))
      .withColumn("__ru", zip_with(col("__xu"),
        element_at(coarseLit, col("__list") + 1), (a, b) => a - b))
      .select(col("__id").as(idCol), col("__list"),
        pqCodesCol(col("__ru"), cb).as("codes"))
  }

  /** Append a batch to a SAVED index in place — [[ivfPqAppend]]'s
    * on-disk form, and the exact discipline of q154's shard store
    * applied to the serving artifact: load only the codebooks (bounded
    * driver collects; the existing `encoded` table is NEVER scanned),
    * encode the batch under the frozen codebooks, and `append` the new
    * rows into the `__list`-partitioned parquet layout. Parquet append
    * with partitionBy writes files only under the batch's own `__list=`
    * directories, so untouched list partitions stay byte-identical and
    * total cost is O(batch), independent of the index size.
    *
    * Delivery contract — SINGLE WRITER, readers excluded while an
    * append is in flight: the multi-task append has no job-level
    * atomicity (individual task files commit atomically, the batch as
    * a whole does not), so a `.append-pending` sentinel brackets the
    * job and [[ivfPqLoad]] fails loudly while it exists. A crash
    * mid-append leaves the sentinel behind: the store is DETECTED as
    * torn (every later load refuses with the remedy in the message),
    * never silently served with a partial batch — recovery is restore/
    * rebuild the encoded table, then remove the sentinel. For
    * non-blocking concurrent serving and exactly-once delivery use
    * [[graft.streaming.VectorIndexSink.appendBatch]], whose per-batch
    * delta directories publish with one atomic rename. Repeated small
    * appends accumulate small files per hot list; fold them with
    * [[graft.sinks.FileSink.compact]] on a schedule, exactly like the
    * shard store. */
  def ivfPqAppendSave(spark: org.apache.spark.sql.SparkSession,
                      path: String, newVecs: DataFrame,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id"): Unit = {
    // load + plan BEFORE the sentinel: a load/analysis failure (torn
    // store, retired store, schema mismatch) surfaces its own message
    // without holding the sentinel; the codebook load itself rejects an
    // existing sentinel, so a second writer stops here
    val (coarse, cb, _) = ivfPqCodebooks(spark, path)
    val encoded = ivfPqEncodeFrozen(coarse, cb, newVecs, vecCol, idCol)
    val pending = appendPendingSentinel(path)
    require(pending.createNewFile(),
      s"index at $path has an in-flight or torn append " +
        s"(${pending.getName} present) - single-writer contract: wait " +
        "for the writer, or verify/rebuild the encoded table after a " +
        "crash, then remove the sentinel")
    encoded.write.mode("append").partitionBy("__list")
      .parquet(s"$path/encoded")
    pending.delete() // reached only on success: a failed job leaves
    ()               // the sentinel as the torn-append record
  }

  private def appendPendingSentinel(path: String): java.io.File =
    new java.io.File(path, ".append-pending")

  /** IVF-PQ probe: rank the coarse lists per probe (integer distances,
    * ties to the lowest list), keep `nProbe`, compute the probe's
    * residual AGAINST EACH probed list's centroid, and run the
    * integer-exact ADC of [[pqQuery]] over just those lists' codes —
    * candidates shrink by ~nProbe/nLists on top of PQ's compression.
    * Output (probe_id, neighbor_id, rank, adc_dist): per probe its `k`
    * best rows, by ADC distance then neighbor id; the probe's own id is
    * never its neighbor.
    *
    * 100 TB shape: a driver-local probe batch (a `LocalRelation`, as a
    * client's request arrives) with probes x nLists x dim at most
    * [[IvfPqLocal.Bound]] is planned on the DRIVER — coarse distances,
    * list choice and residuals in the same integer arithmetic — and
    * shipped with the codebook in one broadcast; ONE scan of the probed
    * `__list` partitions keeps a k-heap per probe in each task, and the
    * heaps are tree-merged on the executors, so the driver receives
    * probes x k rows. That path runs its one Spark job when called and
    * returns a local relation. Any other probe batch (not local, over
    * the bound, or not servable exactly — see [[IvfPqLocal]]) takes the
    * DataFrame path, lazy as ever: probe-side expansion of |probes| x
    * nLists rows, one broadcast equi join on `__list` into the code
    * table, partition-local k-heaps and one ranking window. Both paths
    * return the same rows under the same schema. */
  def ivfPqQuery(index: IvfPqIndex, probes: DataFrame, k: Int,
                 nProbe: Int = 2, vecCol: String = "embedding",
                 idCol: String = "vec_id"): DataFrame = {
    requireNProbe(index, nProbe)
    IvfPqLocal.query(index, probes, k, nProbe, vecCol, idCol)
      .getOrElse(ivfPqQueryByFrame(index, probes, k, nProbe, vecCol, idCol))
  }

  private def requireNProbe(index: IvfPqIndex, nProbe: Int): Unit =
    require(nProbe >= 1 && nProbe <= index.nLists,
      s"nProbe must be in [1, ${index.nLists}]: $nProbe")

  /** [[ivfPqQuery]]'s DataFrame path, for any probe batch (nProbe
    * checked by the caller). */
  private[graft] def ivfPqQueryByFrame(index: IvfPqIndex, probes: DataFrame,
                                       k: Int, nProbe: Int, vecCol: String,
                                       idCol: String): DataFrame = {
    val cb = index.cb
    val dim = cb.m * cb.subDim
    val pxu = dimGuard(
      quantizedUnits(probes, vecCol, idCol, cb.unitScale), dim)
      .select(col("__id").as("probe_id"), col("__xu").as("__pxu"))
    val coarseLit = typedLit(index.coarse.map(_.toSeq).toSeq)
    val expanded = pxu
      .select(col("probe_id"), col("__pxu"), posexplode(coarseLit))
      .select(col("probe_id"), col("__pxu"),
        col("pos").cast("int").as("__list"),
        aggregate(zip_with(col("__pxu"), col("col"),
          (a, b) => (a - b) * (a - b)), lit(0L),
          (acc, v) => acc + v).as("__cd"),
        zip_with(col("__pxu"), col("col"), (a, b) => a - b).as("__pru"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("__cd"), col("__list"))
    val probeLists = expanded.withColumn("__pr", row_number().over(w))
      .filter(col("__pr") <= nProbe)
      .select(col("probe_id"), col("__list"), col("__pru"))
    val dist = adcDist(col("__pru"), col("codes"), cb)
    val scored = index.encoded.join(broadcast(probeLists), Seq("__list"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        (-dist).cast("double").as("cos"), dist.as("adc_dist"))
    localThenGlobalTopK(scored, k)
      .select(col("probe_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("adc_dist"))
  }

  /** The production serving path: IVF-PQ ADC shortlist of `refine * k`
    * candidates, then an EXACT integer-L2 re-rank of just those
    * candidates against the full-precision vectors (the FAISS
    * refine/IndexRefineFlat recipe). ADC at realistic codebook sizes
    * ranks coarsely — on near-uniform-sphere geometry (this table's:
    * random pairs at 1.414±0.09) its recall@k plateaus near 0.5 even
    * at FULL probe, because the per-subspace quantization error is
    * comparable to the spread between neighbor distances — but it is
    * an excellent FILTER: the true top-k live inside a small ADC
    * shortlist, and one probe-bounded exact pass restores recall
    * (measured here: 0.51 → 0.89+ at refine=10, nProbe=nLists/4).
    *
    * 100 TB shape: the shortlist is |probes| * refine * k id pairs —
    * probe-bounded, never corpus-scale. A driver-local probe batch
    * within [[IvfPqLocal.Bound]] takes [[ivfPqQuery]]'s driver-planned
    * ADC scan, then ONE scan of the corpus that scores only the
    * shortlisted ids against the probes (shipped in one broadcast),
    * k-heaps per task tree-merged on the executors: two Spark jobs,
    * run when called, and a local relation back. Any other batch takes
    * the lazy DataFrame path: the shortlist reaches the full-precision
    * vectors through ONE broadcast semi-join on `idCol` (the corpus is
    * scanned, not shuffled, and only shortlisted rows survive the
    * scan), then partition-local k-heaps and one ranking window. Same
    * ranking contract as [[bruteForceTopKL2]] on both paths: integer
    * units, ties to the lowest neighbor id, so the whole path replays
    * in another engine. */
  def ivfPqQueryRefined(index: IvfPqIndex, corpus: DataFrame,
                        probes: DataFrame, k: Int, nProbe: Int,
                        refine: Int = 10,
                        vecCol: String = "embedding",
                        idCol: String = "vec_id"): DataFrame = {
    require(refine >= 1, s"refine must be >= 1: $refine")
    requireNProbe(index, nProbe)
    IvfPqLocal.queryRefined(index, corpus, probes, k, nProbe, refine,
        vecCol, idCol)
      .getOrElse(ivfPqQueryRefinedByFrame(index, corpus, probes, k, nProbe,
        refine, vecCol, idCol))
  }

  /** [[ivfPqQueryRefined]]'s DataFrame path, for any probe batch. */
  private[graft] def ivfPqQueryRefinedByFrame(index: IvfPqIndex,
      corpus: DataFrame, probes: DataFrame, k: Int, nProbe: Int,
      refine: Int, vecCol: String, idCol: String): DataFrame = {
    val scale = index.cb.unitScale
    val cand = ivfPqQueryByFrame(index, probes, refine * k, nProbe, vecCol,
        idCol)
      .select(col("probe_id"), col("neighbor_id"))
    val c = quantizedUnits(corpus, vecCol, idCol, scale)
      .select(col("__id").as("neighbor_id"), col("__xu").as("__cu"))
    val p = quantizedUnits(probes, vecCol, idCol, scale)
      .select(col("__id").as("probe_id"), col("__xu").as("__pu"))
    val dist = l2UnitsDist(col("__pu"), col("__cu"))
    val scored = c.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(p), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (-dist).cast("double").as("cos"), dist.as("l2_dist"))
    localThenGlobalTopK(scored, k)
      .select(col("probe_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("l2_dist"))
  }

  /** Recall-targeted nProbe auto-tuning: probe the index at nProbe =
    * 1, 2, ... against exact ground truth over a (small, caller-chosen)
    * tuning probe set and return the SMALLEST nProbe whose total
    * recall@k meets `targetPct` — or (nLists, its hits) when none does
    * (the q132 diagnosis: if even full probing misses the target, the
    * codebook, not the probe count, is the bottleneck). Driver-side
    * loop of at most nLists bounded jobs over probes*k-sized frames —
    * the tuning set is probe-bounded by contract, never corpus-scale. */
  def pickNProbe(index: IvfPqIndex, corpus: DataFrame, probes: DataFrame,
                 k: Int, targetPct: Int, vecCol: String = "embedding",
                 idCol: String = "vec_id"): (Int, Long, Long) = {
    require(targetPct >= 1 && targetPct <= 100,
      s"targetPct must be in [1,100]: $targetPct")
    // ground truth must rank under the INDEX's quantization, not the
    // bruteForceTopKL2 default — otherwise a non-default unitScale build
    // would be measured against a differently-quantized ranking
    val exact = bruteForceTopKL2(corpus, probes, k, vecCol, idCol,
        index.cb.unitScale)
      .localCheckpoint(true) // consumed once per candidate nProbe
    try {
      var result: Option[(Int, Long, Long)] = None
      var n = 1
      while (result.isEmpty && n <= index.nLists) {
        val r = recallAtK(
            ivfPqQuery(index, probes, k, n, vecCol, idCol), exact, k)
          .agg(sum(col("n_hits")).cast("long").as("h"),
            sum(col("k")).cast("long").as("p"))
          .collect()(0)
        val (hits, possible) = (r.getAs[Long]("h"), r.getAs[Long]("p"))
        if (hits * 100L >= targetPct.toLong * possible ||
            n == index.nLists)
          result = Some((n, hits, possible))
        n += 1
      }
      result.get
    } finally
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(exact)
  }

  /** Persist an IVF-PQ index: the encoded table parquet PARTITIONED BY
    * `__list` (probe batches read only their nProbe list-partitions),
    * plus coarse centroids, residual codebook and meta — the
    * [[ivfSave]] discipline over the compressed representation. */
  def ivfPqSave(index: IvfPqIndex, path: String): Unit = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    index.encoded.write.mode("overwrite")
      .partitionBy("__list").parquet(s"$path/encoded")
    val cRows = for {
      j <- 0 until index.nLists; d <- 0 until index.coarse(j).length
    } yield (j, d, index.coarse(j)(d))
    cRows.toDF("j", "d", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/coarse")
    val cb = index.cb
    val pqRows = for {
      s <- 0 until cb.m; j <- 0 until cb.kCodes; d <- 0 until cb.subDim
    } yield (s, j, d, cb.centroids(s)(j)(d))
    pqRows.toDF("s", "j", "d", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebook")
    Seq((index.nLists, cb.m, cb.kCodes, cb.subDim, cb.unitScale))
      .toDF("n_lists", "m", "k_codes", "sub_dim", "unit_scale").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load an [[ivfPqSave]]d index; both codebooks are bounded driver
    * collects by construction. Fails loudly on a RETIRED index (see
    * [[graft.streaming.VectorIndexSink.retire]] — the marker names the
    * compacted successor) and on an in-flight or torn
    * [[ivfPqAppendSave]] (the `.append-pending` sentinel: the encoded
    * table may hold a partial batch and must never be served
    * silently). Each load opens the `encoded` table afresh (a file
    * listing plus a parquet schema pass); the serving view
    * [[graft.streaming.VectorIndexSink.read]] instead keeps each opened
    * arm, this table included, across probe batches while its files
    * are unchanged. */
  def ivfPqLoad(spark: org.apache.spark.sql.SparkSession,
                path: String): IvfPqIndex = {
    val (coarse, cb, nLists) = ivfPqCodebooks(spark, path)
    IvfPqIndex(spark.read.parquet(s"$path/encoded"), coarse, cb, nLists)
  }

  /** The codebook half of [[ivfPqLoad]] — (coarse centroids, residual
    * codebook, nLists) with the same retired and torn-append checks,
    * and no access to the `encoded` table at all: the append paths
    * encode under the frozen codebooks and never need it.
    *
    * The three bounded driver collects (meta, coarse, codebook) are
    * three Spark jobs per load — pure per-trigger overhead for a
    * streaming appender that loads the SAME frozen codebooks every
    * batch (appendBatch/runCdc). They are cached keyed by a driver-side
    * file fingerprint ([[graft.streaming.StoreFiles.fingerprint]] of
    * the three dirs): any rewrite — retrain, compact, hand edit —
    * changes part-file names and misses, falling back to the real
    * collects. */
  private[graft] def ivfPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Array[Long]], PqCodebook, Int) = {
    graft.streaming.StoreFiles.requireNotRetired(path, "vector index")
    val pending = appendPendingSentinel(path)
    if (pending.exists()) throw new IllegalStateException(
      s"index at $path has an in-flight or torn append " +
        s"(${pending.getName} present) - wait for the writer, or " +
        "verify/rebuild the encoded table after a crash, then remove " +
        "the sentinel")
    val key = graft.streaming.StoreFiles.cacheKey(path)
    val fp = Seq("meta", "coarse", "codebook")
      .map(d => graft.streaming.StoreFiles.fingerprint(
        new java.io.File(path, d)))
      .filter(_.nonEmpty).mkString("\n")
    // an EMPTY fingerprint means the listing saw nothing — a non-local
    // path (hdfs://, s3a://) or an unreadable dir, where
    // spark.read.parquet could still succeed. Treat it as UNCACHEABLE
    // (skip both lookup and put): a retrain rewritten at such a path
    // must never be served stale codebooks on a constant-"" match.
    val cacheable = fp.nonEmpty
    val cached =
      if (cacheable) Option(codebookCache.get(key)).filter(_._1 == fp)
      else None
    cached match {
      case Some((_, c, b, n)) => (c, b, n)
      case None =>
        val meta = spark.read.parquet(s"$path/meta").collect().head
        val (nL, m, k, subDim, unitScale) = (meta.getAs[Int]("n_lists"),
          meta.getAs[Int]("m"), meta.getAs[Int]("k_codes"),
          meta.getAs[Int]("sub_dim"), meta.getAs[Long]("unit_scale"))
        val dim = m * subDim
        val c = Array.fill(nL)(new Array[Long](dim))
        spark.read.parquet(s"$path/coarse").collect().foreach { r =>
          c(r.getAs[Int]("j"))(r.getAs[Int]("d")) = r.getAs[Long]("c")
        }
        val cents = Array.fill(m, k)(new Array[Long](subDim))
        spark.read.parquet(s"$path/codebook").collect().foreach { r =>
          cents(r.getAs[Int]("s"))(r.getAs[Int]("j"))(r.getAs[Int]("d")) =
            r.getAs[Long]("c")
        }
        val b = PqCodebook(m, k, subDim, unitScale, cents)
        if (cacheable) codebookCache.put(key, (fp, c, b, nL))
        (c, b, nL)
    }
  }

  /** See [[ivfPqCodebooks]]' caching note. The fingerprint covers
    * exactly the files the cached collects would read. */
  private val codebookCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Array[Array[Long]], PqCodebook, Int)]()

  /** Persist a PQ index: the code table as parquet (the ~32x-compressed
    * serving artifact) plus the codebook as one (s, j, d, c) long table
    * and a one-row meta table — build once, probe many across jobs,
    * the [[ivfSave]] discipline. */
  def pqSave(codes: DataFrame, cb: PqCodebook, path: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    codes.write.mode("overwrite").parquet(s"$path/codes")
    val rows = for {
      s <- 0 until cb.m; j <- 0 until cb.kCodes; d <- 0 until cb.subDim
    } yield (s, j, d, cb.centroids(s)(j)(d))
    rows.toDF("s", "j", "d", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebook")
    Seq((cb.m, cb.kCodes, cb.subDim, cb.unitScale))
      .toDF("m", "k_codes", "sub_dim", "unit_scale").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[pqSave]]d index: (codes frame, codebook). The codebook is
    * a bounded driver collect by construction (m*k*subDim longs). */
  def pqLoad(spark: org.apache.spark.sql.SparkSession,
             path: String): (DataFrame, PqCodebook) = {
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val (m, k, subDim, unitScale) = (meta.getAs[Int]("m"),
      meta.getAs[Int]("k_codes"), meta.getAs[Int]("sub_dim"),
      meta.getAs[Long]("unit_scale"))
    val cents = Array.fill(m, k)(new Array[Long](subDim))
    spark.read.parquet(s"$path/codebook").collect().foreach { r =>
      cents(r.getAs[Int]("s"))(r.getAs[Int]("j"))(r.getAs[Int]("d")) =
        r.getAs[Long]("c")
    }
    (spark.read.parquet(s"$path/codes"),
      PqCodebook(m, k, subDim, unitScale, cents))
  }

  /** Asymmetric-distance (ADC) top-k over a PQ code table: the probe
    * stays full-precision, each corpus row costs m codeword lookups —
    * distance = sum over subspaces of l2(probe_sub, codeword[code_s]),
    * all integer-exact. Probes are broadcast; the code table is scanned
    * once, pruned to k-per-probe partition-locally before the (tiny)
    * ranking exchange — the [[bruteForceTopK]] discipline over a corpus
    * representation ~32x smaller. */
  def pqQuery(codes: DataFrame, probes: DataFrame, cb: PqCodebook, k: Int,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame = {
    val dim = cb.m * cb.subDim
    val p = dimGuard(quantizedUnits(probes, vecCol, idCol, cb.unitScale), dim)
      .select(col("__id").as("probe_id"), col("__xu").as("__pxu"))
    // fail-loud codebook-compatibility guard: codes from a different
    // codebook (wrong m, out-of-range code) would element_at to NULL and
    // SILENTLY drop rows from the ranking under ansi=false
    val codesOk = size(col("codes")) === cb.m &&
      forall(col("codes"), cc => cc >= 0 && cc < cb.kCodes)
    val c = codes.select(col(idCol).as("neighbor_id"),
      when(codesOk, col("codes")).otherwise(raise_error(concat(
        lit(s"pqQuery: codes incompatible with codebook m=${cb.m} " +
          s"k=${cb.kCodes}: "),
        col("codes").cast("string")))).as("codes"))
    val dist = adcDist(col("__pxu"), col("codes"), cb)
    val scored = c.crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (-dist).cast("double").as("cos"), dist.as("adc_dist"))
    localThenGlobalTopK(scored, k)
      .select(col("probe_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("adc_dist"))
  }
}
