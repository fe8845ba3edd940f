package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for training-data pipelines (BASELINE.json
  * north_star). Four families: exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * plus embedding-cosine near-dup.
  *
  * Scale design (100 TB): every family reduces the problem to ONE
  * hash-shuffle on a compact key (fingerprint / band hash / simhash prefix /
  * shingle) before any pairwise work, so no stage is quadratic in corpus
  * size. Two extra guards keep bucket populations bounded even on
  * pathological inputs (which dedup corpora are by definition full of):
  *  - an EXACT-dup pre-pass collapses identical content to one
  *    representative before any LSH join — a cluster of N identical docs
  *    yields N-1 linear (rep, dup) pairs instead of N^2/2 join rows;
  *  - a deterministic per-bucket cap (`maxBucket`, rank by id) bounds the
  *    residual self-join at maxBucket^2 per bucket. Pairs among capped-out
  *    members are dropped (observable via [[bucketAudit]]).
  * Pair outputs are rep-to-member; pairs between two non-representative
  * members of one exact-dup cluster are implied transitively.
  */
object Dedup {

  /** Base-hash selection for the sketch families (MinHash, SimHash).
    * Signatures from the two modes are NOT comparable to each other. */
  sealed trait HashMode
  /** XXH64, codegen'd with zero string allocation — the throughput path.
    * Signatures are Spark-specific (XXH64 chaining is not portable SQL). */
  case object Fast extends HashMode
  /** md5-derived 60-bit base hash ([[TextFunctions.portableHash64]]) —
    * reproducible in any engine with md5(), so sketches can be
    * oracle-verified or cross-engine-joined, at ~3-5x the hashing cost. */
  case object Portable extends HashMode

  /** NULL-safe content fingerprint: NULL text is not duplicate content
    * (window partitions treat NULLs as equal), so NULL-content rows get a
    * per-row synthetic key and all survive. Shared by [[exact]] and
    * [[Curate.curationAudit]] so "is a duplicate" means the same thing in
    * both. */
  private[operators] def nullSafeFingerprint(textCol: String,
                                             idCol: String): Column =
    coalesce(T.fingerprint(col(textCol)),
      concat(lit("__null__"), col(idCol).cast("string")))

  /** Lowest id among rows sharing a fingerprint — the canonical exact-dup
    * representative. */
  private[operators] def repId(textCol: String, idCol: String): Column =
    min(col(idCol)).over(
      Window.partitionBy(nullSafeFingerprint(textCol, idCol)))

  /** Exact dedup: keep the lowest-id row per normalized-content fingerprint.
    * One shuffle on the md5 key; survivor choice is deterministic. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(nullSafeFingerprint(textCol, idCol))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Cross-document paragraph-level exact dedup (the "deduplicating
    * training data" sub-document granularity): each document is split on
    * `sep`, every paragraph is fingerprinted on its normalized content,
    * and only the globally FIRST occurrence of each fingerprint — lowest
    * (doc id, position) — survives; later occurrences are removed from
    * their documents. Catches boilerplate (headers, footers, license
    * blocks) repeated across documents that whole-document fingerprints
    * can never see, and that intra-doc line dedup ([[Curate.dedupLines]])
    * cannot see either.
    *
    * Scale shape: explode to paragraphs, ONE shuffle on the paragraph
    * fingerprint (first-occurrence rank), one shuffle back on the doc id
    * to reassemble — both keys compact, both aggregations combine-enabled;
    * never corpus-pairwise. Docs whose text is NULL have no paragraphs and
    * emit no row (matching [[Curate.dedupLines]] NULL semantics).
    *
    * Output: (id, n_paragraphs, n_kept, text_deduped) where text_deduped
    * rejoins the surviving paragraphs with `sep` in original order (empty
    * string when every paragraph was seen earlier elsewhere). */
  def dedupParagraphs(df: DataFrame, textCol: String, idCol: String,
                      sep: String = "\n\n"): DataFrame = {
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))))
      .withColumnsRenamed(Map("pos" -> "__pos", "col" -> "__para"))
    val ranked = paras
      .withColumn("__fp", md5(T.normalized(col("__para"))))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__fp").orderBy(col(idCol), col("__pos"))))
    ranked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paragraphs"),
        sum(when(col("__rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the NULLs the `when` leaves for removed
        // paragraphs; array_sort on (pos, para) structs restores document
        // order (collect_list order is partition-arbitrary)
        concat_ws(sep, transform(array_sort(collect_list(
            when(col("__rk") === 1,
              struct(col("__pos"), col("__para"))))),
          s => s.getField("__para"))).as("text_deduped"))
  }

  /** Per-seed multiply-shift mixers over one base xxhash64: odd multipliers
    * (bijective mod 2^64) from a splitmix-style sequence, so each shingle
    * is string-hashed ONCE and the remaining seeds cost a multiply-add. */
  private[graft] def mixConstants(numHashes: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(0x9e3779b97f4a7c15L)
    Seq.fill(numHashes)((rng.nextLong() | 1L, rng.nextLong()))
  }

  /** MinHash signature: for each doc, `numHashes` minima of per-seed 64-bit
    * hashes over its word-`shingleN`-gram shingle windows. Entirely
    * ROW-LOCAL — no explode, no shuffle, no interpreted lambdas in the
    * mix loop.
    *
    * [[Fast]]: fully codegen'd (MinHashSignatureExpr) — normalize +
    * whitespace-split stay in built-in codegen'd expressions; tokenizing
    * artifacts, per-token XXH64, window hash-chaining, and all seed minima
    * run in one tight primitive loop with zero string allocation.
    * [[Portable]]: shingle strings hashed with the md5-derived
    * [[TextFunctions.portableHash64]], seed minima in the codegen'd
    * SeededMinArrayExpr — bit-identical signatures are computable in plain
    * SQL on any md5-capable engine (this is what the DuckDB oracle checks). */
  /** The MinHash signature as a composable Column (row-local — usable in
    * any projection, including over streams). */
  def minhashSignatureCol(text: Column, numHashes: Int = 64,
                          shingleN: Int = 3, mode: HashMode = Fast): Column = {
    import org.apache.spark.sql.graftglue.GraftGlue
    val (as, bs) = mixConstants(numHashes).unzip
    mode match {
      case Fast =>
        GraftGlue.column(graft.functions.MinHashSignatureExpr(
          GraftGlue.expression(split(T.normalized(text), "\\s+")),
          shingleN, as.toArray, bs.toArray))
      case Portable =>
        GraftGlue.column(graft.functions.PortableMinHashExpr(
          GraftGlue.expression(split(T.normalized(text), "\\s+")),
          shingleN, as.toArray, bs.toArray))
    }
  }

  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 64, shingleN: Int = 3,
                        mode: HashMode = Fast): DataFrame =
    df.select(col(idCol),
      minhashSignatureCol(col(textCol), numHashes, shingleN, mode)
        .as("minhash"))

  /** LSH band keys of a signature column, ONE definition shared by every
    * banding site (batch pairs, decontamination, streaming near-dup) so
    * oracle parity cannot silently diverge: murmur for [[Fast]] (narrowest
    * shuffle key), md5 over the comma-joined slice for [[Portable]]
    * (reproducible in oracle SQL). Returns an array of `bands` keys. */
  private[graft] def bandKeysCol(sig: Column, numHashes: Int, bands: Int,
                                 mode: HashMode): Column = {
    val r = numHashes / bands
    val key: Column => Column = mode match {
      case Fast     => sl => hash(sl)
      case Portable => sl => md5(concat_ws(",", transform(sl, _.cast("string"))))
    }
    transform(sequence(lit(0), lit(bands - 1)),
      b => key(slice(sig, b * r + 1, lit(r))))
  }

  /** Exact-dup pre-pass shared by every pair family: split the corpus into
    * (rep, dup) pairs at score 1.0 — linear in cluster size — and the
    * representative set the LSH/df machinery runs on. NULL text rows are
    * excluded up front (duplicates of nothing; the fingerprint window
    * would otherwise group all NULLs into one bogus cluster). */
  private def collapseExactDups(df: DataFrame, textCol: String,
                                idCol: String,
                                scoreName: String): (DataFrame, DataFrame) = {
    val keyed = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("__txt"))
    // same canonical representative rule as exact()/curationAudit
    val withRep = keyed.withColumn("__rep", repId("__txt", "id"))
    val exactPairs = withRep.filter(col("id") =!= col("__rep"))
      .select(col("__rep").as("a"), col("id").as("b"), lit(1.0).as(scoreName))
    (exactPairs,
      withRep.filter(col("id") === col("__rep")).select(col("id"), col("__txt")))
  }

  /** Shared skeleton for the set-similarity families: consistent rare-key
    * filtering (document frequency <= maxDf, applied to the join AND both
    * set sizes) over an exploded (id, `keyCol`) frame, then the
    * shared-count pair join. Output: (a, b, shared, na, nb). */
  private def rareSharedCounts(exploded: DataFrame, keyCol: String,
                               maxDf: Int): DataFrame = {
    val rare = exploded.join(
      exploded.groupBy(keyCol).agg(count("*").as("df"))
        .filter(col("df") <= maxDf).select(keyCol), Seq(keyCol))
    val sizes = rare.groupBy("id").agg(count("*").as("nsz"))
    val shared = rare.as("x").join(rare.as("y"),
        col(s"x.$keyCol") === col(s"y.$keyCol") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count("*").as("shared"))
    shared
      .join(sizes.withColumnsRenamed(Map("id" -> "a", "nsz" -> "na")), "a")
      .join(sizes.withColumnsRenamed(Map("id" -> "b", "nsz" -> "nb")), "b")
  }

  /** MinHash+LSH candidate pairs with estimated Jaccard >= threshold.
    * Exact dups are collapsed first (emitted as est_jaccard=1.0 pairs);
    * representative signatures are banded (`bands` bands of
    * `numHashes/bands` rows); reps sharing any band hash become candidates
    * (self-join on the band key, capped at `maxBucket` members per bucket);
    * candidates are verified with the signature-agreement estimate.
    * Output: (a, b, est_jaccard) with a = lower id. */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7, shingleN: Int = 3,
                   maxBucket: Int = 256, mode: HashMode = Fast,
                   hotBucketRep: Boolean = false): DataFrame = {
    val (exactPairs, reps) = collapseExactDups(df, textCol, idCol, "est_jaccard")
    val sigs = minhashSignatures(reps, "__txt", "id", numHashes, shingleN, mode)
    val banded = sigs.select(col("id"), col("minhash"),
      posexplode(bandKeysCol(col("minhash"), numHashes, bands, mode)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bandhash"))
    val ranked = banded.withColumn("__bn", row_number().over(
      Window.partitionBy(col("band"), col("bandhash")).orderBy(col("id"))))
    val capped = ranked.filter(col("__bn") <= maxBucket).drop("__bn")
    val cand = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bandhash") === col("y.bandhash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.minhash").as("ma"), col("y.minhash").as("mb"))
      .dropDuplicates("a", "b")
    val agree = (ma: Column, mb: Column) =>
      size(filter(zip_with(ma, mb, (x, y) =>
        when(x === y, 1).otherwise(0)), v => v === 1)).cast("double") /
        numHashes
    val lshPairs = cand
      .withColumn("est_jaccard", agree(col("ma"), col("mb")))
      .filter(col("est_jaccard") >= threshold)
      .select("a", "b", "est_jaccard")
    // Hot-bucket representative verify (the Zipfian-class mitigation):
    // the cap bounds the pair join at O(maxBucket^2) per bucket, but a
    // DENSE near-dup class larger than maxBucket (one boilerplate
    // template re-scraped 100k times) then loses every member past the
    // cap — detection recall collapses to maxBucket/class (measured in
    // SKEW_SCALE.json). With hotBucketRep, members BEYOND the cap are
    // verified against their bucket's min-id representative instead of
    // being dropped: O(overflow) extra rows, one equi join against a
    // buckets-sized rep frame, never a pair join — so a hot class costs
    // linear work and every member past the cap still gets its
    // (rep, member) pair if the signatures agree. Emitted pairs remain
    // a verified SUBSET of the uncapped pair set (precision is
    // unaffected); pairs between two beyond-cap non-rep members are
    // still not emitted — for dedup keep-one semantics the star around
    // the rep is what matters.
    val withHot =
      if (!hotBucketRep) lshPairs
      else {
        val repRows = ranked.filter(col("__bn") === 1)
          .select(col("band").as("__rb"), col("bandhash").as("__rh"),
            col("id").as("__rid"), col("minhash").as("__rsig"))
        val hotPairs = ranked.filter(col("__bn") > maxBucket)
          .join(repRows, col("band") === col("__rb")
            && col("bandhash") === col("__rh"))
          .select(col("__rid").as("a"), col("id").as("b"),
            col("__rsig").as("ma"), col("minhash").as("mb"))
          .dropDuplicates("a", "b")
          .withColumn("est_jaccard", agree(col("ma"), col("mb")))
          .filter(col("est_jaccard") >= threshold)
          .select("a", "b", "est_jaccard")
        // a pair can surface on both paths via DIFFERENT bands (b past
        // the cap in one band, within it in another) — dedup the union
        lshPairs.unionByName(hotPairs).dropDuplicates("a", "b")
      }
    exactPairs.unionByName(withHot)
  }

  /** SimHash over whitespace tokens: per-bit majority vote of token
    * hashes. [[Fast]] votes on 63 XXH64 bits; [[Portable]] votes on the 60
    * bits of [[TextFunctions.portableHash64]] (oracle-reproducible). The
    * sign bit is always clear so the value is a non-negative long.
    *
    * Entirely ROW-LOCAL (codegen [[graft.functions.SimHashExpr]]): the
    * majority vote needs only a doc's own tokens, so there is no explode,
    * no shuffle and no aggregate — the corpus is scanned once. Docs with
    * zero tokens (empty/NULL text) emit no row. Ids are assumed unique per
    * doc; on duplicate ids this form emits one signature row per INPUT row
    * (the aggregate form merged them) — [[simhashPairs]] stays safe either
    * way (a<b excludes self pairs, dropDuplicates excludes repeats), and
    * both behaviors are pinned in DedupSimilaritySpec. */
  def simhash(df: DataFrame, textCol: String, idCol: String,
              mode: HashMode = Fast): DataFrame = {
    import org.apache.spark.sql.graftglue.GraftGlue
    val sig = GraftGlue.column(graft.functions.SimHashExpr(
      GraftGlue.expression(split(T.normalized(col(textCol)), "\\s+")),
      portable = mode == Portable))
    df.select(col(idCol), sig.as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Aggregate reference form of [[simhash]] (explode -> one conditional
    * sum per bit): the shape the DuckDB oracle mirrors; not for hot
    * paths. */
  private[graft] def simhashAgg(df: DataFrame, textCol: String, idCol: String,
                                mode: HashMode = Fast): DataFrame = {
    val (hashOf, nbits): (Column => Column, Int) = mode match {
      case Fast     => ((c: Column) => xxhash64(c), 63)
      case Portable => ((c: Column) => T.portableHash64(c), 60)
    }
    val tok = df.select(col(idCol),
      explode(T.tokens(T.normalized(col(textCol)))).as("__t"))
      .withColumn("__h", hashOf(col("__t")))
    val bitSums = (0 until nbits).map(i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"b$i"))
    tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until nbits).map(i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: Hamming distance <= maxDist. Candidate
    * generation blocks on `blocks` disjoint bit-segments (pigeonhole: any
    * pair within maxDist agrees on >= one full segment when
    * blocks > maxDist), so the self-join key is a short segment value, never
    * the full corpus. Identical simhashes pile into one segment bucket, so
    * buckets are capped at `maxBucket` members (rank by id). */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3, blocks: Int = 4,
                   maxBucket: Int = 1024, mode: HashMode = Fast): DataFrame = {
    require(blocks > maxDist,
      s"pigeonhole needs blocks > maxDist (got $blocks <= $maxDist): " +
        "a pair within maxDist must agree on at least one full segment")
    val segBits = 63 / blocks
    val sh = simhash(df, textCol, idCol, mode).withColumnRenamed(idCol, "id")
    val seg = sh.select(col("id"), col("simhash"),
      posexplode(array((0 until blocks).map(b =>
        shiftright(col("simhash"), b * segBits)
          .bitwiseAND((1L << segBits) - 1)): _*)))
      .withColumnsRenamed(Map("pos" -> "seg", "col" -> "segval"))
    val capped = seg.withColumn("__bn", row_number().over(
        Window.partitionBy(col("seg"), col("segval")).orderBy(col("id"))))
      .filter(col("__bn") <= maxBucket).drop("__bn")
    val hamming: (Column, Column) => Column = (x, y) =>
      bit_count(x.bitwiseXOR(y))
    capped.as("x").join(capped.as("y"),
        col("x.seg") === col("y.seg") && col("x.segval") === col("y.segval") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        hamming(col("x.simhash"), col("y.simhash")).as("hamming"))
      .dropDuplicates("a", "b")
      .filter(col("hamming") <= maxDist)
  }

  /** N-gram Jaccard similarity over the RARE-shingle universe: shingles
    * with document frequency > maxDf are excluded CONSISTENTLY — from the
    * pair join AND from both set sizes — so the result is the exact Jaccard
    * of the filtered shingle sets (equal to true Jaccard when no shingle
    * exceeds maxDf; an approximation biased toward rare content otherwise).
    * Pairs sharing only high-df shingles are not emitted. Exact dups are
    * collapsed FIRST and emitted as jaccard=1.0 (rep, dup) pairs — without
    * this, a large identical-doc cluster pushes its own shingles over
    * maxDf and silently loses every pair.
    * Output: (a, b, jaccard). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.2,
                        maxDf: Int = 50): DataFrame = {
    val (exactPairs, reps) = collapseExactDups(df, textCol, idCol, "jaccard")
    val sh = reps.select(col("id"),
      explode(array_distinct(T.shingles(col("__txt"), n))).as("sh"))
    val nearPairs = rareSharedCounts(sh, "sh", maxDf)
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
    exactPairs.unionByName(nearPairs)
  }

  /** Embedding-cosine near-dup pairs. Identical vectors are collapsed
    * first and emitted as cos=1.0 (rep, dup) pairs — linear in cluster
    * size. Distinct representatives go through BANDED sign-LSH (`bands`
    * independent tables of `nBits` hyperplane sign bits each, all derived
    * from one `bands*nBits`-bit signature computed in a single projection
    * pass): reps sharing any band value become candidates, capped at
    * `maxBucket` members per (band, value) bucket (rank by id), and exact
    * cosine verifies. Recall at similarity s is 1-(1-p^nBits)^bands with
    * p = 1 - acos(s)/pi — tune nBits up (selectivity) and bands up (recall).
    * Candidate volume is bounded by bands * sum(bucket^2) with bucket <=
    * maxBucket, never quadratic in the corpus.
    *
    * `hotBucketRep` is the dense-class mitigation ([[minhashPairs]]'s,
    * verbatim): a semantic class LARGER than `maxBucket` (one boilerplate
    * embedding neighborhood scraped 100k times) otherwise loses every
    * member past the cap; with the flag, beyond-cap members verify
    * (exact cosine) against their bucket's min-id representative in
    * O(overflow) — one equi join against a buckets-sized rep frame,
    * never a pair join. The star around the rep is exactly the
    * connectivity [[clusters]] needs to keep the class WHOLE, so the
    * composite consumers ([[semanticPrune]], [[keepBestPerCluster]] fed
    * from this family) stop fragmenting dense classes into
    * maxBucket-sized islands (pinned in DedupSimilaritySpec). */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            threshold: Double = 0.9, nBits: Int = 4,
                            bands: Int = 8, maxBucket: Int = 256,
                            dim: Int = 64, seed: Long = 42L,
                            hotBucketRep: Boolean = false): DataFrame = {
    require(nBits * bands <= 62, "signature must fit in a long")
    // NULL vectors pair with nothing (see minhashPairs NULL note)
    val withRep = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("__rep", min(col("id")).over(Window.partitionBy(col("v"))))
    val exactPairs = withRep.filter(col("id") =!= col("__rep"))
      .select(col("__rep").as("a"), col("id").as("b"), lit(1.0).as("cos"))
    val reps = withRep.filter(col("id") === col("__rep")).select("id", "v")

    val planes = V.randomPlanes(nBits * bands, dim, seed)
    val sig = reps.select(col("id"), col("v"),
      V.signBucketChecked(col("v"), planes).as("sig"))
    val banded = sig.select(col("id"), col("v"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * nBits).bitwiseAND((1L << nBits) - 1)): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
    val ranked = banded.withColumn("__bn", row_number().over(
        Window.partitionBy(col("band"), col("bval")).orderBy(col("id"))))
    val capped = ranked.filter(col("__bn") <= maxBucket).drop("__bn")
    val lshPairs = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.v").as("va"), col("y.v").as("vb"))
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"), V.cosineFast(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
    val withHot =
      if (!hotBucketRep) lshPairs
      else {
        val repRows = ranked.filter(col("__bn") === 1)
          .select(col("band").as("__rb"), col("bval").as("__rh"),
            col("id").as("__rid"), col("v").as("__rv"))
        val hotPairs = ranked.filter(col("__bn") > maxBucket)
          .join(repRows, col("band") === col("__rb")
            && col("bval") === col("__rh"))
          .select(col("__rid").as("a"), col("id").as("b"),
            col("__rv").as("va"), col("v").as("vb"))
          .dropDuplicates("a", "b")
          .select(col("a"), col("b"),
            V.cosineFast(col("va"), col("vb")).as("cos"))
          .filter(col("cos") >= threshold)
        // a pair can surface on both paths via DIFFERENT bands (b past
        // the cap in one band, within it in another) — dedup the union
        lshPairs.unionByName(hotPairs).dropDuplicates("a", "b")
      }
    exactPairs.unionByName(withHot)
  }

  /** Partial-duplication / containment pairs via content-defined chunking:
    * docs sharing >= `threshold` of the SMALLER doc's chunk fingerprints
    * (an overlap coefficient — containment of a short doc inside a long
    * one scores high, unlike Jaccard). Same bounded shape as the shingle
    * families: exact-dup pre-pass, then rare-chunk shared-count join.
    * Output: (a, b, overlap). */
  def chunkOverlapPairs(df: DataFrame, textCol: String, idCol: String,
                        threshold: Double = 0.5, minChunk: Int = 16,
                        maskBits: Int = 6, maxDf: Int = 50,
                        mode: HashMode = Fast): DataFrame = {
    val (exactPairs, reps) = collapseExactDups(df, textCol, idCol, "overlap")
    val ch = reps.select(col("id"),
      explode(array_distinct(
        T.cdcChunks(col("__txt"), minChunk, maskBits,
          portable = mode == Portable))).as("ch"))
    val nearPairs = rareSharedCounts(ch, "ch", maxDf)
      .withColumn("overlap",
        col("shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("overlap") >= threshold)
      .select("a", "b", "overlap")
    exactPairs.unionByName(nearPairs)
  }

  /** Test-set DECONTAMINATION: flag corpus rows whose content matches a
    * REFERENCE set (benchmark/eval data) exactly or near (MinHash band
    * candidacy verified by signature agreement >= `threshold`) — the
    * standard pre-training step that within-corpus dedup does not cover.
    *
    * Scale shape: the reference side is small (benchmark suites), so the
    * reference fingerprint/signature probes are BROADCAST joins computed
    * once on a few thousand rows, and the exact flag costs no corpus
    * shuffle at all. The near flag joins back a set of CORPUS ids whose
    * size scales with contamination, not with the reference — that join is
    * deliberately unhinted: AQE broadcasts it when small and shuffles the
    * corpus once when contamination is corpus-scale (forcing broadcast
    * there would be a driver OOM on exactly the corpora this operator
    * exists to catch). Output: the corpus plus
    * `exact_contaminated` / `near_contaminated` booleans (filter on them
    * to drop; keep them to audit). */
  def contaminationFlags(corpus: DataFrame, reference: DataFrame,
                         textCol: String, idCol: String,
                         numHashes: Int = 32, bands: Int = 8,
                         threshold: Double = 0.8, shingleN: Int = 3,
                         mode: HashMode = Fast): DataFrame = {
    def banded(sigCol: Column): Column =
      bandKeysCol(sigCol, numHashes, bands, mode)

    val refFp = reference.filter(col(textCol).isNotNull)
      .select(T.fingerprint(col(textCol)).as("__rfp")).distinct()
    val refSig = reference.filter(col(textCol).isNotNull)
      .select(minhashSignatureCol(col(textCol), numHashes, shingleN, mode)
        .as("__rsig"))
      .select(col("__rsig"), explode(banded(col("__rsig"))).as("__rband"))

    val withSig = corpus.withColumn("__fp", T.fingerprint(col(textCol)))
      .withColumn("__sig",
        minhashSignatureCol(col(textCol), numHashes, shingleN, mode))
    // exact flag: ONE direct left join against the reference-bounded
    // distinct fingerprint set (at most one match per row -> no row
    // multiplication, no derived corpus-scale set to rebroadcast)
    val withExact = withSig.join(broadcast(refFp.withColumn("__e", lit(true))),
      col("__fp") === col("__rfp"), "left")
    // band candidacy -> signature-agreement verify, still broadcast-side
    val near = withSig
      .select(col(idCol).as("__nid"), col("__sig"),
        explode(banded(col("__sig"))).as("__band"))
      .join(broadcast(refSig), col("__band") === col("__rband"))
      .filter(size(filter(zip_with(col("__sig"), col("__rsig"),
        (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
        .cast("double") / numHashes >= threshold)
      .select(col("__nid")).distinct()

    // `near` holds CORPUS ids, so its size scales with how contaminated
    // the corpus is — NOT with the reference. No broadcast hint: AQE
    // broadcasts it when it is small (the common case) and falls back to a
    // shuffle join when contamination is corpus-scale, where a forced
    // broadcast would be a driver OOM (the round-3 hazard). The refFp /
    // refSig broadcasts above ARE reference-bounded and stay hinted.
    withExact.join(near.withColumn("__n", lit(true)),
        col(idCol) === col("__nid"), "left")
      .withColumn("exact_contaminated", coalesce(col("__e"), lit(false)))
      .withColumn("near_contaminated", coalesce(col("__n"), lit(false)))
      .drop("__fp", "__sig", "__rfp", "__e", "__nid", "__n")
  }

  /** N-GRAM overlap decontamination — the published-benchmark rule (GPT-3
    * appendix C / PaLM style): a corpus doc is contaminated when it shares
    * at least `minMatches` DISTINCT word n-grams with the reference
    * (benchmark) set. Complements [[contaminationFlags]]: that flags
    * whole-content matches (exact fingerprint / MinHash agreement), this
    * catches a benchmark QUOTED INSIDE an otherwise-novel document, which
    * whole-document similarity dilutes below any threshold.
    *
    * Scale shape: each side deduplicates its n-grams row-locally
    * (`array_distinct` BEFORE the explode, so a doc repeating one phrase
    * 10^6 times contributes each gram once), grams travel as 8-byte
    * hashes, and the reference gram set is benchmark-bounded — the join is
    * left unhinted so AQE broadcasts it (the common case) without hardcoding
    * a driver-size assumption. One gram-hash join + one doc-id count
    * aggregation; never pairwise in the corpus.
    *
    * Output: (id, n_matched, contaminated) for every corpus row —
    * n_matched = distinct reference grams the doc shares (0 for clean docs,
    * and for docs shorter than n words: a sub-n doc yields its whole text
    * as its only "gram", matching [[TextFunctions.shingles]]). */
  def ngramDecontaminate(corpus: DataFrame, reference: DataFrame,
                         textCol: String, idCol: String,
                         n: Int = 13, minMatches: Int = 1,
                         mode: HashMode = Fast,
                         refGramsCached: Option[DataFrame] = None)
      : DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    require(minMatches >= 1, s"minMatches must be >= 1: $minMatches")
    val refGrams = refGramsCached.getOrElse(
      ngramRefGrams(reference, textCol, n, mode))
    val matches = ngramMatchCounts(corpus, refGrams, textCol, idCol,
      n, mode)
    corpus.join(matches, col(idCol) === col("__mid"), "left")
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("contaminated", col("n_matched") >= minMatches)
      .drop("__mid")
  }

  /** Per-row reference-gram match counts (`__mid`, `n_matched`) — the
    * inner pass of [[ngramDecontaminate]]. */
  private def ngramMatchCounts(corpus: DataFrame, refGrams: DataFrame,
                               textCol: String, idCol: String,
                               n: Int, mode: HashMode): DataFrame =
    corpus.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__mid"),
        explode(gramHashesCol(col(textCol), n, mode)).as("__g"))
      .join(refGrams, col("__g") === col("__rg"))
      .groupBy(col("__mid"))
      .agg(count(lit(1)).as("n_matched")) // grams pre-distinct per side

  /** The CONTAMINATED-ID side of [[ngramDecontaminate]] — ids with
    * >= `minMatches` reference-gram matches, column `__mid` — exposed
    * for the same independent-branch composition as
    * [[nearIncrementalHitIds]]: each row's contamination decision
    * depends only on the reference grams, so the id set is identical
    * whichever batch subset it is computed from, and a caller can
    * anti-join it instead of threading the whole batch through the
    * wide decontaminate-then-filter chain. */
  def ngramContaminatedIds(corpus: DataFrame, refGrams: DataFrame,
                           textCol: String, idCol: String,
                           n: Int = 13, minMatches: Int = 1,
                           mode: HashMode = Fast): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    require(minMatches >= 1, s"minMatches must be >= 1: $minMatches")
    ngramMatchCounts(corpus, refGrams, textCol, idCol, n, mode)
      .filter(col("n_matched") >= minMatches)
      .select(col("__mid"))
  }

  private def gramHashesCol(c: Column, n: Int, mode: HashMode): Column = {
    val grams = array_distinct(T.shingles(c, n))
    mode match {
      case Fast     => transform(grams, g => xxhash64(g))
      case Portable => transform(grams, g => T.portableHash64(g))
    }
  }

  /** The reference side of [[ngramDecontaminate]] — its distinct gram
    * hashes — exposed so a refresh loop decontaminating MANY drops
    * against ONE benchmark slice computes them once and caches across
    * triggers (pass via `ngramDecontaminate(refGramsCached = ...)`). */
  def ngramRefGrams(reference: DataFrame, textCol: String,
                    n: Int = 13, mode: HashMode = Fast): DataFrame =
    reference.filter(col(textCol).isNotNull)
      .select(explode(gramHashesCol(col(textCol), n, mode)).as("__rg"))
      .distinct()

  /** SEMANTIC decontamination — drop corpus rows whose embedding is
    * cosine-similar (>= thresholdPct/100) to ANY benchmark embedding:
    * the paraphrase-contamination rule that text-overlap decontamination
    * ([[ngramDecontaminate]]) structurally cannot catch (a reworded
    * benchmark item shares no 13-gram with its source).
    *
    * Scale shape: the benchmark set is eval-benchmark-bounded (thousands,
    * not corpus-scale) and rides into every task as ONE broadcast; the
    * corpus is scanned ONCE through a broadcast nested-loop ANTI join —
    * zero corpus shuffle, and each row short-circuits on its first hit.
    * The threshold test is exact integer arithmetic over truncating
    * unit-quantized vectors (dot > 0 and (dot*100)^2 >= t^2*|a|^2*|b|^2
    * in decimal(38)), so the keep/drop decision replays bit-for-bit in
    * another engine — no float-tie hazard at the threshold boundary.
    *
    * NULL corpus vectors match nothing and are KEPT (they carry no
    * semantic evidence; route them to a quality gate instead). NULL
    * benchmark vectors are ignored. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            vecCol: String, idCol: String,
                            thresholdPct: Int,
                            unitScale: Long = 1000000L): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct must be in [1,100]: $thresholdPct")
    def toUnits(c: Column): Column =
      transform(c, x => (x.cast("double") * unitScale).cast("long"))
    def norm2(c: Column): Column =
      aggregate(transform(c, x => x * x), lit(0L), (acc, v) => acc + v)
    val dec = "decimal(38,0)"
    val bench = benchmark.filter(col(vecCol).isNotNull)
      .select(toUnits(col(vecCol)).as("__bu"))
      .withColumn("__bn", norm2(col("__bu")))
    val withUnits = corpus
      .withColumn("__au", when(col(vecCol).isNotNull, toUnits(col(vecCol))))
      .withColumn("__an", when(col(vecCol).isNotNull, norm2(col("__au"))))
    val dot = aggregate(zip_with(col("__au"), col("__bu"), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val t2 = thresholdPct.toLong * thresholdPct
    val exactHit = dot > 0 &&
      (dot.cast(dec) * dot.cast(dec) * lit(10000L).cast(dec)) >=
        (lit(t2).cast(dec) * col("__an").cast(dec) * col("__bn").cast(dec))
    // Fail LOUD, not open: a corpus/benchmark dimension mismatch would make
    // zip_with pad with NULLs, NULL the hit predicate, and silently keep
    // every row — i.e. silently disable the contamination gate. Same
    // discipline as the PQ paths' dimGuard. A NULL on EITHER side carries
    // no evidence and is never a hit (the benchmark filter above already
    // drops NULL bench rows; the guard keeps the raise_error branch from
    // firing a misleading "N vs -1" if that filter is ever bypassed).
    val hit = when(col("__au").isNull || col("__bu").isNull, lit(false))
      .when(size(col("__au")) === size(col("__bu")), exactHit)
      .otherwise(raise_error(concat(
        lit("semanticDecontaminate: corpus/benchmark embedding dimension "),
        lit("mismatch: "), size(col("__au")).cast("string"),
        lit(" vs "), size(col("__bu")).cast("string"))))
    withUnits.join(broadcast(bench), hit, "left_anti")
      .drop("__au", "__an")
  }

  /** CORPUS-SCALE semantic decontamination — the same exact integer-cosine
    * keep/drop rule as [[semanticDecontaminate]], but safe when the
    * reference set is itself large (a second corpus, not a benchmark
    * suite): candidates meet through ONE equi join on banded sign-LSH keys
    * (the [[embeddingNearDupPairs]] machinery) instead of a broadcast
    * nested-loop over every (corpus, reference) pair — no driver-sized
    * assumption on the reference, no |corpus|x|reference| scored volume.
    *
    * Scale shape: both sides compute a `bands*nBits`-bit signature in one
    * row-local projection pass and explode to `bands` (band, value) keys —
    * but the corpus side ships ONLY the compact (id, band, value) triple
    * through the band shuffle, never its unit vectors: candidate pairs
    * (id, reference vector) come out of the band join sized by COLLISION
    * count, not corpus count, and the corpus's unit vectors are re-joined
    * by id for candidate rows only (unhinted — AQE broadcasts the
    * candidate set when contamination is sparse, the common case, so the
    * corpus is scanned rather than shuffled; corpus-scale contamination
    * falls back to one id-hash shuffle, where a forced broadcast would be
    * a driver OOM). AQE may also broadcast a small reference side — but as
    * a hash join on the band key, never a nested loop. A pair colliding in
    * several bands is verified per collision (bounded by `bands`) and
    * collapsed by the final distinct-id anti join.
    *
    * RECALL CONTRACT (the banded-LSH trade, same as
    * [[embeddingNearDupPairs]]): a contaminated pair is caught iff it
    * agrees on all `nBits` planes of at least one band — probability
    * 1-(1-p^nBits)^bands at p = 1-acos(cos)/pi. Paraphrase-level hits
    * (cos >= ~0.9, p >= 0.9) are caught with near-certainty at the
    * defaults; pairs AT a low threshold boundary can be missed — use
    * [[semanticDecontaminate]] when the reference truly is
    * benchmark-bounded and exactness at the boundary matters more than
    * scale. The verify itself is the identical decimal(38) integer rule,
    * so everything past the prefilter replays bit-for-bit.
    *
    * NULL corpus vectors are KEPT, NULL reference vectors ignored, and a
    * dimension mismatch fails loud inside signBucketChecked — the
    * [[semanticDecontaminate]] contracts, unchanged. */
  def semanticDecontaminateAtScale(corpus: DataFrame, reference: DataFrame,
                                   vecCol: String, idCol: String,
                                   thresholdPct: Int, nBits: Int = 4,
                                   bands: Int = 8, dim: Int = 64,
                                   seed: Long = 42L,
                                   unitScale: Long = 1000000L): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct must be in [1,100]: $thresholdPct")
    require(nBits >= 1 && bands >= 1 && nBits * bands <= 62,
      s"signature must fit in a long: nBits=$nBits bands=$bands")
    def toUnits(c: Column): Column =
      transform(c, x => (x.cast("double") * unitScale).cast("long"))
    def norm2(c: Column): Column =
      aggregate(transform(c, x => x * x), lit(0L), (acc, v) => acc + v)
    val planes = V.randomPlanes(nBits * bands, dim, seed)
    def bandKeys(sig: Column): Column =
      array((0 until bands).map(b =>
        shiftright(sig, b * nBits).bitwiseAND((1L << nBits) - 1)): _*)
    val ref = reference.filter(col(vecCol).isNotNull)
      .select(toUnits(col(vecCol)).as("__bu"),
        V.signBucketChecked(col(vecCol), planes).as("__bsig"))
      .withColumn("__bn", norm2(col("__bu")))
      .select(col("__bu"), col("__bn"),
        posexplode(bandKeys(col("__bsig"))))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bval"))
    val corpusBands = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__cid"),
        V.signBucketChecked(col(vecCol), planes).as("__asig"))
      .select(col("__cid"), posexplode(bandKeys(col("__asig"))))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bval"))
    val candPairs = corpusBands.join(ref, Seq("__band", "__bval"))
      .select(col("__cid"), col("__bu"), col("__bn"))
    val units = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__cid"), toUnits(col(vecCol)).as("__au"))
      .withColumn("__an", norm2(col("__au")))
    val dot = aggregate(zip_with(col("__au"), col("__bu"), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val dec = "decimal(38,0)"
    val t2 = thresholdPct.toLong * thresholdPct
    val hitIds = units.join(candPairs, Seq("__cid"))
      .filter(dot > 0 &&
        (dot.cast(dec) * dot.cast(dec) * lit(10000L).cast(dec)) >=
          (lit(t2).cast(dec) * col("__an").cast(dec) * col("__bn").cast(dec)))
      .select(col("__cid")).distinct()
    corpus.join(hitIds, col(idCol) === col("__cid"), "left_anti")
  }

  /** Connected components over a near-dup pair graph: every node gets
    * `cluster = `the minimum id reachable through pairs — the transitive
    * closure semantics real dedup needs (A~B and B~C means keep ONE of
    * {A,B,C}, though A and C never paired directly). Iterative min-label
    * propagation: each round joins labels across edges and keeps the
    * minimum, converging in O(graph diameter) rounds — near-dup clusters
    * are hub-shaped (members pair with a representative), so a handful of
    * rounds suffices; `maxIter` caps adversarial chains and convergence
    * is checked per round (one count action). Lineage is cut with an
    * eager localCheckpoint per round so the plan does not grow
    * exponentially — the standard Spark iterative-algorithm discipline —
    * and each superseded round's checkpoint blocks are released as soon
    * as the next round lands, so peak storage is two label generations +
    * the edge set, not O(rounds).
    * Output: (id, cluster) for every id appearing in `pairs`. */
  def clusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // materialize the (possibly expensive — LSH join) pair plan ONCE: the
    // symmetric union would otherwise evaluate it twice, and every
    // downstream round leans on `edges` anyway
    val p = pairs.select(col("a"), col("b")).localCheckpoint(true)
    val edges = p
      .unionByName(p.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint(true)
    GraftGlue.releaseCheckpoint(p)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(true)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // __old must match the (caller-defined) cluster id type exactly or
      // the union would reject/coerce string and numeric id graphs
      val clusterType = labels.schema("cluster").dataType
      val prop = edges.join(labels, edges("b") === labels("id"))
        .select(edges("a").as("id"), col("cluster"),
          lit(null).cast(clusterType).as("__old"))
      // carry each id's previous label through the aggregation (labels has
      // exactly one row per id, so min(__old) recovers it; min skips the
      // propagation rows' NULLs) — convergence is then a NARROW filter
      // over the checkpointed result instead of a per-round shuffle join
      val next = labels.withColumn("__old", col("cluster"))
        .unionByName(prop)
        .groupBy("id").agg(min("cluster").as("cluster"),
          min("__old").as("__old"))
        .localCheckpoint(true)
      converged = next.filter(col("cluster") =!= col("__old")).isEmpty
      // `next` is materialized — the previous generation's checkpoint
      // blocks are dead weight from here on; free them now
      GraftGlue.releaseCheckpoint(labels)
      labels = next.drop("__old")
      i += 1
    }
    GraftGlue.releaseCheckpoint(edges)
    // a silent non-converged return would split components (and read as a
    // hash mismatch at the oracle) — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge in $maxIter rounds; " +
        "the pair graph has a min-id eccentricity beyond maxIter — raise it")
    labels
  }

  /** SEMANTIC dedup (SemDeDup-shaped): prune a corpus down to one
    * representative per embedding-similarity cluster. Composes the scale
    * machinery this file already pins: [[embeddingNearDupPairs]] (banded
    * sign-LSH candidates, capped buckets, exact-cosine verify) feeds
    * [[clusters]] (transitive min-label closure), and every row whose
    * cluster label is not its own id is dropped — so A~B and B~C keeps
    * exactly one of {A,B,C} even though A and C never paired directly.
    * Rows that pair with nothing keep themselves.
    *
    * Scale shape: inherits the pair family's bounded candidate volume and
    * the closure's O(diameter) rounds; the final prune is ONE anti join on
    * the id against the (pairs-bounded, much-smaller-than-corpus) dropped
    * set — unhinted, AQE broadcasts it when pruning is light.
    *
    * Output: the input rows that survive, unchanged. Audit the other side
    * with [[clusters]] directly if you need cluster sizes.
    *
    * `hotBucketRep = true` keeps a DENSE class (> maxBucket members)
    * whole: without it the cap fragments the class into bucket-sized
    * islands and this prune keeps one survivor PER ISLAND instead of
    * one per class (see [[embeddingNearDupPairs]]). */
  def semanticPrune(df: DataFrame, vecCol: String, idCol: String,
                    threshold: Double = 0.9, nBits: Int = 4,
                    bands: Int = 8, maxBucket: Int = 256,
                    dim: Int = 64, seed: Long = 42L,
                    maxIter: Int = 10,
                    hotBucketRep: Boolean = false): DataFrame = {
    val pairs = embeddingNearDupPairs(df, vecCol, idCol, threshold, nBits,
      bands, maxBucket, dim, seed, hotBucketRep = hotBucketRep)
    val dropped = clusters(pairs, maxIter)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("__drop_id"))
    df.join(dropped, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** QUALITY-AWARE cluster representative selection: one survivor per
    * near-dup cluster — the row with the HIGHEST `scoreCol` (ties to the
    * lowest id; NULL scores lose to any non-NULL) — instead of
    * [[semanticPrune]]'s keep-lowest-id convention. The curation rule
    * real pipelines want: among near-duplicate crawls of one page, keep
    * the longest / highest-quality capture, not whichever id sorted
    * first. Rows that pair with nothing are their own cluster and
    * survive unchanged.
    *
    * Scale shape: [[clusters]]' label frame is pairs-bounded (unhinted
    * join — AQE broadcasts it when duplication is light), then ONE
    * window shuffle on the cluster key. Output: surviving input rows,
    * unchanged columns. */
  def keepBestPerCluster(df: DataFrame, pairs: DataFrame, idCol: String,
                         scoreCol: String, maxIter: Int = 10): DataFrame = {
    val labels = clusters(pairs, maxIter)
      .select(col("id").as("__cid"), col("cluster").as("__cl"))
    val withCl = df.join(labels, col(idCol) === col("__cid"), "left")
      .withColumn("__cluster", coalesce(col("__cl"), col(idCol)))
      .drop("__cid", "__cl")
    val w = Window.partitionBy(col("__cluster"))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol))
    withCl.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__cluster")
  }

  /** Bucket-population audit for the capped LSH families: per-bucket member
    * counts and how many members the `maxBucket` cap would drop. Run this
    * (cheap: one aggregation) to observe what the caps cost on a corpus. */
  def bucketAudit(bucketed: DataFrame, bucketCols: Seq[String],
                  maxBucket: Int): DataFrame =
    bucketed.groupBy(bucketCols.map(col): _*)
      .agg(count("*").as("members"))
      .withColumn("capped_out", greatest(col("members") - maxBucket, lit(0L)))
  /** INCREMENTAL exact dedup: dedup a new ingest batch within itself
    * (lowest-id survivor per content fingerprint, exactly [[exact]]),
    * then drop every survivor whose fingerprint already exists in the
    * PRIOR corpus version — the per-ingest step of a continuously-growing
    * corpus, where re-deduping the full corpus per batch would be
    * O(corpus) every day.
    *
    * Scale shape: the batch pays [[exact]]'s one fingerprint shuffle; the
    * corpus-sized prior is reduced to its fingerprint column and probed
    * via [[graft.operators.Joins.bloomAntiJoin]] — the prior's bloom
    * ships in the task binary, so prior-corpus fingerprints are scanned
    * once (to build the bloom + the confirm side) and the BATCH never
    * shuffles against the full prior, only its fpp-sized candidate
    * sliver does. NULL-text rows are per-id unique (never cross-version
    * duplicates), matching [[exact]]'s null-safe fingerprint rule.
    *
    * `bloom` hands in a pre-built filter covering (a superset of) the
    * reference fingerprints, skipping the per-call bloom jobs entirely
    * — for a loop that holds ONE merged bloom across calls (prior +
    * every earlier accepted batch, as [[graft.streaming
    * .RefreshPipeline.FingerprintBloom]] does), so each call pays
    * O(batch) bloom work instead of re-aggregating the whole accepted
    * history. Exactness is unaffected either way: the bloom only
    * routes candidates into the confirming anti join. */
  def exactIncremental(batch: DataFrame, prior: DataFrame,
                       textCol: String, idCol: String,
                       fpp: Double = 0.01,
                       refFps: Option[DataFrame] = None,
                       bloom: Option[org.apache.spark.util.sketch
                         .BloomFilter] = None): DataFrame = {
    // prior-drop BEFORE in-batch dedup: the anti join's two branches then
    // recompute only the row-local fingerprint projection over the batch
    // scan, never the dedup window shuffle (bloomAntiJoin evaluates its
    // input twice). Order is semantics-preserving: a prior-version drop
    // removes a WHOLE fingerprint group or none of it, so the in-batch
    // survivor per remaining group is unchanged.
    val withFp = batch.withColumn("__fp", T.fingerprint(col(textCol)))
    val priorFp = refFps.getOrElse(exactFingerprints(prior, textCol))
    val fresh = Joins.bloomAntiJoin(withFp, priorFp, "__fp", "__pfp", fpp,
        preBuilt = bloom)
      .drop("__fp")
    exact(fresh, textCol, idCol)
  }

  /** [[exactIncremental]] with the reference split into its STABLE part
    * (the prior corpus' fingerprints, cached once per run) and its
    * GROWING part (the accepted-history ledger) and the bloom supplied
    * by the caller.
    *
    * Why the split matters: the single-frame form unions both parts,
    * and a union has no partitioning, so every trigger's confirm join
    * re-shuffles and re-sorts the CORPUS-sized reference. Here the
    * caller caches `stableFps` pre-partitioned and pre-sorted on
    * `__pfp` (`GraftGlue.checkpointWithLayout`), so the
    * stable confirm is a partition-local merge scan with ZERO exchange
    * and zero sort on the reference side, every trigger; only the
    * (compact, fingerprint-only) ledger side still pays a per-trigger
    * shuffle, and only against the bloom-positive candidate sliver.
    *
    * Structure: ONE bloom probe splits the batch; bloom-negative rows
    * bypass everything (definitely fresh), bloom-positive rows confirm
    * against the two reference parts sequentially (anti vs a union ==
    * sequential antis). The in-batch survivor rule is [[exact]]'s,
    * applied after, exactly as [[exactIncremental]] orders it. The
    * bloom must cover stable ∪ growing ([[graft.streaming
    * .RefreshPipeline.FingerprintBloom]]'s invariant); extra members
    * cost confirm work, a missing member would lose exactness and is
    * on the caller. */
  def exactIncrementalStaged(batch: DataFrame, textCol: String,
                             idCol: String, stableFps: DataFrame,
                             growingFps: Option[DataFrame],
                             bloom: org.apache.spark.util.sketch
                               .BloomFilter): DataFrame = {
    import org.apache.spark.sql.graftglue.GraftGlue
    val withFp = batch.withColumn("__fp", T.fingerprint(col(textCol)))
    val probe = GraftGlue.column(graft.functions.BloomMightContainExpr(
      GraftGlue.expression(withFp("__fp")), bloom))
    val bypass = withFp.filter(col("__fp").isNull || !probe)
    // alias projections preserve the cached frame's partitioning and
    // ordering, so the merge join needs no reference-side exchange
    val sKeys = stableFps.select(col("__pfp").as("__sk"))
      .filter(col("__sk").isNotNull)
    val afterStable = withFp.filter(probe)
      .join(sKeys, col("__fp") === col("__sk"), "left_anti")
    val confirmed = growingFps match {
      case Some(g) =>
        val gKeys = g.select(col("__pfp").as("__gk"))
          .filter(col("__gk").isNotNull)
        afterStable.join(gKeys, col("__fp") === col("__gk"), "left_anti")
      case None => afterStable
    }
    exact(bypass.unionByName(confirmed).drop("__fp"), textCol, idCol)
  }

  /** The prior side of [[exactIncremental]] — its normalized text
    * fingerprints as `__pfp` — exposed so a refresh loop deduping MANY
    * drops against ONE prior corpus computes them once, caches them,
    * and per trigger only unions the (tiny) fingerprints of docs it
    * accepted since (pass via `exactIncremental(refFps = Some(...))`).
    * Without this the prior's normalize+hash pass re-runs per trigger. */
  def exactFingerprints(prior: DataFrame, textCol: String): DataFrame =
    prior.select(T.fingerprint(col(textCol)).as("__pfp"))
      .filter(col("__pfp").isNotNull)
  /** INCREMENTAL near-dedup: drop batch rows whose MinHash signature
    * agrees >= `threshold` with ANY prior-version row sharing an LSH
    * band — [[exactIncremental]]'s companion for the near-duplicate tier
    * of a growing corpus (re-crawls, boilerplate re-scrapes that differ
    * by a few tokens from documents already kept).
    *
    * Scale shape: both sides pay one row-local signature pass; candidates
    * meet on an equi-shuffle of the band key (prior postings capped at
    * `maxBucket` per band value, the [[minhashPairs]] hot-bucket
    * discipline), and the signature-agreement verify runs inside the
    * join before the id distinct. No broadcast hints: the prior is
    * corpus-scale by definition — AQE picks the join strategy.
    * NULL-text batch rows pass through (nothing to match). */
  def nearIncremental(batch: DataFrame, prior: DataFrame,
                      textCol: String, idCol: String,
                      numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.8, shingleN: Int = 3,
                      maxBucket: Int = 1024,
                      mode: HashMode = Fast,
                      postings: Option[DataFrame] = None): DataFrame = {
    val pCapped = postings.getOrElse(nearPostings(prior, textCol,
      numHashes, bands, shingleN, maxBucket, mode))
    // no distinct on the hit ids: the anti join is set-semantics on its
    // probe side already, so deduplicating the build side first is a
    // pure extra exchange per call (per TRIGGER on the refresh chain);
    // duplicate hit rows are band-bounded and only pad the build
    val hits = nearIncrementalHitIds(batch, textCol, idCol, numHashes,
      bands, threshold, shingleN, mode, pCapped)
    batch.join(hits, col(idCol) === col("__bid"), "left_anti")
  }

  /** The HIT-ID side of [[nearIncremental]] — the batch ids whose
    * signature agrees >= `threshold` with any prior posting — exposed
    * so a caller composing several per-row tiers over ONE batch (the
    * refresh chain's trigger) can evaluate them as independent plan
    * branches and anti-join the id sets once, instead of chaining
    * whole-batch filters; each row's hit decision depends only on the
    * PRIOR corpus, never on in-batch peers, so the set is identical
    * whichever batch subset it is computed from. Column `__bid`, may
    * contain duplicates (see [[nearIncremental]]'s anti join note). */
  def nearIncrementalHitIds(batch: DataFrame,
                            textCol: String, idCol: String,
                            numHashes: Int = 32, bands: Int = 8,
                            threshold: Double = 0.8, shingleN: Int = 3,
                            mode: HashMode = Fast,
                            postings: DataFrame): DataFrame = {
    val sigB = minhashSignatureCol(col(textCol), numHashes, shingleN, mode)
    val bB = batch.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__bid"), sigB.as("__sig"))
      .select(col("__bid"), col("__sig"),
        explode(bandKeysCol(col("__sig"), numHashes, bands, mode))
          .as("__band"))
    bB.join(postings, col("__band") === col("__pband"))
      .filter(size(filter(zip_with(col("__sig"), col("__psig"),
        (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
        .cast("double") / numHashes >= threshold)
      .select(col("__bid"))
  }

  /** The prior-side band postings of [[nearIncremental]], exposed so a
    * refresh loop appending MANY drops against ONE prior corpus can
    * compute them once and cache across triggers (pass via
    * `nearIncremental(postings = Some(...))`): the prior's signature
    * pass is the dominant per-trigger cost otherwise, and it is
    * trigger-invariant by the incremental contract (near-dup decisions
    * reference the kept corpus, never in-flight peers). Columns
    * `(__psig, __pband)`, hot buckets capped at `maxBucket`. */
  def nearPostings(prior: DataFrame, textCol: String,
                   numHashes: Int = 32, bands: Int = 8,
                   shingleN: Int = 3, maxBucket: Int = 1024,
                   mode: HashMode = Fast): DataFrame = {
    val p = prior.filter(col(textCol).isNotNull)
      .select(minhashSignatureCol(col(textCol), numHashes, shingleN, mode)
        .as("__psig"))
      .select(col("__psig"), explode(bandKeysCol(col("__psig"),
        numHashes, bands, mode)).as("__pband"))
    p.withColumn("__bn", row_number().over(
        Window.partitionBy(col("__pband")).orderBy(col("__psig"))))
      .filter(col("__bn") <= maxBucket).drop("__bn")
  }

  /** ExactSubstr-style repeated-span detection (the sequence-level dedup
    * of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", re-expressed gram-wise for Spark): every token
    * position starting an `n`-gram that occurs in >= `minDf` DISTINCT
    * documents is "repeated"; overlapping repeated [pos, pos+n) windows
    * merge into maximal spans per document. Unlike the suffix-array
    * original this is gram-quantized (a repeat shorter than n is missed,
    * a repeat of length L >= n is found exactly), which is what makes it
    * distribute: no global suffix sort exists.
    *
    * Scale shape: one row-local shingle+hash pass; document frequency by
    * ONE shuffle of compact (8-byte gram hash, id) pairs with map-side
    * combine; flagged hashes rejoin the position rows on the same hash
    * partitioning; the interval merge is one window shuffle on the doc
    * key. Grams, not suffixes, cross the wire — and only flagged
    * positions reach the merge. Short docs (< n tokens) emit nothing.
    * Output: (idCol, span_start, span_end, n_grams) with token-index
    * spans, span_end exclusive. */
  def repeatedSpans(df: DataFrame, textCol: String, idCol: String,
                    n: Int = 8, minDf: Int = 2,
                    mode: HashMode = Fast): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    require(minDf >= 2, s"minDf must be >= 2 (1 flags everything): $minDf")
    val hashOf: Column => Column = mode match {
      case Fast     => xxhash64(_)
      case Portable => T.portableHash64(_)
    }
    val toks = T.tokens(T.normalized(col(textCol)))
    val pos = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), toks.as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("__id"), posexplode(transform(
        sequence(lit(0), size(col("__t")) - n),
        i => concat_ws(" ", slice(col("__t"), i + 1, lit(n))))))
      .select(col("__id"), col("pos"), hashOf(col("col")).as("__h"))
    val repeated = pos.select(col("__h"), col("__id")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
    val flagged = pos.join(repeated, Seq("__h")).select(col("__id"), col("pos"))
    // classic interval merge: a window start is "new" iff it begins after
    // every earlier window ends; running sum of the flag numbers the spans
    val w = Window.partitionBy(col("__id")).orderBy(col("pos"))
    val prevMaxEnd = max(col("pos") + n).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("__new", when(prevMaxEnd.isNull ||
        col("pos") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("__span", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id"), col("__span"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + n).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("__id").as(idCol), col("span_start"), col("span_end"),
        col("n_grams"))
  }

  /** Apply [[repeatedSpans]]: rebuild each document's text with every
    * repeated span's tokens removed — the "cut the duplicated substring,
    * keep the document" remedy (dropping whole documents for one shared
    * boilerplate paragraph wastes the unique remainder). Span-owning
    * docs get their kept tokens re-joined; span-free docs pass through
    * with their normalized token stream intact (output text is always
    * the normalized form, so the operation is idempotent).
    *
    * Scale shape: [[repeatedSpans]]'s cost plus ONE per-doc aggregation
    * of its (few, merged) spans to an array and a broadcast-friendly
    * left join back; the cut itself is a row-local HOF filter over token
    * indices. Output: (idCol, textCol, n_tokens_kept, n_tokens_cut). */
  def cutRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 8, minDf: Int = 2,
                       mode: HashMode = Fast): DataFrame = {
    val spans = repeatedSpans(df, textCol, idCol, n, minDf, mode)
      .groupBy(col(idCol).as("__sid"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    val toks = T.tokens(T.normalized(col(textCol)))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), toks.as("__t"))
      .join(spans, col(idCol) === col("__sid"), "left")
      // size=0 guard: sequence(0, -1) would generate a DESCENDING [0,-1]
      .withColumn("__idx", when(size(col("__t")) === 0,
          array().cast("array<int>"))
        .otherwise(sequence(lit(0), size(col("__t")) - 1)))
      .withColumn("__keep", filter(col("__idx"),
        i => col("__spans").isNull || !exists(col("__spans"),
          s => i >= s.getField("span_start") && i < s.getField("span_end"))))
      .select(col(idCol),
        concat_ws(" ", transform(col("__keep"),
          i => element_at(col("__t"), (i + 1).cast("int")))).as(textCol),
        size(col("__keep")).cast("long").as("n_tokens_kept"),
        (size(col("__t")) - size(col("__keep"))).cast("long")
          .as("n_tokens_cut"))
  }
}
