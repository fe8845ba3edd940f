package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.functions.PqAdcCodec

/** The driver-planned serving path of [[Similarity.ivfPqQuery]] and
  * [[Similarity.ivfPqQueryRefined]], in REPOSE's shape: top-k inside
  * each partition, then one global merge. It serves a probe batch that
  * is a driver-local relation (its optimized plan is a `LocalRelation`,
  * so reading it runs no job) with probes x nLists x dim <= [[Bound]]:
  *
  *  - the probe side (coarse distances, the nProbe lists ordered by
  *    (distance, list), residuals) is computed on the driver in the
  *    DataFrame path's integer arithmetic, and shipped with the residual
  *    codebook in one broadcast;
  *  - ONE scan of the probed `__list` partitions keeps a k-heap per
  *    probe in each task; the heaps are tree-merged on the executors,
  *    so the driver receives probes x k rows;
  *  - the refined form adds ONE scan of the corpus for the exact
  *    integer-L2 re-rank of the shortlist, merged the same way.
  *
  * Rows and schema are the DataFrame path's: the same `double` ranking
  * key, ties to the lowest id, duplicate ids across arms kept, the
  * probe's own id excluded from the ADC tier only. Both forms run their
  * jobs when called and return a local relation. They return None
  * (the caller then takes the DataFrame path) for any input they cannot
  * serve exactly as that path would: a probe batch that is not local or
  * is over the bound, duplicate probe ids, columns of other types, null
  * or out-of-range units, a vector of another dimension, or an integer
  * overflow the DataFrame path may raise. In a scanned row (a null code
  * array, a corpus vector of that kind) these show up only during the
  * scan, and the jobs already run are then wasted. */
private[graft] object IvfPqLocal {

  /** The largest probes x nLists x dim planned on the driver. */
  val Bound: Long = 1L << 22

  def query(index: Similarity.IvfPqIndex, probes: DataFrame, k: Int,
            nProbe: Int, vecCol: String, idCol: String): Option[DataFrame] =
    for {
      enc <- encodedIds(index, idCol) if k >= 1
      batch <- plan(index, probes, nProbe, vecCol, idCol)
      hits <- adc(index, batch.probes, k, idCol, enc.dataType)
    } yield result(probes, batch, hits, "adc_dist",
      StructField("neighbor_id", enc.dataType, enc.nullable))

  def queryRefined(index: Similarity.IvfPqIndex, corpus: DataFrame,
                   probes: DataFrame, k: Int, nProbe: Int, refine: Int,
                   vecCol: String, idCol: String): Option[DataFrame] =
    for {
      enc <- encodedIds(index, idCol) if k >= 1 && refine * k >= 1
      cid <- field(corpus.schema, idCol).filter(f => isId(f.dataType))
      if field(corpus.schema, vecCol).exists(f => isFloats(f.dataType))
      batch <- plan(index, probes, nProbe, vecCol, idCol)
      cand <- adc(index, batch.probes, refine * k, idCol, enc.dataType)
      hits <- rerank(corpus, batch.probes, cand, k, vecCol, idCol,
        index.cb.unitScale)
    } yield result(probes, batch, hits, "l2_dist",
      StructField("neighbor_id", LongType, cid.nullable))

  /** A probe planned on the driver: its id and integer units, and the
    * residual against each of its nProbe lists. */
  private final case class Probe(id: Long, units: Array[Long],
                                 lists: Array[Int],
                                 residuals: Array[Array[Long]])

  private final case class Batch(probes: Array[Probe],
                                 idNullable: Boolean)

  /** What the ADC scan's tasks read: per list, the probes that probe it
    * (probe index, residual), the probe ids, the residual codebook. */
  private final case class AdcPlan(perList: Array[Array[(Int, Array[Long])]],
                                   ids: Array[Long],
                                   centroids: Array[Array[Array[Long]]])

  /** What the re-rank scan's tasks read: probe units, and per
    * shortlisted id the probes listing it, once per listing. */
  private final case class RerankPlan(
      units: Array[Array[Long]],
      shortlist: scala.collection.mutable.LongMap[Array[Int]],
      unitScale: Long)

  /** A scored neighbor. */
  private final case class Hit(id: Long, dist: Long) {
    /** The DataFrame path's ranking key, `(-dist).cast("double")`. */
    def key: Double = (-dist).toDouble
  }

  /** Worst first: the lower key, then the larger id. */
  private object WorstFirst extends java.util.Comparator[Hit]
      with Serializable {
    def compare(a: Hit, b: Hit): Int = {
      val c = java.lang.Double.compare(a.key, b.key)
      if (c != 0) c else java.lang.Long.compare(b.id, a.id)
    }
  }

  /** One bounded heap per probe (head = the eviction candidate), and
    * whether a row needs the DataFrame path. */
  private final class Heaps(n: Int, k: Int) extends Serializable {
    private val heaps =
      Array.fill(n)(new java.util.PriorityQueue[Hit](k min 64, WorstFirst))
    var odd = false

    def offer(p: Int, h: Hit): Unit = {
      val q = heaps(p)
      // -Long.MinValue overflows; the DataFrame path may raise on it
      if (h.dist == Long.MinValue) odd = true
      else if (q.size < k) q.add(h)
      else if (WorstFirst.compare(h, q.peek) > 0) { q.poll(); q.add(h) }
      ()
    }

    def merge(o: Heaps): Heaps = {
      o.heaps.indices.foreach(p => o.heaps(p).asScala.foreach(offer(p, _)))
      odd ||= o.odd
      this
    }

    /** Probe `p`'s hits, best first. */
    def ranked(p: Int): Array[Hit] =
      heaps(p).asScala.toArray.sortWith(WorstFirst.compare(_, _) > 0)
  }

  /** Raised while planning an input the DataFrame path must serve. */
  private object Unservable extends scala.util.control.ControlThrowable

  /** The one top-level column named exactly `name`. */
  private def field(schema: StructType, name: String): Option[StructField] =
    schema.fields.filter(_.name == name) match {
      case Array(f) if !name.exists(c => c == '.' || c == '`') => Some(f)
      case _ => None
    }

  private def isId(t: DataType): Boolean = t == IntegerType || t == LongType

  private def isFloats(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The index's id column, when `encoded` has the layout the ADC scan
    * reads. */
  private def encodedIds(index: Similarity.IvfPqIndex,
                         idCol: String): Option[StructField] = {
    val s = index.encoded.schema
    field(s, idCol).filter(f => isId(f.dataType)).filter(_ =>
      field(s, "__list").exists(_.dataType == IntegerType) &&
        field(s, "codes").exists(_.dataType match {
          case ArrayType(IntegerType, _) => true
          case _ => false
        }))
  }

  /** The DataFrame path's units of a float vector, per element
    * `(x.cast("double") * unitScale).cast("long")`; null when an element
    * is null or its cast is not defined in every mode. */
  private def unitsOf(v: ArrayData, unitScale: Long): Array[Long] = {
    val u = new Array[Long](v.numElements())
    var j = 0
    while (j < u.length) {
      if (v.isNullAt(j)) return null
      val d = v.getFloat(j).toDouble * unitScale
      if (!(d >= -9.223372036854775808e18 && d < 9.223372036854775808e18))
        return null
      u(j) = d.toLong
      j += 1
    }
    u
  }

  /** Plan the probe batch on the driver, or None. As in the DataFrame
    * path, probes with a null vector are dropped, and a probe with a
    * null id scores nothing but has its vector checked. */
  private def plan(index: Similarity.IvfPqIndex, probes: DataFrame,
                   nProbe: Int, vecCol: String,
                   idCol: String): Option[Batch] = {
    val schema = probes.schema
    val cb = index.cb
    val dim = cb.m * cb.subDim
    val local = probes.queryExecution.optimizedPlan match {
      case l: LocalRelation
          if l.output.map(_.name) == schema.fieldNames.toSeq =>
        Some(l.data)
      case _ => None
    }
    for {
      rows <- local
      idf <- field(schema, idCol) if isId(idf.dataType)
      if field(schema, vecCol).exists(f => isFloats(f.dataType))
      if rows.size.toLong * index.coarse.length * dim <= Bound
      if index.coarse.forall(_.length == dim)
      planned <- planRows(index, rows, schema.fieldIndex(idCol),
        idf.dataType == IntegerType, schema.fieldIndex(vecCol), nProbe)
    } yield Batch(planned, idf.nullable)
  }

  private def planRows(index: Similarity.IvfPqIndex,
                       rows: Seq[InternalRow], iId: Int, intId: Boolean,
                       iVec: Int, nProbe: Int): Option[Array[Probe]] = {
    val dim = index.cb.m * index.cb.subDim
    val seen = scala.collection.mutable.HashSet.empty[Long]
    try Some(rows.filterNot(_.isNullAt(iVec)).flatMap { r =>
      val v = r.getArray(iVec)
      // another dimension fails in the DataFrame path, with its message
      if (v.numElements() != dim) throw Unservable
      val units = unitsOf(v, index.cb.unitScale)
      if (units == null) throw Unservable
      // every list's distance in checked arithmetic: the DataFrame path
      // computes them all (residuals too), and may raise on overflow
      def resid(l: Int) = Array.tabulate(dim)(j =>
        Math.subtractExact(units(j), index.coarse(l)(j)))
      val dist = index.coarse.indices.map(resid(_).foldLeft(0L)((acc, x) =>
        Math.addExact(acc, Math.multiplyExact(x, x))))
      if (r.isNullAt(iId)) None
      else {
        val id = if (intId) r.getInt(iId).toLong else r.getLong(iId)
        if (!seen.add(id)) throw Unservable
        val lists = dist.indices.sortBy(l => (dist(l), l)).take(nProbe).toArray
        Some(Probe(id, units, lists, lists.map(resid)))
      }
    }.toArray)
    catch { case Unservable | _: ArithmeticException => None }
  }

  /** Scan `rows` once: each task fills one k-heap per probe with
    * `score`, and the heaps are tree-merged on the executors. */
  private def topK(rows: RDD[InternalRow], n: Int, k: Int)(
      score: (InternalRow, Heaps) => Unit): Heaps =
    rows.mapPartitions { it =>
      val h = new Heaps(n, k)
      it.foreach(score(_, h))
      Iterator(h)
    }.treeAggregate(new Heaps(n, k), (a: Heaps, b: Heaps) => a.merge(b),
      (a: Heaps, b: Heaps) => a.merge(b), 2, true)

  /** The ADC tier: per probe its `k` best rows of the probed lists,
    * best first, or None. */
  private def adc(index: Similarity.IvfPqIndex, probes: Array[Probe],
                  k: Int, idCol: String,
                  idType: DataType): Option[Array[Array[Hit]]] = {
    if (probes.isEmpty) return Some(Array.empty)
    val perList = Array.fill(index.coarse.length)(
      Array.newBuilder[(Int, Array[Long])])
    for ((p, i) <- probes.zipWithIndex; (l, j) <- p.lists.zipWithIndex)
      perList(l) += ((i, p.residuals(j)))
    val lists = probes.flatMap(_.lists).distinct.sorted
    val sc = index.encoded.sparkSession.sparkContext
    val bc = sc.broadcast(AdcPlan(perList.map(_.result()), probes.map(_.id),
      index.cb.centroids))
    val intId = idType == IntegerType
    val rows = index.encoded
      .filter(col("__list").isin(lists.toIndexedSeq: _*))
      .select(col(idCol), col("__list"), col("codes")).queryExecution.toRdd
    val heaps = try topK(rows, probes.length, k) { (r, h) =>
      // a null id never passes the DataFrame path's self filter
      if (!r.isNullAt(0)) {
        val plan = bc.value
        val id = if (intId) r.getInt(0).toLong else r.getLong(0)
        val codes = if (r.isNullAt(2)) null else r.getArray(2)
        plan.perList(r.getInt(1)).foreach { case (p, res) =>
          if (id != plan.ids(p)) {
            if (codes == null) h.odd = true
            else h.offer(p,
              Hit(id, PqAdcCodec.dist(res, codes, plan.centroids)))
          }
        }
      }
    } finally bc.destroy()
    if (heaps.odd) None else Some(Array.tabulate(probes.length)(heaps.ranked))
  }

  /** The exact tier: per probe its `k` best shortlisted corpus rows by
    * integer L2, best first, or None. */
  private def rerank(corpus: DataFrame, probes: Array[Probe],
                     cand: Array[Array[Hit]], k: Int, vecCol: String,
                     idCol: String,
                     unitScale: Long): Option[Array[Array[Hit]]] = {
    if (probes.isEmpty) return Some(Array.empty)
    val shortlist = scala.collection.mutable.LongMap.empty[Array[Int]]
    for ((hits, p) <- cand.zipWithIndex; h <- hits)
      shortlist(h.id) = shortlist.getOrElse(h.id, Array.empty[Int]) :+ p
    val sc = corpus.sparkSession.sparkContext
    val bc = sc.broadcast(RerankPlan(probes.map(_.units), shortlist, unitScale))
    val rows = corpus.select(col(idCol).cast("long"), col(vecCol))
      .queryExecution.toRdd
    val heaps = try topK(rows, probes.length, k) { (r, h) =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val plan = bc.value
        val id = r.getLong(0)
        plan.shortlist.get(id).foreach { ps =>
          val cu = unitsOf(r.getArray(1), plan.unitScale)
          // another dimension or a null element: the DataFrame path
          // scores NULL there
          if (cu == null || cu.length != plan.units(ps(0)).length)
            h.odd = true
          else ps.foreach { p =>
            val pu = plan.units(p)
            var acc = 0L
            var j = 0
            while (j < cu.length) {
              val d = pu(j) - cu(j)
              acc += d * d
              j += 1
            }
            h.offer(p, Hit(id, acc))
          }
        }
      }
    } finally bc.destroy()
    if (heaps.odd) None else Some(Array.tabulate(probes.length)(heaps.ranked))
  }

  /** The served rows as a local relation with the DataFrame path's
    * schema: (probe_id, neighbor_id, rank, `distCol`). */
  private def result(probes: DataFrame, batch: Batch,
                     hits: Array[Array[Hit]], distCol: String,
                     neighbor: StructField): DataFrame = {
    val intId = neighbor.dataType == IntegerType
    val rows = for {
      (p, ranked) <- batch.probes.zip(hits)
      (h, r) <- ranked.zipWithIndex
    } yield Row(p.id, if (intId) h.id.toInt else h.id, r + 1L, h.dist)
    val schema = StructType(Seq(
      StructField("probe_id", LongType, batch.idNullable), neighbor,
      StructField("rank", LongType, nullable = false),
      StructField(distCol, LongType, nullable = true)))
    probes.sparkSession.createDataFrame(rows.toSeq.asJava, schema)
  }
}
