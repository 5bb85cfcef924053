package graft.functions

import org.apache.spark.SparkEnv
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, BinaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.{ExprBridge => ExpressionUtils}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}

/** Open-addressing long → Array[Long] map for broadcast-side lookups in
  * the MinHash candidate/verify expressions. A Spark broadcast-hash join
  * that only exists to ATTACH a per-id array to a high-multiplicity pair
  * stream copies the array into every output UnsafeRow — at the measured
  * sf0.1 linkage profile that is 175M rows × 2 × 520 B of signature
  * bytes (~180 GB of memcpy) before the filter that throws most rows
  * away. Looking the arrays up BY ID inside the filter expression
  * touches the same bytes read-only and materializes nothing.
  *
  * Same memory contract as the join it replaces: the table is collected
  * ONLY under the caller's broadcast-size gate (a Spark BHJ build also
  * collects the build side through the driver), and one copy per
  * executor is shared via [[org.apache.spark.broadcast.Broadcast]].
  * Power-of-two open addressing, no per-probe boxing. */
final class LongArrayMap private (
    table: Array[Long], slots: Array[Array[Long]], mask: Int)
    extends Serializable {
  /** Lookup; null when absent. Keys are user ids — any Long is legal,
    * EMPTY marks free slots and is remapped on build. */
  def get(k: Long): Array[Long] = {
    var i = (LongArrayMap.mix(k) & mask).toInt
    while (true) {
      val t = table(i)
      if (t == k) return slots(i)
      if (t == LongArrayMap.Empty) return null
      i = (i + 1) & mask
    }
    null
  }
}

object LongArrayMap {
  private final val Empty = Long.MinValue + 41

  /** STRONG-reference cache of deserialized broadcast values, keyed by
    * broadcast id. Spark's own BroadcastManager value cache holds the
    * deserialized object only WEAKLY, so under the allocation churn of a
    * high-multiplicity pair stream every young GC drops it and EVERY TASK
    * re-deserializes the multi-MB map from the block store behind the
    * block's read lock — measured as a verify stage running 128 tasks at
    * ~1.6x effective concurrency (21.5 s CPU, 14.5 s wall on 32 cores),
    * and as 4-8x run-to-run swings on the linkage family. A handful of
    * strong refs (the two maps a pipeline is actively using) pins the
    * value for the query's lifetime; the small FIFO bound keeps a long
    * many-query session from accumulating every historical map.
    *
    * SCOPE: one SparkContext. Broadcast ids restart at 0 in every new
    * context, so an id alone names a different map once the context that
    * filled the cache has stopped and another has started in the same
    * JVM (one forked test JVM running suite after suite). The cache
    * remembers the [[org.apache.spark.SparkEnv]] that filled it — weakly,
    * so a stopped context's env is not pinned — and empties itself the
    * first time it is read under a different one. */
  private val ValueCacheMax = 8
  private val valueCache =
    new java.util.LinkedHashMap[Long, LongArrayMap](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, LongArrayMap]): Boolean =
        size() > ValueCacheMax
    }
  private var valueCacheEnv = new java.lang.ref.WeakReference[SparkEnv](null)

  def cachedValue(bc: Broadcast[LongArrayMap]): LongArrayMap =
    valueCache.synchronized {
      val env = SparkEnv.get
      if (valueCacheEnv.get ne env) {
        valueCache.clear()
        valueCacheEnv = new java.lang.ref.WeakReference(env)
      }
      val got = valueCache.get(bc.id)
      if (got != null) got
      else { val v = bc.value; valueCache.put(bc.id, v); v }
    }

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def build(keys: Array[Long], values: Array[Array[Long]]): LongArrayMap = {
    require(keys.length == values.length)
    var cap = 8
    while (cap < keys.length * 2) cap <<= 1
    val table = Array.fill(cap)(Empty)
    val slots = new Array[Array[Long]](cap)
    val mask = cap - 1
    var n = 0
    while (n < keys.length) {
      val k = keys(n)
      require(k != Empty, "sentinel key collision")
      var i = (mix(k) & mask).toInt
      while (table(i) != Empty && table(i) != k) i = (i + 1) & mask
      table(i) = k
      slots(i) = values(n)
      n += 1
    }
    new LongArrayMap(table, slots, mask)
  }
}

/** Candidate-pair keep decision for the banded MinHash self-join, fused
  * into ONE expression over (id_a, id_b, band) with the signature table
  * looked up from a broadcast [[LongArrayMap]]:
  *
  *   keep ⟺ band == first band whose rowsPerBand-slice of the two
  *           signatures agrees entirely (the one-row-per-pair rule, see
  *           [[FirstAgreeingBand]]) AND the MinHash Jaccard estimate
  *           (agreements / numHashes) clears minJaccard − 0.2 (the
  *           recall-preserving prefilter margin).
  *
  * Bit-identical to the join formulation it replaces: the slice scan is
  * [[FirstAgreeingBand]]'s, the estimate threshold is evaluated as the
  * same double expression `agree / numHashes >= minJaccard - 0.2`, and
  * both are computed from the same signatures — only HOW the signatures
  * reach the row differs (lookup vs join-materialization). An id absent
  * from the map never happens in the pipeline (the map is built from the
  * same `base` the band rows came from); it conservatively drops. */
case class MinHashPairKeep(first: Expression, second: Expression,
    third: Expression, sigs: Broadcast[LongArrayMap], rowsPerBand: Int,
    numHashes: Int, minJaccard: Double)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "minhash_pair_keep"

  // resolve the broadcast ONCE per (deserialized) expression instance,
  // through the strong-ref cache: Broadcast.value alone re-deserializes
  // the map once per TASK when GC clears Spark's weak value cache — see
  // [[LongArrayMap.cachedValue]]
  @transient private lazy val sigMap: LongArrayMap =
    LongArrayMap.cachedValue(sigs)

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val sa = sigMap.get(a.asInstanceOf[Long])
    val sb = sigMap.get(b.asInstanceOf[Long])
    if (sa == null || sb == null) return java.lang.Boolean.FALSE
    val band = c.asInstanceOf[Int]
    // first agreeing slice-band must be THIS row's band (early exit:
    // any earlier agreeing band disqualifies immediately)
    val lastSlice = band * rowsPerBand
    var t = 0
    while (t <= lastSlice) {
      var i = t * rowsPerBand
      val end = i + rowsPerBand
      var ok = true
      while (ok && i < end) {
        if (sa(i) != sb(i)) ok = false
        i += 1
      }
      if (ok) {
        if (t != band) return java.lang.Boolean.FALSE
        // estimate prefilter: same arithmetic as
        // cast(agreement as double) / numHashes >= minJaccard - 0.2
        var agree = 0
        var j = 0
        while (j < numHashes) {
          if (sa(j) == sb(j)) agree += 1
          j += 1
        }
        return java.lang.Boolean.valueOf(
          agree.toDouble / numHashes >= minJaccard - 0.2)
      }
      t += 1
    }
    // no slice of band ≤ this one agrees: bucket-only collision — the
    // join formulation dropped these rows too (FirstAgreeingBand == -1
    // or a later band); either way this row is not the keeper
    java.lang.Boolean.FALSE
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object MinHashPairKeep {
  def keep(idA: Column, idB: Column, band: Column,
      sigs: Broadcast[LongArrayMap], rowsPerBand: Int, numHashes: Int,
      minJaccard: Double): Column =
    ExpressionUtils.column(MinHashPairKeep(
      ExpressionUtils.expression(idA), ExpressionUtils.expression(idB),
      ExpressionUtils.expression(band), sigs, rowsPerBand, numHashes,
      minJaccard))
}

/** Exact-above-threshold Jaccard of two docs' SORTED hashed-shingle sets
  * looked up BY ID from a broadcast [[LongArrayMap]] — the lookup twin of
  * [[JaccardSortedLongArrays]] (identical merge, identical double), for
  * verify stages whose per-pair gram attachment would otherwise copy
  * multi-KB arrays into every candidate row. NULL when either id is
  * absent (matches the inner-join semantics of the attach formulation:
  * such a pair produced no row).
  *
  * CONTRACT: the caller filters on `jaccard >= minJaccard`. For pairs at
  * or above the threshold the value is the EXACT Jaccard; for pairs the
  * merge can PROVE are below it, the scan abandons early and returns
  * −1.0 (any sub-threshold stand-in — the row is filtered either way).
  * The proof is monotone and evaluated in the same double arithmetic as
  * the final value (ub = maxPossibleInter / minPossibleUnion, Jaccard
  * strictly increasing in inter), so no boundary pair is ever
  * mis-abandoned. Checked every 64 merge steps. */
case class JaccardByIds(left: Expression, right: Expression,
    grams: Broadcast[LongArrayMap], minJaccard: Double)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "jaccard_by_ids"

  // one broadcast resolution per expression instance, strong-ref cached —
  // see [[LongArrayMap.cachedValue]]
  @transient private lazy val gramMap: LongArrayMap =
    LongArrayMap.cachedValue(grams)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = gramMap.get(a.asInstanceOf[Long])
    val y = gramMap.get(b.asInstanceOf[Long])
    if (x == null || y == null) return null
    val nx = x.length; val ny = y.length
    val total = nx + ny
    var i = 0; var j = 0; var inter = 0
    var nextCheck = 64
    while (i < nx && j < ny) {
      val xa = x(i); val yb = y(j)
      if (xa == yb) { inter += 1; i += 1; j += 1 }
      else if (xa < yb) i += 1
      else j += 1
      if (i + j >= nextCheck) {
        nextCheck += 64
        val remA = nx - i; val remB = ny - j
        val maxInter = inter + (if (remA < remB) remA else remB)
        val ub = if (total == maxInter) 1.0
                 else maxInter.toDouble / (total - maxInter)
        if (ub < minJaccard) return java.lang.Double.valueOf(-1.0)
      }
    }
    val union = total - inter
    java.lang.Double.valueOf(
      if (union == 0) 0.0 else inter.toDouble / union)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object JaccardByIds {
  def jaccard(idA: Column, idB: Column, grams: Broadcast[LongArrayMap],
      minJaccard: Double): Column =
    ExpressionUtils.column(JaccardByIds(ExpressionUtils.expression(idA),
      ExpressionUtils.expression(idB), grams, minJaccard))
}
