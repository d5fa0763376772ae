package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** EXACT distributed quantiles (discrete / order-statistic selection) via
  * value-domain binary search — the scalable replacement for a full sort.
  *
  * Why: `approx_percentile` (Greenwald-Khanna) is mergeable but not
  * merge-order exact, so it cannot be hash-matched against an external
  * oracle; an exact per-group sort (`percentile`) buys exactness by
  * shipping every group's values through one sort — the shape that dies
  * at 100 TB. This operator gets BOTH: it binary-searches the IEEE-754
  * bit domain of the value column ([[graft.exprs.DoubleSortableBits]]
  * makes double order = long order), and each refinement pass is a
  * histogram of map-side-combinable integer bucket counts — insensitive
  * to partitioning and merge order, so the result is exact and
  * bit-reproducible at any cluster size. Convergence: each pass shrinks
  * the candidate range by 2^16, so the full double bit domain resolves
  * in ≤4 passes (real data in 2–4).
  *
  * Execution shape: the (group, colId, sortable-bits) projection is ONE
  * column-pruned scan, cached narrow; every subsequent pass is a
  * shuffle-free `treeAggregate` over primitive `Array[Long]` bucket
  * counts (states × ≤65536 longs, ≤4.5 MB at the 9-state default — the
  * partial each executor combines locally and the tree merges by vector
  * addition). No exchange, no sort, no per-pass broadcast join: at 1000
  * executors a pass is one map stage plus an O(log) tree reduce, the
  * same shape as the Bloom build (`ops/Dedup.bloomFromCorpus`). This is
  * the documented legitimate-RDD exception class: per-partition
  * imperative histogramming where the Catalyst equivalent would pay a
  * full shuffle + AQE round per pass.
  *
  * Rank semantics match DuckDB `quantile_disc` (verified empirically,
  * including the floating-point edge 0.9·10 → 9th element): the selected
  * element is the k-th smallest with k = clamp(⌈q·n⌉, 1, n), the ceiling
  * taken over EXACT decimal arithmetic on q's literal spelling (see
  * [[rankOf]]) — equivalently the ANSI cume_dist rule. Nulls are ignored
  * (n counts non-nulls); an all-null group yields NULL. The returned
  * doubles are actual input elements recovered bit-for-bit
  * ([[fromSortableBits]]), so they hash-match the oracle with no
  * rounding discipline.
  *
  * Driver state is bounded by #groups × #requests (the same
  * catalog-bounded-reporting contract as the k-means centroid state,
  * `rel/PipelineQueries.scala`); per-pass driver materialization is the
  * merged count array, capped at active-states × 65536 longs. The cached
  * projection is unpersisted before return; at 100 TB pass
  * `cacheScan = false` to drop the persist and let each pass re-scan the
  * source through the column-pruned codegen projection — correctness is
  * unaffected (counts are order-free; spec-pinned identical output and
  * pass count on both arms).
  */
object ExactQuantiles {

  /** One quantile request: `quantile_disc(colName, q) AS outName`. */
  case class Req(colName: String, q: Double, outName: String)

  /** Buckets per refinement pass: 2^16 keeps the per-pass count array
    * small (≤ states×65536 longs) while resolving the full 2^63 bit
    * domain in ≤4 passes. */
  private val Buckets = 65536L

  /** Inverse of [[graft.exprs.DoubleSortableBits]]: sortable long key →
    * the exact original double, bit-for-bit. */
  def fromSortableBits(k: Long): Double = {
    val b = if (k < 0L) k ^ Long.MaxValue else k
    java.lang.Double.longBitsToDouble(b)
  }

  /** Forward transform, scalar form (the codegen expression's twin). */
  def toSortableBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    if (b < 0L) b ^ Long.MaxValue else b
  }

  /** Order-preserving DOUBLE → BIGINT key (codegen'd catalog function). */
  def sortableBits(c: Column): Column =
    graft.exprs.GraftFunctions.call("graft_double_bits", c)

  /** The operator's scan-side plan: group column + one sortable-bits
    * long per value column. Public so the plan-discipline spec can pin
    * that the scan stays column-pruned and the transform codegen'd. */
  def keyProjection(df: DataFrame, groupCol: String, cols: Seq[String]): DataFrame = {
    // register on THE FRAME'S session (not just the thread-active one) —
    // the ops/Similarity convention; a multi-session caller would
    // otherwise hit an unresolved graft_double_bits
    graft.exprs.GraftExtensions.install(df.sparkSession)
    df.select(col(groupCol) +: cols.map(c => sortableBits(col(c).cast("double"))): _*)
  }

  /** DuckDB `quantile_disc` rank: k-th smallest, k = clamp(⌈q·n⌉, 1, n)
    * with q·n computed EXACTLY over q's decimal spelling (verified
    * empirically: 0.9·10 → 9th element even though double 0.9·10 =
    * 9.000000000000002, while 0.31·10 → 4th and 200125/4 = 50031.25 →
    * 50032nd). `BigDecimal.valueOf` goes through `Double.toString`'s
    * shortest decimal, reproducing the SQL literal exactly — this is
    * also the ANSI `PERCENTILE_DISC` cume_dist rule (smallest k with
    * k/n ≥ q), which is what the SQL front-door twin leans on. */
  private def rankOf(q: Double, n: Long): Long = {
    val k = java.math.BigDecimal.valueOf(q).multiply(java.math.BigDecimal.valueOf(n))
      .setScale(0, java.math.RoundingMode.CEILING).longValueExact()
    math.max(1L, math.min(n, k))
  }

  private def widthOf(lo: Long, hi: Long): Long = {
    val span = hi - lo // same sign by construction ⇒ no overflow
    math.max(1L, span / Buckets + (if (span % Buckets == 0L) 0L else 1L))
  }

  /** Per-(group, colId) pass-A stats, merged by field-wise min/max/sum. */
  private final class ColStats extends Serializable {
    var n = 0L; var nNeg = 0L
    var minNeg = Long.MaxValue; var maxNeg = Long.MinValue
    var minPos = Long.MaxValue; var maxPos = Long.MinValue
    def add(k: Long): Unit = {
      n += 1
      if (k < 0L) { nNeg += 1
        if (k < minNeg) minNeg = k; if (k > maxNeg) maxNeg = k
      } else { if (k < minPos) minPos = k; if (k > maxPos) maxPos = k }
    }
    def merge(o: ColStats): Unit = {
      n += o.n; nNeg += o.nNeg
      minNeg = math.min(minNeg, o.minNeg); maxNeg = math.max(maxNeg, o.maxNeg)
      minPos = math.min(minPos, o.minPos); maxPos = math.max(maxPos, o.maxPos)
    }
  }

  /** Mutable binary-search state for one (group, request) pair.
    * Invariant: the target element's key is in [lo, hi] (both inclusive,
    * same sign — mixed-sign groups split on the sign boundary at init so
    * `hi - lo` and `k - lo` never overflow a signed long), and exactly
    * `rankBelow` non-null keys sort strictly below `lo`. */
  private final class State(
      val group: Any, val cid: Int, val reqIdx: Int, val target: Long,
      var lo: Long, var hi: Long, var rankBelow: Long) {
    var resolved: Boolean = false
    var key: Long = 0L
    var offset: Int = 0 // this pass's slot in the shared count array
    def resolve(k: Long): Unit = { resolved = true; key = k }
  }

  /** Compact per-state window shipped to executors each pass. */
  private final case class Win(offset: Int, lo: Long, hi: Long, width: Long)

  def quantileDisc(df: DataFrame, groupCol: String, reqs: Seq[Req],
                   cacheScan: Boolean = true): DataFrame =
    quantileDiscWithPasses(df, groupCol, reqs, cacheScan)._1

  /** Hard cap on concurrent (group × request) search states: each active
    * state owns ≤65537 buckets of the shared per-partition count array,
    * so the cap bounds that array at ~67 MB — the enforcement of the
    * "group cardinality must be reporting-bounded" contract, failing
    * fast with a clear message instead of letting a high-cardinality
    * group column OOM executors (or overflow the array size). */
  val MaxStates = 128

  /** [[quantileDisc]] plus the number of refinement passes it ran — the
    * observable the convergence spec pins (≤4 for any double data). */
  def quantileDiscWithPasses(df: DataFrame, groupCol: String, reqs: Seq[Req],
                             cacheScan: Boolean = true): (DataFrame, Int) = {
    require(reqs.nonEmpty, "at least one quantile request")
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val cols = reqs.map(_.colName).distinct
    val nCols = cols.length
    val cidOf = cols.zipWithIndex.toMap

    // One column-pruned scan → (group, sortable bits per column), the bit
    // transform running as the codegen'd [[graft.exprs.DoubleSortableBits]]
    // INSIDE the Catalyst projection (whole-stage codegen over the
    // vectorized scan); only the narrow long columns cross into the RDD.
    val proj = keyProjection(df, groupCol, cols)
    // Rows whose requested columns are ALL null emit a presence sentinel
    // (cid = -1) instead of vanishing: pass A then sees every group, so
    // the group catalog derives from the SAME single scan instead of the
    // second full-source distinct() this used to pay (the round-12
    // ADVICE cost note — guide §1.2, remove unnecessary passes). The
    // sentinel carries no value: stats registers presence without
    // updating min/max/count, and every later pass ignores cid < 0.
    val keysRaw = proj.rdd.mapPartitions { it =>
      it.flatMap { r =>
        // count non-null columns with a primitive loop first, then emit a
        // lazy iterator (or the single sentinel) — no per-row IndexedSeq on
        // the operator's one full-corpus scan (round-16 ADVICE). `r` is a
        // materialized external Row (df.rdd), so deferring reads is safe.
        val g = r.get(0)
        var nonNull = 0
        var i = 0
        while (i < nCols) { if (!r.isNullAt(i + 1)) nonNull += 1; i += 1 }
        if (nonNull == 0) Iterator.single((g, -1, 0L))
        else Iterator.range(0, nCols)
          .filter(j => !r.isNullAt(j + 1))
          .map(j => (g, j, r.getLong(j + 1)))
      }
    }
    // cacheScan = false is the 100-TB arm: every pass re-reads the
    // source through the pruned codegen projection instead of a
    // corpus-sized cache (counts are order-free, so replaying the scan
    // cannot change any answer — spec-pinned)
    val keys =
      if (cacheScan) keysRaw.persist(StorageLevel.MEMORY_AND_DISK) else keysRaw
    var survivors: Option[org.apache.spark.rdd.RDD[(Any, Int, Long)]] = None
    var survFilter: Option[org.apache.spark.broadcast.Broadcast[_]] = None

    try {
      // Pass A: per (group, colId) count + sign-split min/max, one
      // shuffle-free tree aggregation (bounded by the group catalog).
      // fail fast INSIDE the aggregation if the group catalog explodes:
      // each partial map is capped, so a high-cardinality group column
      // dies with guidance during pass A instead of OOMing an executor
      // before the post-hoc require below is ever reached
      // +1 slot per group for the presence sentinel (cid = -1)
      val maxPairs = MaxStates * (nCols + 1)
      def capped(m: mutable.HashMap[(Any, Int), ColStats]): mutable.HashMap[(Any, Int), ColStats] = {
        require(m.size <= maxPairs,
          s"quantileDisc: over $maxPairs distinct (group, column) pairs — the group " +
            "column must be reporting-bounded (a rollup catalog, not a " +
            "high-cardinality key); aggregate or bucket the groups first")
        m
      }
      val stats = keys.treeAggregate(mutable.HashMap.empty[(Any, Int), ColStats])(
        (m, t) => {
          val s = m.getOrElseUpdate((t._1, t._2), new ColStats)
          if (t._2 >= 0) s.add(t._3) // cid = -1 registers presence only
          capped(m)
        },
        (a, b) => { b.foreach { case (k, s) =>
          a.get(k) match { case Some(x) => x.merge(s); case None => a.update(k, s) } }; capped(a) })
      // Group catalog from pass A itself: every source row contributed
      // either a real key or an all-null presence sentinel, so the stats
      // keys cover EVERY group — including all-null-value groups, which
      // SQL GROUP BY still emits (with NULL quantiles). This removes the
      // second full-source distinct() scan the round-12 ADVICE costed
      // (the cached arm paid ~2× scan); sorted by string form so the
      // pre-orderBy row order stays deterministic across partitionings.
      val groups: Seq[Any] =
        stats.keysIterator.map(_._1).toSeq.distinct.sortBy(String.valueOf(_: Any))
      require(groups.length <= MaxStates,
        s"quantileDisc: over $MaxStates distinct groups — the group column must " +
          "be reporting-bounded (a rollup catalog, not a high-cardinality key); " +
          "aggregate or bucket the groups first")

      val states = mutable.ArrayBuffer.empty[State]
      for (g <- groups; (req, ri) <- reqs.zipWithIndex) {
        stats.get((g, cidOf(req.colName))).foreach { s =>
          if (s.n > 0L) {
            val target = rankOf(req.q, s.n)
            val st =
              if (target <= s.nNeg)
                new State(g, cidOf(req.colName), ri, target, s.minNeg, s.maxNeg, 0L)
              else
                new State(g, cidOf(req.colName), ri, target, s.minPos, s.maxPos, s.nNeg)
            if (st.lo == st.hi) st.resolve(st.lo)
            states += st
          }
        }
      }
      require(states.length <= MaxStates,
        s"quantileDisc: ${states.length} (group × request) search states exceed " +
          s"MaxStates=$MaxStates — the group column must be reporting-bounded " +
          "(a rollup catalog, not a high-cardinality key); aggregate or bucket " +
          "the groups first, or raise the cap knowingly")

      // Refinement passes: one shuffle-free histogram job per pass — each
      // partition allocates its own primitive partial (nothing shipped
      // out), a tree reduce merges by vector addition, and each active
      // window advances to the bucket crossing its target rank. width==1
      // ⇒ the bucket is one exact key, and counts only cover keys that
      // exist, so the hit is a real element. After the first pass the
      // candidate windows cover ≤ 1/65536 of each column's bit range, so
      // the surviving rows are materialized once and the remaining passes
      // scan that (typically tiny) set instead of the full projection.
      var passes = 0
      var scan = keys
      def winTable(active: Array[State]): (Map[Any, Array[Array[Win]]], Int) = {
        var total = 0
        val wins = mutable.HashMap.empty[Any, Array[mutable.ArrayBuffer[Win]]]
        for (s <- active) {
          s.offset = total
          val w = widthOf(s.lo, s.hi)
          total += ((s.hi - s.lo) / w + 1L).toInt
          wins.getOrElseUpdate(s.group, Array.fill(nCols)(mutable.ArrayBuffer.empty[Win]))
            .apply(s.cid) += Win(s.offset, s.lo, s.hi, w)
        }
        (wins.map { case (k, v) => (k, v.map(_.toArray)) }.toMap, total)
      }
      while (states.exists(!_.resolved)) {
        passes += 1
        val active = states.filter(!_.resolved).toArray
        val (table, total) = winTable(active)
        val bcWins = sc.broadcast(table)
        val counts =
          try scan.mapPartitions { it =>
            val t = bcWins.value
            val arr = new Array[Long](total)
            it.foreach { case (g, cid, k) =>
              if (cid >= 0) t.get(g).foreach { byCid =>
                val ws = byCid(cid)
                var i = 0
                while (i < ws.length) {
                  val w = ws(i)
                  if (k >= w.lo && k <= w.hi)
                    arr(w.offset + ((k - w.lo) / w.width).toInt) += 1L
                  i += 1
                }
              }
            }
            Iterator.single(arr)
          }.treeReduce { (a, b) =>
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }
          finally bcWins.destroy()
        for (s <- active) {
          val width = widthOf(s.lo, s.hi)
          val nb = ((s.hi - s.lo) / width + 1L).toInt
          var cum = s.rankBelow
          var i = 0
          var found = false
          while (!found && i < nb) {
            val c = counts(s.offset + i)
            if (cum + c >= s.target) {
              val newLo = s.lo + i.toLong * width
              s.hi = math.min(s.hi, newLo + (width - 1L))
              s.lo = newLo
              s.rankBelow = cum
              if (width == 1L || s.lo == s.hi) s.resolve(s.lo)
              found = true
            } else { cum += c; i += 1 }
          }
          assert(found, s"quantile search lost its target rank (group ${s.group})")
        }
        if (passes == 1 && states.exists(!_.resolved)) {
          // shrink the scan set to the rows the narrowed windows can still
          // touch (windows only ever shrink, so this is safe for all
          // later passes); worst case — every row in one bucket — this is
          // the full set again and later passes behave like today
          val (filtTable, _) = winTable(states.filter(!_.resolved).toArray)
          val bcFilt = sc.broadcast(filtTable)
          survFilter = Some(bcFilt) // destroyed in the finally — it stays
          // referenced by the persisted survivors lineage for the rest of
          // the call, so destroying earlier would break re-computation
          val surv = keys.filter { case (g, cid, k) =>
            cid >= 0 && bcFilt.value.get(g).exists { byCid =>
              byCid(cid).exists(w => k >= w.lo && k <= w.hi)
            }
          }.persist(StorageLevel.MEMORY_AND_DISK)
          survivors = Some(surv)
          scan = surv
        }
      }

      val answer: Map[(Any, Int), Double] =
        states.map(s => (s.group, s.reqIdx) -> fromSortableBits(s.key)).toMap

      val outSchema = StructType(
        StructField(groupCol, df.schema(groupCol).dataType) +:
          reqs.map(r => StructField(r.outName, DoubleType)))
      val rows = groups.map { g =>
        Row.fromSeq(g +: reqs.indices.map(ri =>
          answer.get((g, ri)).map(Double.box).orNull))
      }
      (spark.createDataFrame(sc.parallelize(rows, 1), outSchema), passes)
    } finally {
      if (cacheScan) keys.unpersist()
      survivors.foreach(_.unpersist())
      survFilter.foreach(_.destroy())
    }
  }
}
