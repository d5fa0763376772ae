package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  * No counterpart in the reference (SURVEY §2 Part B: B21/B22) — these are
  * the engine-capability extensions the driver contract requires.
  *
  * Scale design: every operator shuffles only on its dedup/bucket key —
  * exact dedup is one hash-partition pass; near-dup never goes all-pairs
  * (the exact-Jaccard form prunes by shared shingle, the MinHash form by
  * LSH band bucket), so cost tracks candidate pairs, not n².
  */
object Dedup {

  /** Exact dedup: keep one deterministic representative per key group
    * (smallest `keepBy` tuple). `dropDuplicates` picks an arbitrary row;
    * at scale (and for oracle checks) determinism matters, so this is the
    * row_number()=1 form — one shuffle on the key columns.
    */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], keepBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(keepBy: _*)
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** Group-level exact dedup summary over a normalized-text hash:
    * md5 (engine-portable) of the normalized text, representative id,
    * duplicate count. */
  def exactByTextHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(lower(col(textCol))).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word n-gram shingles from the raw text. A Scala UDF rather
    * than a transform/sequence column chain: the HOF lambda indexes the
    * token array n times per shingle and CollapseProject re-inlines the
    * `split()` into every access, re-tokenizing the document ~3n× per row
    * (observed 10× slowdown at sf0.1); the UDF evaluates once per row
    * (SURVEY §7.3: per-row string kernels are UDF-class). Tokenization is
    * `split(" ", -1)` — identical to Spark's `split(text, " ")` and
    * DuckDB's `string_split(text, ' ')`, which the oracles use. */
  def shinglesFromText(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = text.split(" ", -1)
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  private val shinglesUdf = udf((text: String, n: Int) => shinglesFromText(text, n))

  def shingles(textCol: Column, n: Int): Column =
    shinglesUdf(textCol, lit(n))

  private[ops] def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Distinct shingles as 64-bit FNV-1a hashes of the joined-with-space
    * shingle string, computed incrementally — the shingle string is never
    * materialized. Bit-identical to fnv64(shinglesFromText(..)(i)), so
    * hash-domain operators compose with the string-domain ones. 64-bit
    * collisions alter a Jaccard count with probability ~|A|·|B|/2^64 per
    * pair — negligible against the oracle at any feasible corpus size. */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val toks = text.split(" ", -1)
    if (toks.length < n) return Array.emptyLongArray
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](toks.length - n + 1)
    var m = 0
    var i = 0
    while (i + n <= toks.length) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= ' '; h *= 0x100000001b3L }
        val t = toks(i + j)
        var c = 0
        while (c < t.length) { h ^= t.charAt(c); h *= 0x100000001b3L; c += 1 }
        j += 1
      }
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, m)
  }

  private val shingleHashesUdf = udf((text: String, n: Int) => shingleHashes(text, n))

  /** Exact n-gram-Jaccard near-duplicate pairs (declared oracle-checkable
    * form, SURVEY B22): explode distinct shingles, self-join on shingle
    * (the join key prunes non-overlapping pairs), count intersections,
    * Jaccard = |∩| / (|A|+|B|-|∩|) >= tau. At 100 TB this exact form is
    * only viable after LSH candidate pruning — see [[minhashCandidates]];
    * the declared query runs it on the documents table where the shingle
    * join is selective.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, tau: Double,
                   hotThreshold: Long = 2L, maxHotShingles: Int = 100000,
                   hotSampleTarget: Long = 2000000L): DataFrame = {
    val spark = df.sparkSession
    // Everything downstream works in the 64-bit shingle-hash domain: 4×
    // smaller shuffles than string shingles and long-typed joins/
    // intersections. Materialize the hash arrays once: this node feeds the
    // hot-shingle scan, the prefix branch AND both verification joins;
    // without it each consumer re-runs the tokenize+shingle kernel over
    // the full corpus (3+ passes observed).
    val base = df.select(col(idCol).as("doc"),
        shingleHashesUdf(col(textCol), lit(n)).as("sh"))
      .where(size(col("sh")) > 0)
      .persist()
    try {
      // Corpus-hot shingles, bounded to a broadcastable map: anything with
      // freq > hotThreshold, capped at the maxHotShingles hottest. One
      // groupBy over the exploded hashes — replaces the freq-join +
      // per-doc window (3 shuffles of the full exploded table) that a full
      // frequency sort would need. The cap keeps the map bounded at any
      // corpus size while still demoting exactly the flood-making hot
      // shingles. Above hotSampleTarget docs the discovery pass runs on a
      // deterministic sample (hot shingles are by definition frequent, so
      // a sample finds them); the resulting order is a DIFFERENT but still
      // globally consistent total order, which is all prefix-filter
      // exactness needs — the final output is invariant.
      // This count() is not just a gate: it (1) materializes the persist
      // that every downstream branch reuses (the pass would be paid anyway
      // by the first consumer) and (2) sizes the discovery sample fraction,
      // which needs the true row count. The statistics-based alternative
      // (optimizedPlan.stats.rowCount) is only populated under CBO/ANALYZE
      // and silently absent otherwise, so the explicit bounded action is
      // the safer contract at every scale.
      val total = base.count()
      val fraction = math.min(1.0, hotSampleTarget.toDouble / math.max(total, 1L))
      val discovery = if (fraction >= 1.0) base else base.sample(false, fraction, 42L)
      val scaledThreshold = math.max(1L, math.floor(hotThreshold * fraction).toLong)
      val hotRows = discovery.select(explode(col("sh")).as("s"))
        .groupBy("s").agg(count(lit(1)).as("f"))
        .where(col("f") > scaledThreshold)
        .orderBy(col("f").desc, col("s"))
        .limit(maxHotShingles)
        .collect()
      // broadcast as two SORTED parallel primitive arrays probed with
      // Arrays.binarySearch — the per-shingle lookup in the sort kernel
      // below stays boxing-free (a Map[Long,Long] would box every probe)
      val hotPairs = hotRows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val hotB = spark.sparkContext.broadcast(
        (hotPairs.map(_._1), hotPairs.map(_._2)))
      // One consistent GLOBAL total order over the shingle universe:
      // (frequency if hot else 1, hash). Cold shingles sort first in hash
      // order, hot ones sink below them by true frequency — the
      // rarest-first property that keeps candidate prefixes selective,
      // computed per row with no shuffle. All-primitive kernel: cold
      // entries (freq 1, i.e. not in the hot map) are Arrays.sort'ed,
      // the few hot ones insertion-sorted by (freq, hash) and appended —
      // no boxed tuple allocation per element (the sortBy form this
      // replaces was the profiled CPU tail of the checkpoint pass).
      val sortUdf = udf((sh: Seq[Long]) => {
        val (hk, hf) = hotB.value
        val m = sh.length
        val cold = new Array[Long](m); var nc = 0
        val hotH = new Array[Long](m); val hotF = new Array[Long](m); var nh = 0
        var i = 0
        while (i < m) {
          val h = sh(i)
          val p = java.util.Arrays.binarySearch(hk, h)
          if (p < 0) { cold(nc) = h; nc += 1 }
          else { hotH(nh) = h; hotF(nh) = hf(p); nh += 1 }
          i += 1
        }
        java.util.Arrays.sort(cold, 0, nc)
        var a = 1
        while (a < nh) { // hot-per-doc is small; insertion sort suffices
          val fa = hotF(a); val ha = hotH(a); var b = a - 1
          while (b >= 0 && (hotF(b) > fa || (hotF(b) == fa && hotH(b) > ha))) {
            hotF(b + 1) = hotF(b); hotH(b + 1) = hotH(b); b -= 1
          }
          hotF(b + 1) = fa; hotH(b + 1) = ha
          a += 1
        }
        val out = new Array[Long](m)
        System.arraycopy(cold, 0, out, 0, nc)
        var c = 0
        while (c < nh) { out(nc + c) = hotH(c); c += 1 }
        out
      })
      val withSh = base.select(col("doc"), sortUdf(col("sh")).as("sh"))
        .withColumn("sz", size(col("sh")))
        .localCheckpoint() // eager: safe to unpersist base afterwards
      // Prefix filtering (exact-preserving): under any single GLOBAL
      // shingle order, a pair with jaccard >= tau must share at least one
      // shingle inside each side's first (sz - ceil(tau*sz) + 1) shingles.
      // The arrays are pre-sorted, so the prefix is an array slice and
      // only the (short) prefixes are ever exploded.
      val prefLen = (col("sz") - ceil(lit(tau) * col("sz")) + lit(1)).cast("int")
      val prefix = withSh
        .select(col("doc"), col("sz"),
          explode(slice(col("sh"), lit(1), prefLen)).as("shingle"))
      // candidates: prefix-share + size-ratio prune (jaccard <= min/max)
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc") &&
            col("a.sz") <= col("b.sz") / tau && col("b.sz") <= col("a.sz") / tau)
        .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
        .distinct()
      // exact verification on the candidate set only
      val sets = withSh.select(col("doc"), col("sh"))
      cand
        .join(sets.withColumnRenamed("doc", "d1").withColumnRenamed("sh", "sh1"), "d1")
        .join(sets.withColumnRenamed("doc", "d2").withColumnRenamed("sh", "sh2"), "d2")
        // filter on the TRUE ratio (identical integer operands -> identical
        // double comparison in both engines): a rounded-value filter would
        // admit boundary pairs (true J in [tau-0.00005, tau)) that the
        // prefix/size pruning above is NOT guaranteed to retain; round only
        // for display
        .withColumn("_j", size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
        .where(col("_j") >= tau)
        .select(col("d1"), col("d2"), graft.Stable.r4(col("_j")).as("jaccard"))
    } finally base.unpersist()
  }

  /** One 64-bit minhash signature per seed slot: FNV-1a base hash of the
    * shingle, remixed per slot with a splitmix64 finalizer over distinct
    * odd increments — deterministic across JVMs and partitionings. */
  def minhashSignature(shingles: Seq[String], k: Int): Array[Long] = {
    val out = Array.fill(k)(Long.MaxValue)
    if (shingles == null) return out
    shingles.foreach { s =>
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
      var j = 0
      while (j < k) {
        var v = h + (j + 1) * 0x9E3779B97F4A7C15L // splitmix64 finalizer
        v = (v ^ (v >>> 30)) * 0xBF58476D1CE4E5B9L
        v = (v ^ (v >>> 27)) * 0x94D049BB133111EBL
        v ^= v >>> 31
        if (v < out(j)) out(j) = v
        j += 1
      }
    }
    out
  }

  /** MinHash near-dup candidates with banded LSH — the 100-TB path.
    *
    * AND-amplification inside each band (r concatenated minhashes) then
    * OR across b bands: collision probability 1-(1-s^r)^b. With r=3, b=6
    * a jaccard-0.9 pair is caught with p≈0.999 while a jaccard-0.1 pair
    * costs only ~0.6% of the pair space — the property MLlib's MinHashLSH
    * (one hash per table, pure OR) lacks, and the reason a pure-OR join
    * floods at scale. Candidates are then verified with the exact Jaccard
    * on their shingle sets, so precision is 1; only recall is
    * probabilistic (spec asserts >= 0.9 vs [[jaccardPairs]]).
    */
  /** FNV-fold of each band's r consecutive minhash slots into one 64-bit
    * band signature — ONE definition shared by the batch self-join and the
    * streaming membership processor ([[graft.streaming.Curation]]), so
    * their bucketing is bit-identical by construction. */
  def bandSignatures(sig: Array[Long], bands: Int): Array[Long] = {
    // guard here, not only in callers: an indivisible banding would
    // silently drop the trailing signature slots
    require(sig.length % bands == 0,
      s"signature length ${sig.length} must be divisible by bands=$bands")
    val r = sig.length / bands
    Array.tabulate(bands) { b =>
      var h = 0xcbf29ce484222325L
      var i = b * r
      while (i < (b + 1) * r) { h ^= sig(i); h *= 0x100000001b3L; i += 1 }
      h
    }
  }

  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int, tau: Double,
                        numHashes: Int = 18, bands: Int = 6): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sigUdf = udf((sh: Seq[String]) =>
      bandSignatures(minhashSignature(sh, numHashes), bands).toSeq)
    val withSh = df.select(col(idCol).as("doc"), shingles(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
    val banded = withSh
      .select(col("doc"), posexplode(sigUdf(col("sh"))).as(Seq("band", "bsig")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .distinct()
    // exact verification on the (small) candidate set only
    val sets = withSh.select(col("doc"), col("sh"))
    cand
      .join(sets.withColumnRenamed("doc", "d1").withColumnRenamed("sh", "sh1"), "d1")
      .join(sets.withColumnRenamed("doc", "d2").withColumnRenamed("sh", "sh2"), "d2")
      .withColumn("_j", size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
        size(array_union(col("sh1"), col("sh2"))))
      .where(col("_j") >= tau) // true ratio, as in jaccardPairs
      .select(col("d1"), col("d2"), graft.Stable.r4(col("_j")).as("jaccard"))
  }

  /** 64-bit SimHash of a token array: per-token 64-bit hash votes on each
    * bit, weighted +1/-1; the sign of each bit's vote total forms the
    * fingerprint. Near-dups have small Hamming distance. Pure Scala kernel
    * (FNV-1a token hash — stable across JVMs, unlike String.hashCode for
    * non-ASCII surrogates... FNV is also what public simhash impls use).
    */
  def simhash64(tokens: Seq[String]): Long = {
    if (tokens == null) return 0L
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
      var i = 0
      while (i < t.length) { h ^= t.charAt(i); h *= 0x100000001b3L; i += 1 }
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  val simhashUdf = udf((toks: Seq[String]) => simhash64(toks))

  /** SimHash near-dup pairs via 4×16-bit band blocking: by pigeonhole, any
    * pair within Hamming distance 3 shares at least one exact 16-bit band,
    * so the self-join key is (band_idx, band_value) — never all-pairs. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val hashed = df.select(col(idCol).as("doc"),
      simhashUdf(split(col(textCol), " ")).as("sig"))
    val banded = hashed.select(col("doc"), col("sig"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("band"),
            shiftrightunsigned(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)).as("bval"))): _*)).as("bb"))
      .select(col("doc"), col("sig"), col("bb.band"), col("bb.bval"))
    val popcount = udf((x: Long) => java.lang.Long.bitCount(x))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"),
        popcount(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Incremental ingestion dedup: keep the rows of `batch` whose key does
    * NOT already exist in `corpus`, with a Bloom-filter pre-filter so the
    * expensive exact check only touches possible duplicates. The result
    * is EXACT — the Bloom filter admits false positives but never false
    * negatives, so `mightContain = false` rows are definitely new (kept
    * with no join at all) and only the positive subset pays the anti-join
    * verification.
    *
    * Scale shape: the filter is built with one `treeAggregate` pass over
    * the corpus keys (`DataFrameStatFunctions.bloomFilter` — mergeable
    * per-partition sketches, driver holds only the ~`1.2·n·ln(1/fpp)/ln2²`
    * bits), broadcast once, and evaluated map-side over the batch. For a
    * mostly-new batch (the common ingestion case) this removes almost the
    * whole anti-join shuffle: only `fpp` of the truly-new rows plus the
    * actual duplicates ever reach the exchange. `expectedItems` sizes the
    * filter; callers that know the corpus cardinality should pass it
    * (the default pays a count action).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, keyCol: String,
                       expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    // ONE corpus pass: distinct keys materialized eagerly, then the
    // sizing count, the bloomFilter aggregate, and the verification join
    // all read the checkpointed blocks instead of re-scanning the source
    // (3 scans otherwise — on the operator whose point is cutting
    // ingestion I/O)
    val keys = corpus.select(col(keyCol)).where(col(keyCol).isNotNull)
      .distinct().localCheckpoint()
    val n = if (expectedItems > 0) expectedItems else math.max(keys.count(), 1L)
    val bf = keys.stat.bloomFilter(keyCol, n, fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val maybeDup = udf((k: String) => k != null && bfB.value.mightContainString(k))
    // eager too: both output branches read `flagged`, so without it the
    // batch source and the Bloom probe evaluate twice — and a
    // non-deterministic source could flip rows between branches
    val flagged = batch.withColumn("_maybe", maybeDup(col(keyCol)))
      .localCheckpoint()
    val definiteNew = flagged.where(!col("_maybe")).drop("_maybe")
    val verifiedNew = flagged.where(col("_maybe")).drop("_maybe")
      .join(keys, Seq(keyCol), "left_anti")
    definiteNew.unionByName(verifiedNew)
  }

  /** Connected components over a near-dup pair list: the transitive-
    * closure step that turns pairwise matches into dedup CLUSTERS (A~B,
    * B~C ⇒ {A,B,C} share one representative even when A and C never
    * matched directly). Hash-Min label propagation: every vertex starts
    * labeled with its own id; each round every vertex takes the min of its
    * label and its neighbors' labels; fixpoint = each component uniformly
    * carries its min vertex id.
    *
    * Scale shape: per round, one shuffle join (edges × labels) + one
    * groupBy for the neighbor min, plus one labels-self join that
    * POINTER-JUMPS each label (label(v) := label(label(v))) — the
    * shortcutting that makes rounds O(log diameter) instead of
    * O(diameter), as in large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Near-dup
    * components are dense/shallow (2-3 rounds); a 64-vertex path graph
    * closes in ~8 (spec-pinned). No driver-side graph. `localCheckpoint`
    * after each round truncates the lineage iterative DataFrame loops
    * otherwise accumulate (cluster deployments with HA requirements
    * should swap in reliable `checkpoint`); maxIter bounds the loop and
    * overflow throws rather than silently mislabeling.
    *
    * Returns (id, cluster): every vertex that appears in `pairs`, labeled
    * by the min id of its component. Vertices with no pair (singletons)
    * are absent — callers left-join and coalesce to the vertex's own id.
    */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame = {
    // symmetric, deduped edge list — persist: re-read every round.
    // Built by EXPLODING each pair into its two directions rather than a
    // union of two selects over `pairs`: a union evaluates the (often
    // expensive — q81 feeds the whole jaccardPairs tail in here) pair
    // plan once per branch, the explode evaluates it exactly once.
    val edges = pairs.select(explode(array(
        struct(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")),
        struct(col(dstCol).cast("long").as("src"), col(srcCol).cast("long").as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist()
    try {
      // round 0 fused into init: label(v) = min(v, min neighbor) from ONE
      // groupBy — replaces the vertex-distinct shuffle plus a whole
      // propagation round (clique-like near-dup components converge here
      // immediately; the loop then just confirms the fixpoint)
      var labels = edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("m"))
        .select(col("id"), least(col("id"), col("m")).as("cluster"))
        .localCheckpoint()
      var iter = 0
      var converged = false
      // the propagation loop runs AQE-off (see [[LoopConf]]): every
      // in-loop decision is already explicit — the nbrMin groupBy does
      // map-side partial min (hot in-degree keys collapse BEFORE the
      // exchange, so there is no skew for AQE to split), the joins are
      // dense 3-long-column frames on the conf-width id key, and the
      // per-round checkpoint+probe pair is the action. What AQE added
      // was one query-stage job per exchange — 4-6 driver gaps per
      // round on a loop whose frames shrink every iteration. Edge
      // materialization and the round-0 init stay under AQE above.
      LoopConf.withAqeOff(pairs.sparkSession) {
      while (!converged && iter < maxIter) {
        // min neighbor label per vertex (map-side partial agg), then take
        // the min of (own, neighbors') — one shuffle join + one groupBy
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("cluster").as("nlbl")), "dst")
          .groupBy(col("src").as("id")).agg(min(col("nlbl")).as("nmin"))
        val stepped = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("cluster"),
            least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("mid"))
        // pointer jump (shortcutting): follow the label one hop — label(v)
        // := label(label(v)). Labels are always vertex ids with their own
        // rows, the followed label is ≤ its id, and labels only ever
        // decrease, so this squares the propagation distance per round:
        // O(log diameter) rounds instead of O(diameter), the property
        // that closes adversarial path-graphs within a sane maxIter
        // (same effect as large-star/small-star's shortcuts, one join).
        // Skipped in the first loop round: shallow (clique-like) near-dup
        // components have already converged at init and would pay the
        // join only to confirm the fixpoint; deep graphs just shift the
        // doubling one round later.
        val jumped =
          if (iter == 0) stepped.withColumnRenamed("mid", "next")
          else stepped.join(
              labels.select(col("id").as("_mid"), col("cluster").as("jlbl")),
              col("mid") === col("_mid"), "left")
            .select(col("id"), col("cluster"),
              least(col("mid"), coalesce(col("jlbl"), col("mid"))).as("next"))
        val step = jumped
          .localCheckpoint() // eager: one job materializes both next + delta
        converged = step.where(col("next") < col("cluster")).isEmpty
        labels = step.select(col("id"), col("next").as("cluster"))
        iter += 1
      }
      } // withAqeOff
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds — " +
            "raise maxIter (rounds needed ≈ log₂(component diameter) + 2)")
      labels
    } finally edges.unpersist()
  }
}
