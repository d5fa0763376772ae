package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples,
  ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Whole-operator per-key top-k — the tier-(c) custom operator
  * (SURVEY §7.3): a `LogicalPlan` node, a `SparkStrategy`, and a physical
  * operator, instead of the `Window(row_number) → Filter(rn <= k)`
  * composition.
  *
  * Why the built-ins genuinely can't express this shape (the bar §7.3
  * sets for going custom): Spark's own group-limit path
  * (`InferWindowGroupLimit` → `WindowGroupLimitExec`) still SORTS every
  * partition's full input — O(n log n) rows materialized per partition —
  * because it must leave rows positioned for the downstream rank window.
  * When the caller only wants the top-k SET per key (an ANN shortlist, a
  * per-query candidate cut), that sort is pure overhead: bounded heaps
  * retain k rows per key in one O(n log k) streaming pass and nothing is
  * ever sorted. [[graft.ops.Similarity]] proved the win with a hand-rolled
  * `mapPartitions` heap; this operator is that trick as a first-class
  * plan node any DataFrame can use.
  *
  * Physical shape mirrors partial/final aggregation: a PARTIAL exec with
  * no distribution requirement runs heaps inside each input partition
  * (map-side: at most partitions×keys×k rows survive — the shuffle
  * reduction), then a FINAL exec requires `ClusteredDistribution(keys)`
  * — `EnsureRequirements` inserts the hash exchange — and re-heaps each
  * key's survivors to the global top-k. Same total order as the window
  * twin (`orderBy` columns, caller supplies deterministic tie-breaks),
  * so the output SET is identical; within-key emission order is
  * unspecified, exactly like any exchange output.
  *
  * Memory contract (round 12 — the r11 verdict's one structural finding):
  * the per-partition heap state is BUDGETED, not open-ended. Each task
  * accounts the bytes its key map + heaps hold against
  * `spark.graft.topk.budgetBytes` (default 64 MiB). Under the budget the
  * operator is the pure streaming-heap pass above — the path every
  * bounded-key caller (ANN query ids, (source,lang) cells) stays on.
  * When key cardinality blows the budget — the per-user-top-k-over-10⁹-
  * users shape [[InferTopKFromRankFilter]] can meet on extension-user
  * plans — the task DEGRADES instead of OOMing:
  *   - a PARTIAL task stops admitting new keys: rows of already-tracked
  *     keys keep their bounded replace-only heaps (the map-side cut for
  *     the keys it saw first), rows of new keys stream through unreduced
  *     — the partial contract (emit a superset of each key's top-k) holds
  *     with memory frozen at the budget;
  *   - a FINAL task (which must cut exactly) moves its heaps plus the
  *     rest of its input into an external sort over (key bytes, order) —
  *     budget-sized runs spilled to local disk, k-way merged, then a
  *     streaming per-key limit — the same sort-based discipline Spark's
  *     own `WindowGroupLimitExec` sits on, traded only when the cheap
  *     path's memory bound fails.
  * `spillBytes`/`fallbackTasks` metrics surface the degradation;
  * `TopKPressureSpec` forces it and pins output parity with the window
  * twin.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                      child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Plans [[TopKPerKey]] as partial heaps → (exchange via
  * EnsureRequirements) → final heaps. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      val partial = TopKPerKeyExec(keys, order, k, partial = true, planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                          partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    // keys = Nil is GLOBAL top-k: ClusteredDistribution(Nil) is rejected by
    // Spark 4.1.2's require(clustering.nonEmpty); AllTuples (single
    // partition) is the correct final-stage demand — each partial heap
    // already cut its input to ≤ k rows, so the gather is k×partitions rows
    else if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "rowsRetained" -> SQLMetrics.createMetric(sparkContext,
      "rows retained by per-partition heaps"),
    "fallbackTasks" -> SQLMetrics.createMetric(sparkContext,
      "tasks that hit the memory budget and degraded"),
    "spillBytes" -> SQLMetrics.createSizeMetric(sparkContext,
      "bytes spilled by the final-stage sort fallback"))

  override protected def doExecute(): RDD[InternalRow] = {
    val retained = longMetric("rowsRetained")
    val fallbacks = longMetric("fallbackTasks")
    val spillBytes = longMetric("spillBytes")
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    val isPartial = partial
    // read once on the driver; the closure ships the resolved value
    val budgetBytes = conf.getConfString(
      TopK.BudgetConfKey, TopK.DefaultBudgetBytes.toString).toLong
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowOrd = RowOrdering.create(sortOrder, childOutput)
      // PriorityQueue dequeues the MAX under the ordering; with "compare
      // < 0 = ranks first", max = the worst retained row — heap head
      val ord: Ordering[InternalRow] = rowOrd.asInstanceOf[Ordering[InternalRow]]
      val heaps = scala.collection.mutable.HashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      // budget accounting: UnsafeRow payload bytes + a flat per-entry
      // overhead for the map/queue object headers. Order-of-magnitude
      // honest is enough — the point is that heap state STOPS GROWING
      // near the budget instead of tracking key cardinality to OOM.
      var bytes = 0L
      def sizeOf(r: InternalRow): Long = r match {
        case u: UnsafeRow => u.getSizeInBytes.toLong + 48L
        case other => 24L * other.numFields + 48L
      }
      var overflowed = false
      while (it.hasNext && !overflowed) {
        val row = it.next()
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(h) =>
            if (h.size < limit) {
              val c = row.copy(); bytes += sizeOf(c); h.enqueue(c)
              // fills grow state too (few keys × huge k × wide rows):
              // same trip as key growth
              if (bytes > budgetBytes && heaps.size > 1) overflowed = true
            } else if (ord.compare(row, h.head) < 0) {
              bytes -= sizeOf(h.dequeue())
              val c = row.copy(); bytes += sizeOf(c); h.enqueue(c)
              // replacement rows can be LARGER than what they displace
              // (top-k ordered by a size-correlated score): the replace
              // path must trip the budget too, or state grows toward
              // keys×k×maxRowSize with the check never firing
              if (bytes > budgetBytes && heaps.size > 1) overflowed = true
            }
          case None =>
            // copy the (reused) projection buffer only when the key is
            // new — getOrElseUpdate would allocate a key copy per row
            val kc = key.copy()
            val c = row.copy()
            val fresh = new scala.collection.mutable.PriorityQueue[InternalRow]()(ord)
            fresh.enqueue(c)
            heaps.put(kc, fresh)
            bytes += sizeOf(kc) + sizeOf(c)
            // trip the fallback when growth crosses the budget (keep ≥1
            // key so the degenerate one-giant-row case still heaps)
            if (bytes > budgetBytes && heaps.size > 1) overflowed = true
        }
      }
      if (!overflowed) {
        retained.add(heaps.valuesIterator.map(_.size.toLong).sum)
        heaps.valuesIterator.flatMap(_.iterator)
      } else if (isPartial) {
        // ---- partial-stage degradation: frozen key set, pass-through ----
        // Rows of tracked keys keep the bounded replace-only heap cut; a
        // dropped row is dominated by `limit` better same-key rows, so the
        // emitted stream stays a superset of every key's top-k. Rows of
        // untracked keys stream through unreduced (the final stage cuts
        // them exactly). Memory is frozen: no new keys, heap sizes ≤ k.
        fallbacks.add(1)
        new Iterator[InternalRow] {
          private var pending: InternalRow = _
          private var drain: Iterator[InternalRow] = _
          override def hasNext: Boolean = {
            if (pending != null) return true
            if (drain != null) return drain.hasNext
            while (it.hasNext) {
              val row = it.next()
              heaps.get(keyProj(row)) match {
                case Some(h) if h.size >= limit =>
                  if (ord.compare(row, h.head) < 0) {
                    // replace-only, and only when the byte delta keeps the
                    // frozen state ≤ budget — a bigger-and-better row is
                    // passed through unreduced instead (still correct: the
                    // final stage cuts exactly; the heap's retained worse
                    // row is a superset row). Without the delta check the
                    // "frozen" state grows toward keys×k×maxRowSize.
                    if (bytes - sizeOf(h.head) + sizeOf(row) <= budgetBytes) {
                      bytes -= sizeOf(h.dequeue())
                      val c = row.copy(); bytes += sizeOf(c); h.enqueue(c)
                    } else { pending = row; return true }
                  }
                  // else: dominated by `limit` better same-key rows —
                  // drop it, exactly the reduction the heap exists for
                case _ =>
                  // untracked key, or a tracked key whose heap is not yet
                  // full (admitting would grow frozen state, worst case
                  // keys×k ≈ k×budget): stream the row through unreduced
                  // — the final stage cuts exactly
                  pending = row; return true
              }
            }
            retained.add(heaps.valuesIterator.map(_.size.toLong).sum)
            drain = heaps.valuesIterator.flatMap(_.iterator)
            drain.hasNext
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            if (pending != null) { val r = pending; pending = null; r }
            else drain.next()
          }
        }
      } else {
        // ---- final-stage degradation: external sort group-limit ----
        // The final cut must be exact, so over budget the task becomes
        // what WindowGroupLimitExec is from the start: sort the rows
        // (grouped by key bytes, ordered by the caller's sort), spilling
        // budget-sized runs, then stream the first k of each key group.
        fallbacks.add(1)
        val sorter = new ExternalGroupLimitSorter(
          childOutput.length, rowOrd, budgetBytes, spillBytes)
        val toUnsafe = UnsafeProjection.create(childOutput.map(_.dataType).toArray)
        def unsafeOf(r: InternalRow): UnsafeRow = r match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        heaps.foreach { case (kc, h) =>
          val kb = kc.getBytes
          h.foreach(r => sorter.insert(kb, unsafeOf(r)))
        }
        heaps.clear()
        while (it.hasNext) {
          val row = it.next()
          sorter.insert(keyProj(row).getBytes, unsafeOf(row))
        }
        var curKey: Array[Byte] = null
        var curCount = 0
        var emitted = 0L
        // metric flushed by the task-completion listener: exhaustion-time
        // flushing loses the count whenever a downstream limit stops
        // consuming early (the listener reads the var's final value)
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => retained.add(emitted)))
        sorter.sortedIterator().filter { e =>
          if (curKey == null || !java.util.Arrays.equals(curKey, e.key)) {
            curKey = e.key; curCount = 1
          } else curCount += 1
          val keep = curCount <= limit
          if (keep) emitted += 1
          keep
        }.map(_.row: InternalRow)
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Spill-capable sort used by the final stage's over-budget fallback:
  * buffers (key bytes, UnsafeRow) entries, sorts a run by (key bytes
  * lexicographic, then caller order) whenever the buffer crosses the
  * budget, spills it to a local temp file, and k-way-merges all runs into
  * one grouped, ordered stream. Equal keys have byte-identical Unsafe
  * projections, so the lexicographic key compare groups exactly; WITHIN a
  * key the caller's `rowOrd` ranks best-first, so a streaming "first k
  * per group" over the merged output is the exact per-key top-k.
  *
  * Spill files go under Spark's configured local dirs (`spark.local.dir`
  * / `SPARK_LOCAL_DIRS`, first entry) — NOT `java.io.tmpdir`, which on
  * many hosts is RAM-backed tmpfs where a "disk" spill relieves nothing —
  * and are deleted after reading plus defensively on task completion
  * (which also closes any streams a downstream early-exit abandoned).
  * The k-way merge holds at most [[ExternalGroupLimitSorter.MaxOpenRuns]]
  * run files open at once: excess runs are hierarchically pre-merged into
  * consolidated runs first, so run count (inputBytes/budgetBytes) never
  * translates into file-descriptor count. */
private[plans] final class ExternalGroupLimitSorter(
    numFields: Int, rowOrd: org.apache.spark.sql.catalyst.expressions.BaseOrdering,
    budgetBytes: Long, spillMetric: SQLMetric) {
  import ExternalGroupLimitSorter.MaxOpenRuns

  final case class Entry(key: Array[Byte], row: UnsafeRow)

  private val entryOrd: Ordering[Entry] = new Ordering[Entry] {
    override def compare(a: Entry, b: Entry): Int = {
      val c = ExternalGroupLimitSorter.compareBytes(a.key, b.key)
      if (c != 0) c else rowOrd.compare(a.row, b.row)
    }
  }

  private val buf = scala.collection.mutable.ArrayBuffer.empty[Entry]
  private var bufBytes = 0L
  private val spills = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
  // every file ever created (registered BEFORE its write starts, so a
  // mid-write failure still gets cleaned) + every stream ever opened (a
  // consumer abandoning the merge mid-stream would otherwise hold FDs
  // until GC finalization)
  private val allFiles = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
  private val openStreams = scala.collection.mutable.ArrayBuffer.empty[java.io.Closeable]
  Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
    openStreams.foreach(s => try s.close() catch { case _: Throwable => () })
    allFiles.foreach(f => if (f.exists()) f.delete())
  })

  private lazy val spillDir: java.io.File = {
    val configured = Option(org.apache.spark.SparkEnv.get).map(_.conf)
      .flatMap(_.getOption("spark.local.dir"))
      .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
      .flatMap(_.split(",").map(_.trim).find(_.nonEmpty))
    val d = new java.io.File(
      configured.getOrElse(System.getProperty("java.io.tmpdir")))
    d.mkdirs()
    d
  }

  def insert(key: Array[Byte], row: UnsafeRow): Unit = {
    // copy BOTH on intake: the UnsafeRow may alias the child's reused
    // buffer, and the key bytes may alias a projection's reused buffer —
    // UnsafeRow.getBytes returns the BACKING ARRAY ITSELF when the row
    // exactly fills it (measured: every drained key aliased one mutating
    // array and collapsed into a single group until this copy)
    val e = Entry(java.util.Arrays.copyOf(key, key.length), row.copy())
    buf += e
    bufBytes += e.key.length + e.row.getSizeInBytes + 64L
    if (bufBytes > budgetBytes) spillRun()
  }

  private def writeRun(entries: Iterator[Entry]): java.io.File = {
    val f = java.io.File.createTempFile("graft-topk-spill", ".run", spillDir)
    allFiles += f
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(f), 1 << 16))
    try {
      val writeBuffer = new Array[Byte](1 << 12)
      entries.foreach { e =>
        out.writeInt(e.key.length)
        out.write(e.key)
        out.writeInt(e.row.getSizeInBytes)
        e.row.writeToStream(out, writeBuffer)
      }
    } finally out.close()
    f
  }

  private def spillRun(): Unit = {
    spills += writeRun(buf.sorted(entryOrd).iterator)
    spillMetric.add(bufBytes)
    buf.clear()
    bufBytes = 0L
  }

  /** One grouped+ordered pass over everything inserted. Call once. */
  def sortedIterator(): Iterator[Entry] = {
    // hierarchical pre-merge: never hold more than MaxOpenRuns run files
    // open at once (with the default budget a ~100 GB hot-key task would
    // otherwise open ~1600 streams and blow the FD ulimit)
    while (spills.length > MaxOpenRuns) {
      val batch = spills.take(MaxOpenRuns).toSeq
      spills.remove(0, MaxOpenRuns)
      spills += writeRun(mergeRuns(batch.map(readRun)))
      batch.foreach(f => if (f.exists()) f.delete())
    }
    val inMem = buf.sorted(entryOrd).iterator
    if (spills.isEmpty) inMem
    else {
      val runs = spills.toSeq.map(readRun) :+ inMem
      mergeRuns(runs)
    }
  }

  private def readRun(f: java.io.File): Iterator[Entry] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(f), 1 << 16))
    openStreams += in
    new Iterator[Entry] {
      private var nextEntry: Entry = fetch()
      private def fetch(): Entry =
        try {
          val klen = try in.readInt() catch {
            case _: java.io.EOFException => in.close(); f.delete(); return null
          }
          val key = new Array[Byte](klen)
          in.readFully(key)
          val rlen = in.readInt()
          val bytesArr = new Array[Byte](rlen)
          in.readFully(bytesArr)
          val row = new UnsafeRow(numFields)
          row.pointTo(bytesArr, rlen)
          Entry(key, row)
        } catch { case e: Throwable => in.close(); throw e }
      override def hasNext: Boolean = nextEntry != null
      override def next(): Entry = {
        val e = nextEntry; nextEntry = fetch(); e
      }
    }
  }

  private def mergeRuns(runs: Seq[Iterator[Entry]]): Iterator[Entry] = {
    // min-heap over run heads: PriorityQueue dequeues the MAX, so reverse
    val pq = new scala.collection.mutable.PriorityQueue[(Entry, Iterator[Entry])]()(
      Ordering.by[(Entry, Iterator[Entry]), Entry](_._1)(entryOrd.reverse))
    runs.foreach(r => if (r.hasNext) pq.enqueue((r.next(), r)))
    new Iterator[Entry] {
      override def hasNext: Boolean = pq.nonEmpty
      override def next(): Entry = {
        val (e, r) = pq.dequeue()
        if (r.hasNext) pq.enqueue((r.next(), r))
        e
      }
    }
  }
}

private[plans] object ExternalGroupLimitSorter {
  /** Max run files held open simultaneously by the k-way merge; past it
    * runs are hierarchically consolidated first. 32 × 64 KiB read buffers
    * = 2 MiB, far under any FD or memory concern per task. */
  val MaxOpenRuns = 32

  /** Unsigned lexicographic byte compare (length as final tiebreak).
    * Equal key VALUES project to identical bytes, which is all the
    * grouping needs; the relative order of distinct keys is arbitrary
    * but total and consistent across runs — sufficient for merge. */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}

/** User-facing constructor. Self-installing: the strategy rides
  * `spark.experimental.extraStrategies` ([[graft.exprs.GraftExtensions.install]])
  * so ANY session can plan the node (no `spark.sql.extensions` opt-in
  * needed); sessions built via [[graft.Graft.session]] get it from the
  * `GraftExtensions` class too. */
object TopK {
  /** Per-task byte budget for heap state; past it a task degrades to the
    * documented fallback (partial: frozen keys + pass-through; final:
    * external sort group-limit) instead of growing with key cardinality. */
  val BudgetConfKey = "spark.graft.topk.budgetBytes"
  val DefaultBudgetBytes: Long = 64L << 20

  /** Top `k` rows per `keyCols` group under `orderCols` (e.g.
    * `col("score").desc, col("id")`). Caller supplies a deterministic
    * total order (tie-break on a unique column) for a deterministic
    * result set. Memory-safe under high-cardinality keys via
    * [[BudgetConfKey]] (see [[TopKPerKey]] scaladoc). */
  def perKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column],
             k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.exprs.GraftExtensions.install(spark)
    import org.apache.spark.sql.graftbridge.Bridge
    val keyExprs: Seq[Expression] =
      keyCols.map(n => Bridge.expression(org.apache.spark.sql.functions.col(n)))
    val order: Seq[SortOrder] = orderCols.map(Bridge.expression).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      TopKPerKey(keyExprs, order, k, df.queryExecution.analyzed))
  }
}
