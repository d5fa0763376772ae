package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One pass over the curation queries q23, q81, q126 and q171
  * (`SparkEntry.queries`) on generated `documents` and `embeddings`
  * tables: where `ops.Dedup`, `ops.Similarity` and `rel` are measured. The
  * iterative loops (q171 kNN-graph descent, q81 connected components) are
  * bound by per-round driver syncs; q23 and q126 have no loop.
  *
  * Checks, on the untimed warm-up pass: q23 equals a plain-Scala shingle
  * Jaccard join; q81 equals a union-find clustering of those pairs; q171
  * gives every vector exactly k = 3 distinct neighbours. Every timed pass
  * must reproduce the warm-up pass's output digests.
  */
object CurationLoops {

  val Docs = 1500
  val Vectors = 600
  val Dim = 32
  val Queries: Seq[(String, String)] = Seq(
    "q23_dedup_near_jaccard" -> "ops.dedup.q23",
    "q81_dedup_clusters" -> "ops.dedup.q81",
    "q126_weighted_jaccard" -> "rel.q126",
    "q171_knn_graph_approx" -> "ops.similarity.q171")

  def writeTables(spark: SparkSession, dir: File, seed: Long): Array[String] = {
    val vocab = Gen.vocabulary(seed, 1200)
    val docs = Gen.documents(seed, Docs, vocab)
    val docRows = docs.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, if (i % 3 == 0) "en" else "zh", s"src${i % 4}", t.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows.toSeq, 1), docSchema)
      .write.mode("overwrite").parquet(new File(dir, "documents.parquet").getAbsolutePath)
    val embRows = Gen.embeddings(seed, Vectors, Dim, 8).map { case (id, v, l) => Row(id, v.toSeq, l) }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(embRows.toSeq, 1), embSchema)
      .write.mode("overwrite").parquet(new File(dir, "embeddings.parquet").getAbsolutePath)
    docs
  }

  /** Near-duplicate pairs (d1 < d2, Jaccard of distinct word 3-shingles
    * >= 0.8, rounded to 4 places) — q23's definition. */
  def jaccardPairs(docs: Array[String]): Seq[(Long, Long, Double)] = {
    val sh = docs.map { t =>
      val w = t.split(" ")
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    sh.zipWithIndex.foreach { case (s, i) => s.foreach(x => index.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += i) }
    val inter = mutable.HashMap.empty[(Int, Int), Int]
    index.values.foreach { ds =>
      for (a <- ds; b <- ds if a < b) inter((a, b)) = inter.getOrElse((a, b), 0) + 1
    }
    inter.toSeq.flatMap { case ((a, b), n) =>
      val j = n * 1.0 / (sh(a).size + sh(b).size - n)
      if (j >= 0.8) Some((a.toLong, b.toLong, math.floor(j * 10000.0 + 0.5) / 10000.0)) else None
    }.sortBy(p => (p._1, p._2))
  }

  /** Min-id component label per doc (singletons label themselves). */
  def clusters(n: Int, pairs: Seq[(Long, Long, Double)]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Array.tabulate(n)(i => find(i).toLong)
  }

  private def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def checkOutput(name: String, rows: Seq[Row], docs: Array[String],
                          pairs: Seq[(Long, Long, Double)], labels: Array[Long]): Option[String] = {
    def bad(msg: String) = Some(s"$name: $msg")
    name.take(4) match {
      case "q23_" =>
        val got = rows.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.getDouble(2)))
        if (got == pairs) None else bad(s"${got.length} pairs, reference ${pairs.length}")
      case "q81_" =>
        val byDoc = rows.map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
        val wrong = labels.indices.count(i => !byDoc.get(i.toLong).contains(labels(i)))
        if (wrong == 0 && byDoc.size == labels.length) None
        else bad(s"$wrong of ${labels.length} cluster labels differ from union-find")
      case "q171" =>
        val nbrs = rows.groupBy(_.getAs[Number]("vid").longValue)
        val ok = nbrs.size == Vectors && nbrs.forall { case (id, rs) =>
          val ns = rs.map(_.getAs[Number]("nbr").longValue)
          ns.length == 3 && ns.distinct.length == 3 && !ns.contains(id)
        }
        if (ok) None else bad(s"kNN graph over ${nbrs.size} vectors is not 3-regular without self-loops")
      case _ => if (rows.nonEmpty) None else bad("empty output")
    }
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val sc = ctx.sc
    val queries = graft.SparkEntry.queries
    def runQuery(name: String, dir: String): Seq[Row] = queries(name)(spark, dir).collect().toSeq

    val (dir, docs) = ctx.setupMedian(3, (r: (File, Array[String])) => Main.deleteTree(r._1)) { rep =>
      val d = new File(ctx.workDir, s"data$rep")
      (d, writeTables(spark, d, ctx.seed))
    }
    val pairs = jaccardPairs(docs)
    val labels = clusters(docs.length, pairs)

    // untimed warm-up: one pass over the timed tables, checked against the
    // references; every timed pass must then reproduce its digests
    val digests = Queries.map { case (q, _) =>
      val rows = runQuery(q, dir.getAbsolutePath)
      val problem = checkOutput(q, rows, docs, pairs, labels)
      ctx.op(problem.isEmpty, problem.getOrElse(""))
      q -> digest(rows)
    }.toMap
    Main.mark("warm-up done")

    val perQuery = mutable.LinkedHashMap(Queries.map(_._1 -> mutable.ArrayBuffer.empty[Double]): _*)
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    ctx.listener.reset()
    // traced runs alternate untraced and traced passes: the gap between the
    // two medians is the tracing overhead
    ctx.timedLoop(minPasses = if (ctx.trace) 2 else 1) { i =>
      val traced = ctx.trace && i % 2 == 1
      Trace.enabled = traced
      val passId = Trace.newId()
      var passS = 0.0
      Queries.foreach { case (q, layer) =>
        val (rows, t) = Trace.phase(sc, layer, passId) { runQuery(q, dir.getAbsolutePath) }
        passS += t
        if (!ctx.trace || traced) perQuery(q) += t
        val dg = digest(rows)
        ctx.op(dg == digests(q), s"$q: pass $i digest $dg differs from the checked warm-up pass (${digests(q)})")
      }
      if (!ctx.trace || traced) passTimes += passS else untraced += passS
    }
    Trace.enabled = false
    ctx.e2e("live_heap_mb") = ctx.liveHeapMb()

    val batch = Stats.median(passTimes.toSeq)
    ctx.e2e("op_p50_s") = batch
    ctx.e2e("work_per_s") = Queries.length / batch
    ctx.line(f"docs $Docs, vectors $Vectors, passes (s): ${passTimes.map(x => f"$x%.3f").mkString(" ")}, " +
      f"batch_s $batch%.3f s; per query p50: " +
      perQuery.map { case (q, ts) => f"${q.take(4).stripSuffix("_")} ${Stats.median(ts.toSeq)}%.3f" }.mkString(", "))

    if (ctx.trace) {
      val L = ctx.layer
      val g = ctx.listener.snapshot
      val all = passTimes.length + untraced.length
      ctx.sparkLayer(g.values, passTimes.sum + untraced.sum, all)
      Queries.foreach { case (q, layer) =>
        L(s"${layer}_s") = Stats.median(perQuery(q).toSeq)
        L(s"${layer}_jobs") = g.get(layer).map(_.jobs).getOrElse(0).toDouble / all
      }
      L("trace.overhead_share") = if (untraced.isEmpty) 0.0 else batch / Stats.median(untraced.toSeq) - 1.0
    }
  }
}
