package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every workload input comes from here and from
  * the seed alone: the same seed gives byte-identical inputs, and the
  * engine receives only the generated rows (never a file of the repo).
  *
  * Text is built from a seeded vocabulary of consonant-vowel words that
  * are pairwise substring-free and have pairwise distinct Porter stems, so
  * an answer the LLM stub marks wrong can never match a reference by
  * accident (EM, token F1, stemmed ROUGE-L and raw substring all read 0).
  */
object Gen {

  private val Consonants = "bdfgklmnprstvz"
  private val Vowels = "aeiou"

  /** Tokens the scoring path treats specially: refusal markers, articles
    * and the reference separator. A vocabulary word never equals one. */
  private val Reserved: Set[String] =
    (graft.text.TextKernels.RefusalMarkers.flatMap(_.toLowerCase.split(" ")) ++
      Seq("a", "an", "the", "or")).toSet

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream * 0xBF58476D1CE4E5B9L))

  /** `n` words of 2 to 4 consonant-vowel syllables. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, 1)
    val words = ArrayBuffer.empty[String]
    val stems = scala.collection.mutable.HashSet.empty[String]
    while (words.size < n) {
      val syl = 2 + r.nextInt(3)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb += Consonants(r.nextInt(Consonants.length)) += Vowels(r.nextInt(Vowels.length))
      }
      val w = sb.toString
      val stem = graft.text.TextKernels.rougeTokenize(w).mkString(" ")
      if (!Reserved(w) && !stems(stem) && !words.exists(o => o.contains(w) || w.contains(o))) {
        words += w
        stems += stem
      }
    }
    words.toArray
  }

  /** Zipf-like draw: low indices are frequent, the tail is long. */
  private def zipf(r: SplittableRandom, n: Int): Int = {
    val u = r.nextDouble()
    math.min(n - 1, (n * u * u * u).toInt)
  }

  /** Near-duplicates come in chains of this many links. */
  val NearDupChain = 4

  /** `n` documents of 20 to 59 words. Every tenth document after the
    * first hundred is a near-duplicate: one word of its source replaced,
    * so dedup and clustering have real clusters to find. The
    * near-duplicates form chains of [[NearDupChain]] links. A chain starts
    * from a random earlier original of 32 to 50 words and each link copies
    * the previous one. One changed word of 32 keeps a link's shingle
    * Jaccard at 0.8 or more; two changed words of 50 mostly fall below it.
    * So the deepest cluster is a path of the same length whatever the
    * seed, and connected components runs the same number of rounds. */
  def documents(seed: Long, n: Int, vocab: Array[String]): Array[String] = {
    val r = rng(seed, 2)
    val docs = new Array[String](n)
    def nearDup(i: Int) = i >= 100 && i % 10 == 7
    var i = 0
    while (i < n) {
      docs(i) =
        if (nearDup(i)) {
          val src =
            if ((i - 107) / 10 % NearDupChain != 0) docs(i - 10)
            else {
              var j = r.nextInt(i)
              while (nearDup(j) || docs(j).count(_ == ' ') + 1 < 32 || docs(j).count(_ == ' ') + 1 > 50)
                j = r.nextInt(i)
              docs(j)
            }
          val w = src.split(" ")
          w(r.nextInt(w.length)) = vocab(zipf(r, vocab.length))
          w.mkString(" ")
        } else {
          val len = 20 + r.nextInt(40)
          Array.fill(len)(vocab(zipf(r, vocab.length))).mkString(" ")
        }
      i += 1
    }
    docs
  }

  /** A source QA sample ([[graft.pipeline.Schemas.qaSample]] shape). */
  final case class Qa(id: Long, question: String, reference: Seq[String],
                      sparse: Seq[String], dense: Seq[String], gold: Seq[String])

  /** Behaviour slots are assigned in blocks of [[Llm.Slots]] through a
    * seeded permutation, so every share of the decision mix is exact when
    * `n` is a multiple of [[Llm.Slots]], whatever the seed. */
  def qaSamples(seed: Long, n: Int, docs: Array[String], vocab: Array[String]): Array[Qa] = {
    val r = rng(seed, 3)
    val perm = (0 until Llm.Slots).toArray
    var k = perm.length - 1
    while (k > 0) {
      val j = r.nextInt(k + 1)
      val t = perm(k); perm(k) = perm(j); perm(j) = t
      k -= 1
    }
    Array.tabulate(n) { i =>
      val d = r.nextInt(docs.length)
      val toks = docs(d).split(" ")
      val j = r.nextInt(toks.length - 2)
      val phrase = s"${toks(j)} ${toks(j + 1)}"
      val answer = Llm.answerAfter(docs(d), phrase)
      val reference =
        if (r.nextInt(5) == 0) {
          var other = vocab(r.nextInt(vocab.length))
          while (other == answer) other = vocab(r.nextInt(vocab.length))
          Seq(s"$answer or $other")
        } else Seq(answer)
      val others = Seq.fill(4)(docs(r.nextInt(docs.length)))
      val dense = docs(d) +: others.take(2)
      Qa(i.toLong, s"[case ${perm(i % Llm.Slots)}] Which word follows '$phrase'?",
        reference, others.reverse :+ docs(d), dense, Seq(docs(d)))
    }
  }

  /** `n` embedding vectors of dimension `dim` around `clusters` seeded
    * centres (labels are the cluster ids). */
  def embeddings(seed: Long, n: Int, dim: Int, clusters: Int): Array[(Long, Array[Float], Int)] = {
    val r = rng(seed, 4)
    val centres = Array.fill(clusters, dim)(r.nextGaussian().toFloat)
    Array.tabulate(n) { i =>
      val c = r.nextInt(clusters)
      (i.toLong, Array.tabulate(dim)(j => centres(c)(j) + 0.6f * r.nextGaussian().toFloat), c)
    }
  }

  /** One CDC batch against the live corpus: `dels` distinct live ids to
    * delete and `ins` fresh ids (from `nextId` up) to insert. Ids are
    * always valid for the PostingsMaintenance contract. */
  def cdcBatch(r: SplittableRandom, live: scala.collection.Map[Long, String], nextId: Long,
               dels: Int, ins: Int, vocab: Array[String]): (Seq[Long], Seq[(Long, String)]) = {
    val ids = live.keys.toArray.sorted
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(dels, ids.length)) picked += ids(r.nextInt(ids.length))
    val inserts = (0 until ins).map { k =>
      val len = 20 + r.nextInt(40)
      (nextId + k, Array.fill(len)(vocab(zipf(r, vocab.length))).mkString(" "))
    }
    (picked.toSeq, inserts)
  }
}
