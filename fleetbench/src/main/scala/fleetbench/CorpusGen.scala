package fleetbench

/** Seeded document corpus with planted near-duplicate families, in the
  * `documents` table schema (doc_id, text, lang, source, n_chars).
  *
  * A family is a base text plus 1-7 variants. Every variant re-cases or
  * punctuates about 10% of its tokens, which the engine's text
  * normalization erases, so a family's unedited members are identical
  * after normalization and must always land in one cluster. In families
  * of four or more, the third and later members also replace their final
  * token: a real content edit that changes one 3-word shingle, which
  * MinHash-LSH finds with high (not certain) probability. Unrelated
  * documents draw from a large vocabulary, so they share no shingles by
  * chance. */
object CorpusGen {

  /** `edited`: the member carries a content edit (see above). */
  final case class Doc(docId: Long, text: String, family: Int, edited: Boolean)

  final case class Corpus(docs: Vector[Doc]) {
    /** family id → member doc ids, for families of two or more. */
    lazy val families: Map[Int, Seq[Long]] =
      docs.filter(_.family >= 0).groupBy(_.family).map { case (f, ds) => f -> ds.map(_.docId) }
    lazy val familyOf: Map[Long, Int] = docs.map(d => d.docId -> d.family).toMap
  }

  private def word(seed: Long, w: Int): String = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val len = 3 + Mix.u(seed, w, 80, 6)
    (0 until len).map(k => letters(Mix.u(seed, w * 16L + k, 81, 26))).mkString
  }

  /** Share of documents in planted families. */
  private val FamilyShare = 0.2
  /** Vocabulary size unrelated documents draw from. */
  private val Vocab = 20000

  /** `n` documents, about [[FamilyShare]] of them in planted families. */
  def generate(seed: Long, n: Int): Corpus = {
    val words = (0 until Vocab).map(word(seed, _))
    def baseTokens(k: Int): Vector[String] = {
      val len = 60 + Mix.u(seed, k, 82, 61)
      (0 until len).map(t => words(Mix.u(seed, k * 256L + t, 83, Vocab))).toVector
    }
    def formatEdit(tokens: Vector[String], salt: Long): Vector[String] =
      tokens.zipWithIndex.map { case (t, x) =>
        if (Mix.u(seed, salt * 512 + x, 84, 10) != 0) t
        else Mix.u(seed, salt * 512 + x, 85, 3) match {
          case 0 => t.capitalize
          case 1 => t + ","
          case _ => "\"" + t.toUpperCase + "\""
        }
      }

    val slots = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Boolean)]
    var k = 0
    var fam = 0
    val familyDocs = (n * FamilyShare).toInt
    var inFamilies = 0
    while (slots.length < n) {
      val base = baseTokens(k)
      val size = 2 + Mix.u(seed, k, 86, 7)
      if (inFamilies + size <= familyDocs && slots.length + size <= n) {
        slots += ((base.mkString(" "), fam, false))
        (1 until size).foreach { m =>
          val variant = formatEdit(base, k * 8L + m)
          val content = m >= 2 && size >= 4
          val text =
            if (content) variant.updated(variant.length - 1, words(Mix.u(seed, k * 8L + m, 87, Vocab)) + "q")
            else variant
          slots += ((text.mkString(" "), fam, content))
        }
        inFamilies += size
        fam += 1
      } else slots += ((base.mkString(" "), -1, false))
      k += 1
    }
    // seeded permutation spreads family members over the id space
    val order = slots.indices.sortBy(x => Mix.h(seed, x, 88))
    Corpus(order.zipWithIndex.map { case (slot, id) =>
      val (text, family, edited) = slots(slot)
      Doc(id.toLong, text, family, edited)
    }.toVector.sortBy(_.docId))
  }
}
