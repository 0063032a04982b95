package perfbench

/** splitmix64 stream: the one source of randomness for every generated
  * input, so a seed fixes the inputs byte for byte on any JVM.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
  /** An independent stream for one named part of the inputs. */
  def fork(tag: Long): Rng = new Rng(nextLong() ^ (tag * 0x632be59bd9b4e019L))
}

/** Pronounceable synthetic words (no dictionary ships with the benchmark). */
object Words {
  private val C = "bcdfghjklmnprstvz"
  private val V = "aeiou"
  def word(r: Rng): String = {
    val sb = new StringBuilder
    val syl = r.between(2, 3)
    var i = 0
    while (i < syl) { sb += C(r.nextInt(C.length)); sb += V(r.nextInt(V.length)); i += 1 }
    if (r.nextDouble() < 0.4) sb += C(r.nextInt(C.length))
    sb.toString
  }
  def vocab(r: Rng, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += word(r)
    seen.toArray
  }
}

/** Organisation reference table plus noisy mentions with planted truth. */
object LinkGen {
  final case class Ref(id: Long, name: String, state: String)
  /** `trueRef` is -1 for a mention that has no match in the reference. */
  final case class Mention(id: Long, name: String, state: String, trueRef: Long)

  val States: Array[String] = ("AL AK AZ AR CA CO CT DE FL GA HI ID IL IN IA KS KY LA ME MD " +
    "MA MI MN MS MO MT NE NV NH NJ NM NY NC ND OH OK OR PA RI SC SD TN TX UT VT VA WA WV " +
    "WI WY").split(" ")
  val Suffix: Array[String] = Array("Incorporated", "Corporation", "Company", "Group",
    "Holdings", "International", "Associates", "Partners", "Industries", "Systems",
    "Services", "Technologies", "Manufacturing", "Foundation")
  val Abbrev: Map[String, String] = Map("Incorporated" -> "Inc", "Corporation" -> "Corp",
    "Company" -> "Co", "Group" -> "Grp", "Holdings" -> "Hldgs", "International" -> "Intl",
    "Associates" -> "Assoc", "Partners" -> "Ptnrs", "Industries" -> "Ind",
    "Systems" -> "Sys", "Services" -> "Svcs", "Technologies" -> "Tech",
    "Manufacturing" -> "Mfg", "Foundation" -> "Fdn")
  /** Declared share of mentions with no true match. */
  val NoMatchShare = 0.2

  private def cap(w: String) = w.capitalize

  private def orgName(r: Rng, vocab: Array[String]): String = {
    val core = Array.fill(r.between(2, 3))(cap(vocab(r.nextInt(vocab.length))))
    (core :+ Suffix(r.nextInt(Suffix.length))).mkString(" ")
  }

  def references(seed: Long, n: Int): IndexedSeq[Ref] = {
    val r = new Rng(seed).fork(1)
    val vocab = Words.vocab(r, 4 * n + 100)
    val names = scala.collection.mutable.LinkedHashSet.empty[String]
    while (names.size < n) names += orgName(r, vocab)
    names.toIndexedSeq.zipWithIndex.map { case (nm, i) =>
      Ref(i.toLong, nm, States(r.nextInt(States.length)))
    }
  }

  private def typo(r: Rng, w: String): String = {
    if (w.length < 4) return w + "x"
    val i = r.between(1, w.length - 2)
    r.nextInt(4) match {
      case 0 => w.substring(0, i) + w.substring(i + 1)                          // drop
      case 1 => w.substring(0, i) + w(i + 1) + w(i) + w.substring(i + 2)        // transpose
      case 2 => w.substring(0, i) + "aeiou"(r.nextInt(5)) + w.substring(i + 1)  // substitute
      case _ => w.substring(0, i) + w(i) + w.substring(i)                       // double
    }
  }

  /** One or two noise operations: typo, dropped token, swapped tokens,
    * abbreviated suffix.
    */
  private def noisy(r: Rng, name: String): String = {
    var toks = name.split(" ").toVector
    val nOps = r.between(1, 2)
    var k = 0
    while (k < nOps) {
      r.nextInt(4) match {
        case 0 =>
          val i = r.nextInt(math.max(1, toks.length - 1))
          toks = toks.updated(i, typo(r, toks(i)))
        case 1 if toks.length >= 3 =>
          val i = r.nextInt(toks.length - 1)
          toks = toks.patch(i, Nil, 1)
        case 2 if toks.length >= 2 =>
          val i = r.nextInt(toks.length - 1)
          toks = toks.updated(i, toks(i + 1)).updated(i + 1, toks(i))
        case _ =>
          toks = toks.map(t => Abbrev.getOrElse(t, t))
      }
      k += 1
    }
    toks.mkString(" ")
  }

  /** Mention batch `batch` of `n` rows against `refs`. */
  def mentions(seed: Long, refs: IndexedSeq[Ref], batch: Int, n: Int): IndexedSeq[Mention] = {
    val r = new Rng(seed).fork(1000L + batch)
    val vocab = Words.vocab(r.fork(7), 2000)
    val names = refs.iterator.map(_.name).toSet
    (0 until n).map { i =>
      val id = batch.toLong * 1000000L + i
      if (r.nextDouble() < NoMatchShare) {
        var nm = orgName(r, vocab)
        while (names.contains(nm)) nm = orgName(r, vocab)
        Mention(id, nm, States(r.nextInt(States.length)), -1L)
      } else {
        val ref = refs(r.nextInt(refs.length))
        Mention(id, noisy(r, ref.name), ref.state, ref.id)
      }
    }
  }
}

/** Zipf-vocabulary documents, optionally with planted near-duplicate
  * clusters of size 2-6.
  */
object DocGen {
  /** `group` names the planted cluster; a singleton is its own group. */
  final case class Doc(id: Long, text: String, group: Long)

  val MinCluster = 2
  val MaxCluster = 6

  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def sample(r: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Exponent 0.8, not 1.0: the engine's token-hash embedders weight terms
    * by raw count, and at 1.0 unrelated documents already sit near cosine
    * 0.4, so the default 0.55 clustering threshold chains a whole corpus
    * into one cluster and no planted truth can be scored.
    */
  final class Source(seed: Long, vocabSize: Int = 20000, exponent: Double = 0.8) {
    val vocab: Array[String] = Words.vocab(new Rng(seed).fork(2), vocabSize)
    private val zipf = new Zipf(vocabSize, exponent)
    def tokens(r: Rng, n: Int): Array[String] = Array.fill(n)(vocab(zipf.sample(r)))
    def text(r: Rng): String = tokens(r, r.between(30, 50)).mkString(" ")

    /** A near-duplicate: two or three single-token edits. */
    def variant(r: Rng, text: String): String = {
      var t = text.split(" ").toVector
      val edits = r.between(2, 3)
      var k = 0
      while (k < edits) {
        val i = r.nextInt(t.length)
        r.nextInt(3) match {
          case 0 => t = t.updated(i, vocab(zipf.sample(r)))
          case 1 => if (t.length > 10) t = t.patch(i, Nil, 1)
          case _ => t = t.patch(i, Seq(vocab(zipf.sample(r))), 0)
        }
        k += 1
      }
      t.mkString(" ")
    }

    /** `n` docs with ids from `idBase`; about `dupShare` of them sit in
      * planted clusters.
      */
    def corpus(r: Rng, n: Int, dupShare: Double, idBase: Long): IndexedSeq[Doc] = {
      val out = IndexedSeq.newBuilder[Doc]
      var i = 0
      while (i < n) {
        val id = idBase + i
        val base = text(r)
        // clusters average 4 docs: start one with the probability that
        // puts `dupShare` of all docs inside clusters
        if (r.nextDouble() < dupShare / (4 - 3 * dupShare) && n - i >= MaxCluster) {
          val size = r.between(MinCluster, MaxCluster)
          out += Doc(id, base, id)
          var j = 1
          while (j < size) { out += Doc(id + j, variant(r, base), id); j += 1 }
          i += size
        } else { out += Doc(id, base, id); i += 1 }
      }
      // shuffle so cluster members are not adjacent in the input
      val docs = out.result().toArray
      var k = docs.length - 1
      while (k > 0) {
        val m = r.nextInt(k + 1); val tmp = docs(k); docs(k) = docs(m); docs(m) = tmp; k -= 1
      }
      docs.toIndexedSeq
    }
  }

  /** Serving queries: short keyword queries (3-8 consecutive tokens of a
    * corpus doc) and, with share `longShare`, whole-document "more like
    * this" queries.
    */
  final case class Query(id: Long, family: String, text: String, long: Boolean)
  val LongShare = 0.1

  def queries(seed: Long, src: Source, corpus: IndexedSeq[Doc], n: Int): IndexedSeq[Query] = {
    val r = new Rng(seed).fork(3)
    (0 until n).map { i =>
      // family mix: bm25 50%, ann 30%, minhash 20%
      val u = r.nextDouble()
      val fam = if (u < 0.5) "bm25" else if (u < 0.8) "ann" else "minhash"
      val doc = corpus(r.nextInt(corpus.length)).text
      if (fam == "minhash") Query(i, fam, src.variant(r, doc), long = true)
      else if (r.nextDouble() < LongShare) Query(i, fam, doc, long = true)
      else {
        val toks = doc.split(" ")
        val len = r.between(3, 8)
        val at = r.nextInt(toks.length - len + 1)
        Query(i, fam, toks.slice(at, at + len).mkString(" "), long = false)
      }
    }
  }
}
