package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Generator self-check plus every workload at tiny size with tracing on:
  * every op kind and every correctness gate runs, in about a minute per
  * workload.
  */
object SelfCheck {
  private def digest(xs: Seq[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach(x => md.update((x.toString + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def near(x: Double, want: Double, tol: Double) = math.abs(x - want) <= tol

  def generatorGates(seed: Long): Seq[Gate] = {
    val out = Seq.newBuilder[Gate]
    def seeded(what: String)(gen: Long => Seq[Any]): Unit = {
      val a = digest(gen(seed))
      val b = digest(gen(seed))
      val c = digest(gen(seed + 1))
      out += Gate(s"$what: same seed gives the same bytes", a == b, a.take(16))
      out += Gate(s"$what: another seed gives other bytes", a != c, c.take(16))
    }
    seeded("references")(s => LinkGen.references(s, 2000))
    seeded("mentions")(s => LinkGen.mentions(s, LinkGen.references(s, 2000), 0, 2000))
    seeded("dedup corpus")(s => new DocGen.Source(s).corpus(new Rng(s), 2000, DedupOps.DupShare, 0L))
    seeded("serve queries") { s =>
      val src = new DocGen.Source(s)
      DocGen.queries(s, src, src.corpus(new Rng(s), 500, 0.0, 0L), 2000)
    }

    val refs = LinkGen.references(seed, 4000)
    val refById = refs.map(r => r.id -> r).toMap
    val names = refs.map(_.name).toSet
    val ms = LinkGen.mentions(seed, refs, 0, 4000)
    val noMatch = ms.count(_.trueRef < 0).toDouble / ms.size
    out += Gate(s"no-match share is ${LinkGen.NoMatchShare}", near(noMatch, LinkGen.NoMatchShare, 0.03),
      f"$noMatch%.4f")
    out += Gate("each planted match names a reference in the mention's block",
      ms.filter(_.trueRef >= 0).forall(m => refById.get(m.trueRef).exists(_.state == m.state)), "")
    out += Gate("no-match mentions name no reference",
      ms.filter(_.trueRef < 0).forall(m => !names.contains(m.name)), "")
    out += Gate("reference ids and names are unique",
      refs.map(_.id).distinct.size == refs.size && names.size == refs.size, "")

    val docs = new DocGen.Source(seed).corpus(new Rng(seed), 4000, DedupOps.DupShare, 0L)
    val sizes = docs.groupBy(_.group).values.map(_.size).toSeq
    val inClusters = sizes.filter(_ > 1).sum.toDouble / docs.size
    out += Gate(s"planted clusters hold ${DocGen.MinCluster}-${DocGen.MaxCluster} docs",
      sizes.forall(s => s == 1 || (s >= DocGen.MinCluster && s <= DocGen.MaxCluster)),
      sizes.filter(_ > 1).groupBy(identity).toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k:${v.size}" }.mkString(" "))
    out += Gate(s"duplicate share is ${DedupOps.DupShare}", near(inClusters, DedupOps.DupShare, 0.05),
      f"$inClusters%.4f")
    out += Gate("doc ids are unique", docs.map(_.id).distinct.size == docs.size, "")

    val src = new DocGen.Source(seed)
    val qs = DocGen.queries(seed, src, src.corpus(new Rng(seed), 500, 0.0, 0L), 4000)
    val keyword = qs.filter(_.family != "minhash")
    val longShare = keyword.count(_.long).toDouble / keyword.size
    out += Gate(s"long-query share is ${DocGen.LongShare}", near(longShare, DocGen.LongShare, 0.03),
      f"$longShare%.4f")
    out += Gate("short queries hold 3-8 tokens",
      keyword.filterNot(_.long).forall(q => (3 to 8).contains(q.text.split(" ").length)), "")
    val mix = Seq("bm25" -> 0.5, "ann" -> 0.3, "minhash" -> 0.2).map { case (f, want) =>
      (f, want, qs.count(_.family == f).toDouble / qs.size)
    }
    out += Gate("search family mix is 50/30/20", mix.forall { case (_, w, got) => near(got, w, 0.04) },
      mix.map { case (f, _, got) => f"$f=$got%.3f" }.mkString(" "))
    out.result()
  }

  def run(spark: SparkSession, seed: Long, work: Path): Boolean = {
    val gen = generatorGates(seed)
    gen.foreach(g => System.err.println(
      s"[perfbench] selfcheck ${if (g.ok) "PASS" else "FAIL"}: ${g.name} (${g.detail})"))
    val runs = Seq("batch" -> 3.0, "serve" -> 4.0).map {
      case (name, secs) =>
        val ok = Main.runOne(spark, name, seed, secs, trace = true, Sizes.tiny, work, 0.0)
        System.err.println(s"[perfbench] selfcheck ${if (ok) "PASS" else "FAIL"}: tiny $name")
        ok
    }
    gen.forall(_.ok) && runs.forall(identity)
  }
}
