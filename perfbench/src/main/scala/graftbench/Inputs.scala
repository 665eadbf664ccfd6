package graftbench

import graft.model.{Doc, Triplet}

import java.util.SplittableRandom

/** Everything a workload feeds the engine, made from the seed alone. */
object Inputs {

  /** Seeded Fisher-Yates permutation of 0 until n. */
  def permutation(n: Int, seed: Long): IndexedSeq[Int] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1L)
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  sealed trait WriteOp { def id: String }
  final case class Graft(doc: Doc) extends WriteOp { def id: String = doc.id }
  final case class Update(id: String, text: String) extends WriteOp
  final case class Delete(id: String) extends WriteOp

  /** The rag-mixed inputs: a multi-hop chain corpus, its NER map, the question
    * pool, one Zipf-skewed question stream per reader, and the writer's
    * schedule (the k-th write is due k × `writeEveryMs` after the load starts). */
  final case class Mixed(docs: IndexedSeq[Doc], ner: Map[String, Seq[String]],
      questions: IndexedSeq[String], readerStreams: IndexedSeq[IndexedSeq[Int]],
      writes: IndexedSeq[WriteOp], writeEveryMs: Long) {

    /** Canonical bytes of every input; equal seeds must give equal bytes. */
    def fingerprint: String = {
      val b = new StringBuilder
      docs.foreach { d =>
        b ++= d.id += '\u0001' ++= d.text
        d.triplets.foreach(t => b += '\u0002' ++= t.subject += '|' ++= t.predicate += '|' ++= t.obj)
        b += '\n'
      }
      ner.toSeq.sortBy(_._1).foreach { case (q, es) => b ++= q += '\u0001' ++= es.mkString("|") += '\n' }
      questions.foreach(q => b ++= q += '\n')
      readerStreams.foreach(s => b ++= s.mkString(",") += '\n')
      writes.foreach {
        case Graft(d) => b ++= "G " ++= d.id += ' ' ++= d.text += '\n'
        case Update(id, t) => b ++= "U " ++= id += ' ' ++= t += '\n'
        case Delete(id) => b ++= "D " ++= id += '\n'
      }
      b ++= writeEveryMs.toString
      Stats.sha256(b.toString)
    }
  }

  private val syllables = Vector("ka", "lo", "mir", "ven", "tor", "qua", "zel", "dru",
    "phi", "sar", "nek", "ul", "bro", "tai", "gem", "rix", "od", "fen", "shu", "yal")

  /** An invented word no other generated word shares: random syllables make
    * it seed-dependent, the base-36 suffix makes it unique. */
  private def word(rnd: SplittableRandom, prefix: String, i: Int): String = {
    val s = (0 until 2).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    prefix + s + Integer.toString(i, 36)
  }

  /** `chains` chains of 2 or 3 hops, `distractors` single passages and
    * `writerBase` passages owned by the writer:
    *   A: "<finder> unearthed the relic <relic> near <town>."
    *   B: "The recovered artifact now rests inside <vault>."  (relic only in the triple)
    *   C: "<vault> is watched by the warden <warden>."       (3-hop chains)
    * Questions ask for the vault, the finder or the warden of one relic. */
  def mixed(seed: Long, chains: Int, distractors: Int, readers: Int, readsPerReader: Int,
      writerBase: Int, writes: Int, writeEveryMs: Long, zipfS: Double = 1.1): Mixed = {
    val rnd = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 7L)
    val docs = IndexedSeq.newBuilder[Doc]
    val questions = IndexedSeq.newBuilder[String]
    val ner = Map.newBuilder[String, Seq[String]]
    for (c <- 0 until chains) {
      val finder = word(rnd, "f", c); val relic = word(rnd, "r", c)
      val town = word(rnd, "t", c); val vault = word(rnd, "v", c)
      val relicName = s"relic $relic"
      docs += Doc(s"A$c", s"$finder unearthed the relic $relic near $town.",
        Seq(Triplet(finder, "unearthed", relicName), Triplet(relicName, "found near", town)))
      docs += Doc(s"B$c", s"The recovered artifact now rests inside $vault.",
        Seq(Triplet(relicName, "sealed within", vault)))
      val qVault = s"In which vault is the relic $relic kept?"
      val qFinder = s"Who unearthed the relic $relic?"
      questions += qVault += qFinder
      ner += qVault -> Seq(relicName) += qFinder -> Seq(relicName)
      if (c % 2 == 1) {
        val warden = word(rnd, "w", c)
        docs += Doc(s"C$c", s"$vault is watched by the warden $warden.",
          Seq(Triplet(vault, "watched by", s"warden $warden")))
        val qWarden = s"Which warden watches the vault that holds the relic $relic?"
        questions += qWarden
        ner += qWarden -> Seq(relicName)
      }
    }
    for (d <- 0 until distractors) {
      val a = word(rnd, "m", d); val b = word(rnd, "g", d); val p = word(rnd, "p", d)
      docs += Doc(s"D$d", s"The merchant $a traded $b goods at the $p market.",
        Seq(Triplet(s"merchant $a", "traded", s"$b goods"), Triplet(s"$b goods", "sold at", s"$p market")))
    }
    val qs = questions.result()

    // Zipf popularity over a seeded ranking of the question pool.
    val ranking = permutation(qs.size, seed ^ 0x5DEECE66DL)
    val weights = (1 to qs.size).map(r => 1.0 / math.pow(r, zipfS))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = cdf.indexWhere(_ >= u)
      ranking(if (i < 0) qs.size - 1 else i)
    }
    val streams = (0 until readers).map { k =>
      val r = new SplittableRandom(seed * 31 + k + 1000)
      (0 until readsPerReader).map(_ => draw(r))
    }

    // The writer works only on its own ids ("W<k>") with fresh entities, so the
    // expected end state follows from the log of acknowledged writes. The
    // first `writerBase` of them are part of the indexed corpus, so the first
    // write of a window may be any of the three kinds.
    def scroll(k: Int): Doc = {
      val e1 = word(rnd, "x", k); val e2 = word(rnd, "y", k)
      Doc(s"W$k", s"The archivist $e1 catalogued the scroll $e2.",
        Seq(Triplet(s"archivist $e1", "catalogued", s"scroll $e2")))
    }
    val live = scala.collection.mutable.ArrayBuffer.empty[String]
    for (k <- 0 until writerBase) { docs += scroll(k); live += s"W$k" }
    val ops = IndexedSeq.newBuilder[WriteOp]
    var next = writerBase
    for (k <- 0 until writes) {
      val roll = rnd.nextInt(4)
      if (live.size < 2 || roll < 2) {
        ops += Graft(scroll(next))
        live += s"W$next"
        next += 1
      } else if (roll == 2) {
        val id = live(rnd.nextInt(live.size))
        ops += Update(id, s"The scroll record $id was revised in pass $k with note ${word(rnd, "n", k)}.")
      } else {
        val id = live.remove(rnd.nextInt(live.size))
        ops += Delete(id)
      }
    }
    Mixed(docs.result(), ner.result(), qs, streams, ops.result(), writeEveryMs)
  }
}
