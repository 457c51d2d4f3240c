package graft.perfbench

import graft.model.{CorpusDoc, RobotsRule, Span}

/**
 * Seeded generators for the benchmark's inputs. The program under test
 * only ever sees what these return.
 */
object Inputs {

  /** SplitMix64 finalizer: a well-mixed, seedable, stateless hash. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /**
   * A tree web: page `id` links to its `fanout` children
   * `id * fanout + j` (j = 1..fanout), to its parent and to one earlier
   * page, so the seen-set dedup drops real duplicates. Pages of the first
   * `depth` levels exist in the corpus; links below them dangle (seen,
   * never fetched). A page's host comes from a seeded hash of its id:
   * `hotPct` percent land on host0, the rest spread over `hosts - 1`
   * hosts.
   */
  final case class TreeWeb(fanout: Int, depth: Int, hosts: Int, hotPct: Int,
                           seed: Long) {
    val pages: Long = (0 until depth).map(d => math.pow(fanout, d).toLong).sum

    def host(id: Long): Int = {
      val h = math.floorMod(mix(seed * 0x632BE59BD9B4E019L ^ id), 1L << 40)
      if (h % 100 < hotPct) 0 else 1 + ((h / 100) % (hosts - 1)).toInt
    }
    def url(id: Long): String = s"http://host${host(id)}.test/p$id.html"
    def seedUrl: String = url(0)

    def docs: Seq[CorpusDoc] = (0L until pages).map { id =>
      val children = (1 to fanout).map(j => id * fanout + j)
      val back =
        if (id == 0) Nil
        else Seq((id - 1) / fanout, math.floorMod(mix(seed ^ ~id), id))
      val spans = (children ++ back).zipWithIndex.map { case (t, i) =>
        Span("link", url(t), "", i * 10)
      }
      CorpusDoc(url(id), spans)
    }

    /** Deny rules on `n` seeded non-hot hosts: `/p1` is disallowed and its
      * longer `/p12` sub-prefix allowed again (longest match wins). */
    def robots(n: Int): Seq[RobotsRule] = {
      val rnd = new scala.util.Random(seed)
      rnd.shuffle((1 until hosts).toList).take(n).flatMap { h =>
        Seq(RobotsRule(s"host$h.test", "/p1", allow = false),
          RobotsRule(s"host$h.test", "/p12", allow = true))
      }
    }
  }

  /** One generated document row (the `documents` table schema). */
  final case class Doc(doc_id: Long, text: String, lang: String,
                       source: String, n_chars: Long)

  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")

  /** SHA-256 of the documents' canonical text: identifies the input a
    * stored reference result was computed from. */
  def docsDigest(docs: Seq[Doc]): String = Reference.sha256(docs.map(d =>
    s"${d.doc_id}\t${d.text}\t${d.lang}\t${d.source}\t${d.n_chars}\n").mkString)

  /**
   * A `documents` table in the shape of the sf0.1 test set: texts of 10
   * to 100 words drawn from a 30-word vocabulary, 20 sources, five
   * languages, 5% near-duplicates (an earlier text plus " dup") and a few
   * exact duplicates. Deterministic in `seed`.
   */
  def documents(n: Int, seed: Long): Seq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val r = rnd.nextInt(1000)
      val text =
        if (i > 0 && r < 50) texts(rnd.nextInt(i)) + " dup"
        else if (i > 0 && r < 52) texts(rnd.nextInt(i))
        else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size)))
          .mkString(" ")
      texts(i) = text
      Doc(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
  }
}
