package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/**
 * The dup-heavy crawl behind the `chain` workload, a pure function of the
 * seed. Every duplicate is planted, so the expected result of each stage is
 * known by construction:
 *
 *  - unique pages on zipf-skewed hosts (exact s = 1.3 quotas over 24
 *    hosts): the head hosts exceed the host cap, so the cap drops rows;
 *  - exact mirrors: a unique page's bytes again under another host;
 *  - url variants: a unique page's bytes under a url that canonicalizes to
 *    the page's own url (case, default port, tracking params, fragment);
 *  - near-duplicate clusters on light hosts: stars (a base and variants one
 *    or two word substitutions away) and chains (each member one
 *    substitution from the previous one, so the ends are not near-dups of
 *    each other and only connected components joins them).
 *
 * Each page's main content is one paragraph of 300-399 words, so the
 * extracted text is a single line and line-level dedup leaves it whole.
 */
object ChainGen {

  final case class Doc(id: Long, url: String, host: String, html: Array[Byte], text: String,
                       kind: String, cluster: Int)

  final case class Crawl(docs: IndexedSeq[Doc], hosts: IndexedSeq[String],
                         frontier: Set[String], capK: Int)

  val NumHosts = 24
  val Unique = 2400
  val Stars = 40
  val StarSize = 4
  val Chains = 8
  val ChainLen = 16
  val Mirrors = 200
  val Variants = 200
  val CapK = 100
  /** hosts of this zipf rank and below carry the planted near-duplicates */
  val LightFrom = 9

  private final class Rng(seed: Long, stream: Long) {
    private var n = 0L
    private def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextLong(): Long = { n += 1; mix(mix(seed ^ mix(stream)) + n) }
    def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  /** 2048 pronounceable lowercase words, fixed across seeds. */
  private val Vocab: Array[String] = {
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "tr")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
    val co = Array("n", "r", "s", "l", "m", "x", "th", "nd", "rk", "st", "lt", "mp", "ck", "sh", "ng", "rd")
    (0 until 2048).map { i =>
      on(i & 15) + nu((i >> 4) & 7) + co((i >> 7) & 15) + (if ((i & 1) == 0) "a" else "o")
    }.toArray
  }

  private def words(r: Rng): Array[String] =
    Array.fill(300 + r.nextInt(100))(Vocab(r.nextInt(Vocab.length)))

  /** `base` with one word replaced at each position in `at`. */
  private def substitute(base: Array[String], at: Seq[Int], r: Rng): Array[String] = {
    val w = base.clone()
    at.foreach { p =>
      var x = Vocab(r.nextInt(Vocab.length))
      while (x == w(p)) x = Vocab(r.nextInt(Vocab.length))
      w(p) = x
    }
    w
  }

  private def page(text: String, navLinks: Seq[String], r: Rng): Array[Byte] = {
    val sb = new StringBuilder(text.length + 1024)
    sb.append("<!DOCTYPE html>\n<html>\n<head>\n<title>crawl page</title>\n")
    sb.append("<style>body { color: #000; }</style>\n</head>\n<body>\n<nav><ul>")
    navLinks.foreach(h => sb.append(s"""<li><a href="$h">${Vocab(r.nextInt(Vocab.length))}</a></li>"""))
    sb.append("</ul></nav>\n")
    sb.append(s"<header><h1>${Vocab(r.nextInt(Vocab.length))} news</h1></header>\n")
    sb.append("<article>\n<p>").append(text).append("</p>\n</article>\n")
    sb.append("<footer><p>copyright 2024 all rights reserved by the site owner</p></footer>\n")
    sb.append("</body>\n</html>\n")
    sb.toString.getBytes(UTF_8)
  }

  /** The canonical form of the url shapes this generator writes: lowercase
    * scheme and host, no default https port, no fragment, no utm_* params. */
  def canonical(url: String): String = {
    val noFrag = url.takeWhile(_ != '#')
    val (head, query) = noFrag.span(_ != '?')
    val schemeEnd = head.indexOf("://") + 3
    val pathAt = head.indexOf('/', schemeEnd) match { case -1 => head.length case i => i }
    val host = head.substring(schemeEnd, pathAt).toLowerCase.stripSuffix(":443")
    val path = if (pathAt == head.length) "/" else head.substring(pathAt)
    val params = query.drop(1).split('&').filter(p => p.nonEmpty && !p.startsWith("utm_")).sorted
    head.substring(0, schemeEnd).toLowerCase + host + path +
      (if (params.isEmpty) "" else params.mkString("?", "&", ""))
  }

  private def variantOf(url: String, host: String, k: Int): String = k % 4 match {
    case 0 => url.replace(host, host.toUpperCase + ":443")
    case 1 => url + "?utm_source=feed&utm_medium=rss"
    case 2 => url + "#comments"
    case _ => url.replace(host, host.toUpperCase) + "?utm_campaign=spring"
  }

  def build(seed: Long): Crawl = {
    val hosts = (0 until NumHosts).map(k => s"site$k.example.org")
    // exact zipf quotas per host, dealt to the unique pages in a seeded
    // order: every seed has the same host skew, so the cap drops the same
    // number of rows and the funnel counts do not vary with the seed
    val hostOf: Array[Int] = {
      val w = (1 to NumHosts).map(r => 1.0 / math.pow(r, 1.3))
      val quota = w.map(x => math.floor(Unique * x / w.sum).toInt).toArray
      quota(0) += Unique - quota.sum
      val slots = quota.zipWithIndex.flatMap { case (q, h) => Array.fill(q)(h) }
      val order = new Rng(seed, -1)
      slots.map(h => (order.nextLong(), h)).sortBy(_._1).map(_._2)
    }
    val lightRng = new Rng(seed, -2)
    def lightHost(): Int = LightFrom - 1 + lightRng.nextInt(NumHosts - LightFrom + 1)

    // (host index, text) per original page, in id order
    val originals = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[String], String, Int)]
    (0 until Unique).foreach { i => originals += ((hostOf(i), words(new Rng(seed, i)), "unique", -1)) }
    (0 until Stars).foreach { c =>
      val r = new Rng(seed, 100000 + c)
      val base = words(r)
      originals += ((lightHost(), base, "star", c))
      (1 until StarSize).foreach { v =>
        val at = Seq.fill(1 + r.nextInt(2))(3 + r.nextInt(base.length - 6)).distinct
        originals += ((lightHost(), substitute(base, at, r), "star", c))
      }
    }
    (0 until Chains).foreach { c =>
      val r = new Rng(seed, 200000 + c)
      var cur = words(r)
      val step = cur.length / (ChainLen + 1)
      originals += ((lightHost(), cur, "chain", Stars + c))
      (1 until ChainLen).foreach { k =>
        cur = substitute(cur, Seq(k * step), r)
        originals += ((lightHost(), cur, "chain", Stars + c))
      }
    }

    val linkRng = new Rng(seed, -3)
    def urlOf(id: Int, h: Int) = s"https://${hosts(h)}/doc/$id"
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val frontier = scala.collection.mutable.HashSet.empty[String]
    def navFor(host: String): Seq[String] = {
      val out = Seq.fill(2) {
        val t = linkRng.nextInt(Unique)
        val turl = urlOf(t, originals(t)._1)
        if (linkRng.nextInt(3) == 0) variantOf(turl, hosts(originals(t)._1), linkRng.nextInt(4)) else turl
      } :+ s"https://${hosts(linkRng.nextInt(NumHosts))}/new/${linkRng.nextInt(500)}"
      (Seq("/", "/about", "/contact").map(p => s"https://$host$p") ++ out).foreach(u => frontier += canonical(u))
      Seq("/", "/about", "/contact") ++ out
    }
    val pageRng = new Rng(seed, -4)
    originals.zipWithIndex.foreach { case ((h, ws, kind, cluster), id) =>
      val text = ws.mkString(" ")
      docs += Doc(id, urlOf(id, h), hosts(h), page(text, navFor(hosts(h)), pageRng), text, kind, cluster)
    }
    val pickRng = new Rng(seed, -5)
    val picked = pickRng.nextLong()
    val order = (0 until Unique).sortBy(i => new Rng(picked, i).nextLong())
    order.take(Mirrors).foreach { src =>
      val id = docs.length
      val h = hosts(lightHost())
      docs += Doc(id, s"https://$h/mirror/$id", h, docs(src).html, docs(src).text, "mirror", -1)
      Seq("/", "/about", "/contact").foreach(p => frontier += s"https://$h$p")
    }
    order.slice(Mirrors, Mirrors + Variants).zipWithIndex.foreach { case (src, k) =>
      val s = docs(src)
      docs += Doc(docs.length, variantOf(s.url, s.host, k), s.host, s.html, s.text, "variant", -1)
    }
    val crawl = Crawl(docs.toIndexedSeq, hosts, frontier.toSet, CapK)
    // the planted clusters must survive the host cap whole, or the cluster
    // truth below would not hold
    val (_, capped) = curationTruth(crawl)
    val lost = crawl.docs.filter(d => d.cluster >= 0 && !capped(d.id))
    require(lost.isEmpty, s"generator invariant: ${lost.length} near-dup members fall to the host cap")
    crawl
  }

  /** Curation funnel and survivor ids implied by the planted structure:
    * url dedup (min id per canonical url), exact dedup (min id per text
    * among url survivors), no quality gate, then the host cap (the K
    * smallest ids of every host above K). */
  def curationTruth(c: Crawl): (Array[Long], Set[Long]) = {
    val urlKeep = c.docs.groupBy(d => canonical(d.url)).values.map(_.minBy(_.id)).toSeq
    val exactKeep = urlKeep.groupBy(_.text).values.map(_.minBy(_.id)).toSeq
    val capped = exactKeep.groupBy(_.host).values.flatMap(ds => ds.sortBy(_.id).take(c.capK)).toSeq
    val n = c.docs.length.toLong
    (Array(n, urlKeep.length.toLong, exactKeep.length.toLong, exactKeep.length.toLong,
      capped.length.toLong, capped.length.toLong), capped.map(_.id).toSet)
  }

  /** Survivors of cluster dedup: every planted cluster keeps its min id. */
  def dedupTruth(c: Crawl, curated: Set[Long]): Set[Long] = {
    val losers = c.docs.filter(d => d.cluster >= 0 && curated(d.id)).groupBy(_.cluster).values
      .flatMap(ms => ms.sortBy(_.id).drop(1).map(_.id)).toSet
    curated -- losers
  }
}
