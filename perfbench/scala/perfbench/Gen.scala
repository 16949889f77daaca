package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream
import scala.collection.mutable

/** Seeded input generators for the three workloads. Every generator is a
  * pure function of its seed: the same seed writes byte-identical files
  * and returns the same ground truth. Nothing here calls the program. */
object Gen {

  /** An independent random stream per (seed, stream): the seed is mixed
    * through the SplitMix64 finalizer, so nearby seeds do not give
    * shifted copies of one sequence. */
  def rng(seed: Long, stream: Int): SplittableRandom = {
    var z = seed * 1000003L + stream
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"

  /** `n` distinct lowercase pseudo-words of `syllables` consonant-vowel
    * syllables (a third end in a consonant). With `distinctPrefix` their
    * first four letters differ too, so each is its own block key. */
  def words(n: Int, seed: Long, syllables: Int = 3,
      distinctPrefix: Boolean = false): Array[String] = {
    val r = rng(seed, 0)
    val seen = mutable.LinkedHashSet.empty[String]
    val prefixes = mutable.HashSet.empty[String]
    def letter(s: String) = s(r.nextInt(s.length))
    while (seen.size < n) {
      val w = (0 until syllables).map { _ =>
        s"${letter(Consonants)}${letter(Vowels)}" +
          (if (r.nextInt(3) == 0) letter(Consonants).toString else "")
      }.mkString
      if (!seen.contains(w) && !Stopwords.contains(w.toUpperCase) &&
          (!distinctPrefix || !prefixes.contains(w.take(4)))) {
        seen += w
        prefixes += w.take(4)
      }
    }
    seen.toArray
  }

  def cap(w: String): String = w.head.toUpper + w.tail

  // ───────────────────────────── ABN checksum ─────────────────────────────

  private val AbnWeights = Array(10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19)

  /** The ABN checksum: first digit minus one, weighted sum divisible by 89. */
  def abnValid(abn: String): Boolean = {
    val d = abn.filter(_.isDigit)
    d.length == 11 && d.indices.map { i =>
      val x = d(i) - '0'
      (if (i == 0) x - 1 else x) * AbnWeights(i)
    }.sum % 89 == 0
  }

  /** A checksum-valid ABN: random 9-digit tail, first two digits solved. */
  def validAbn(r: SplittableRandom): String = {
    while (true) {
      val tail = f"${r.nextInt(1000000000)}%09d"
      val hits = (10 to 99).map(p => s"$p$tail").filter(abnValid)
      if (hits.nonEmpty) return hits(r.nextInt(hits.size))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Same ABN with its last digit bumped: the weight 19 is not a multiple
    * of 89, so the checksum always breaks. */
  def breakAbn(abn: String): String =
    abn.init + ((abn.last - '0' + 1) % 10).toString

  // ──────────────────────────── etl_pipeline ─────────────────────────────

  /** Name words dropped by the program's name normalization. */
  val Stopwords = Set("PTY", "LTD", "LIMITED", "PROPRIETARY", "AUSTRALIAN",
    "AUSTRALIA", "HOLDINGS", "GROUP", "SERVICES", "CORPORATION", "CORP",
    "INC", "CO", "THE", "AND", "OF")

  /** Upper-case, punctuation to space, stopwords dropped — the normal form
    * the pipeline blocks and dedups on, for the letters-and-spaces names
    * generated here. */
  def normalize(name: String): String =
    name.toUpperCase.replaceAll("[^\\w\\s]", " ").split("\\s+")
      .filter(w => w.nonEmpty && !Stopwords.contains(w)).mkString(" ")

  case class AbrEntity(abn: String, name: String, core: Seq[String],
      valid: Boolean, parsed: Boolean, active: Boolean)

  /** Ground truth of one etl_pipeline input set. */
  case class EtlTruth(
      abr: IndexedSeq[AbrEntity],
      webAu: Int,
      /** crawl_url → planted ABN, over `.au` pages only. */
      planted: Map[String, String],
      inputBytes: Long) {
    def abrParsed: Int = abr.count(_.parsed)
    def abrCleanExpected: Int = abr.count(a => a.parsed && a.valid)
  }

  case class EtlSize(abr: Int, web: Int, abrFiles: Int, wetFiles: Int)

  /** The measured input: as large as the run budget allows, so that
    * parsing, matching and loading take a good share of a pass beside the
    * per-job floor. */
  val EtlMeasured = EtlSize(abr = 6000, web = 1200, abrFiles = 3, wetFiles = 2)
  /** The warm-up input: every code path of a pass, often enough for the
    * JIT to compile the per-record and per-pair code, at a fraction of the
    * cost. */
  val EtlWarmup = EtlSize(abr = 2000, web = 400, abrFiles = 3, wetFiles = 2)

  private val Suffixes = Array("PTY LTD", "PTY. LTD.", "LIMITED",
    "HOLDINGS PTY LTD", "GROUP PTY LTD", "SERVICES PTY LTD", "")
  private val States = Array("NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT")
  private val Industries = Array("Construction", "Retail", "Mining",
    "Technology", "Healthcare", "Hospitality", "Agriculture", "Transport")
  private val EntityTypes = Array("PRV" -> "Australian Private Company",
    "PUB" -> "Australian Public Company", "TRT" -> "Discretionary Trust",
    "IND" -> "Individual/Sole Trader")

  private def date(r: SplittableRandom): String = {
    val y = 1990 + r.nextInt(34); val m = 1 + r.nextInt(12); val d = 1 + r.nextInt(28)
    r.nextInt(20) match {
      case 0 => "unknown"
      case k => (k % 5) match {
        case 0 => f"$y%04d$m%02d$d%02d"
        case 1 => f"$y%04d-$m%02d-$d%02d"
        case 2 => f"$d%02d/$m%02d/$y%04d"
        case 3 => f"$y%04d/$m%02d/$d%02d"
        case _ => f"$d%02d-$m%02d-$y%04d"
      }
    }
  }

  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def abrRecordXml(a: AbrEntity, individual: Boolean, legal: Boolean,
      r: SplittableRandom): String = {
    val status = if (a.active) "Active" else "Cancelled"
    val abnText = if (r.nextInt(10) < 3)
      s"${a.abn.take(2)} ${a.abn.slice(2, 5)} ${a.abn.slice(5, 8)} ${a.abn.drop(8)}"
    else a.abn
    val (code, desc) = if (individual) EntityTypes(3) else EntityTypes(r.nextInt(3))
    val addr = s"<BusinessAddress><AddressDetails><State>${States(r.nextInt(States.length))}" +
      f"</State><Postcode>${2000 + r.nextInt(7000)}%04d</Postcode></AddressDetails></BusinessAddress>"
    val body =
      if (individual) {
        val given = a.core.init.map(cap).mkString(" ")
        s"<LegalEntity><IndividualName><GivenName>$given</GivenName>" +
          s"<FamilyName>${cap(a.core.last)}</FamilyName></IndividualName>$addr</LegalEntity>"
      } else if (legal)
        s"<LegalEntity><NonIndividualName><NonIndividualNameText>${xmlEsc(a.name)}" +
          s"</NonIndividualNameText></NonIndividualName>$addr</LegalEntity>"
      else
        s"<MainEntity><NonIndividualName><NonIndividualNameText>${xmlEsc(a.name)}" +
          s"</NonIndividualNameText></NonIndividualName>$addr</MainEntity>"
    s"""<ABRRecord><ABN status="$status" ABNStatusFromDate="${date(r)}">$abnText</ABN>""" +
      s"<EntityType><EntityTypeInd>$code</EntityTypeInd><EntityTypeText>$desc</EntityTypeText></EntityType>" +
      s"$body</ABRRecord>\n"
  }

  /** One letter at or after `from` replaced by another. */
  private def typo(w: String, from: Int, r: SplittableRandom): String = {
    val i = from + r.nextInt(w.length - from)
    var c = w(i)
    while (c == w(i)) c = ('a' + r.nextInt(26)).toChar
    w.updated(i, c)
  }

  private def wetRecord(url: String, content: String): String =
    "WARC/1.0\nWARC-Type: conversion\n" +
      s"WARC-Target-URI: $url\nWARC-Date: 2024-01-01T00:00:00Z\n" +
      s"Content-Type: text/plain\nContent-Length: ${content.getBytes(UTF_8).length}\n\n" +
      content + "\n\n"

  private def write(p: Path, bytes: Array[Byte]): Long = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
    bytes.length.toLong
  }

  private def gzip(s: String): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bo)
    gz.write(s.getBytes(UTF_8))
    gz.close()
    bo.toByteArray
  }

  /**
   * ABR XML extract files under `dir/abr` and gzip WET files under
   * `dir/wet`. The ABR side mixes the three name paths, spaced and plain
   * ABNs, five date formats plus unparseable dates, and a 3% share of
   * checksum-invalid ABNs; its last file is cut mid-record. First name
   * words are Zipf-drawn, so 4-char block keys are skewed. One web page
   * in two carries a planted variant of an ABR name: exact, first two
   * tokens swapped (which moves it to another block), or a one-letter
   * typo past the block key; a third drop the legal suffix. The rest
   * name companies that are not registered. One page in five is off
   * `.au`.
   */
  def etl(seed: Long, dir: Path, size: EtlSize): EtlTruth = {
    val r = rng(seed, 1)
    val first = words(400, 7001L, syllables = 2, distinctPrefix = true)
    val rest = words(2500, 7002L)
    val zipf = new Zipf(first.length, 1.1)
    val usedNorm = mutable.HashSet.empty[String]
    val usedAbn = mutable.HashSet.empty[String]

    def freshCore(): Seq[String] = {
      while (true) {
        val core = first(zipf.draw(r)) +: Seq.fill(2)(rest(r.nextInt(rest.length)))
        val norm = core.mkString(" ").toUpperCase
        if (!usedNorm.contains(norm)) { usedNorm += norm; return core }
      }
      Nil
    }
    def freshAbn(): String = {
      var a = validAbn(r)
      while (usedAbn.contains(a) || usedAbn.contains(breakAbn(a))) a = validAbn(r)
      usedAbn += a
      a
    }

    // ABR entities; the last file is truncated before its final record
    val perFile = size.abr / size.abrFiles
    var inputBytes = 0L
    val ents = mutable.ArrayBuffer.empty[AbrEntity]
    for (f <- 0 until size.abrFiles) {
      val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<ABRExtract>\n")
      var cut = -1
      for (i <- 0 until perFile) {
        val individual = r.nextInt(10) < 2
        val legal = !individual && r.nextInt(10) < 3
        val core = freshCore()
        val name =
          if (individual) core.mkString(" ").toUpperCase
          else (core.mkString(" ").toUpperCase + " " +
            Suffixes(r.nextInt(Suffixes.length))).trim
        val good = freshAbn()
        val valid = r.nextInt(100) >= 3
        val last = f == size.abrFiles - 1 && i == perFile - 1
        val e = AbrEntity(if (valid) good else breakAbn(good), name, core,
          valid, parsed = !last, active = r.nextInt(100) < 85)
        ents += e
        if (last) cut = sb.length
        sb.append(abrRecordXml(e, individual, legal, r))
      }
      val xml =
        if (cut >= 0) sb.substring(0, cut + (sb.length - cut) / 2)
        else sb.append("</ABRExtract>\n").toString
      inputBytes += write(dir.resolve(f"abr/abr_$f%02d.xml"), xml.getBytes(UTF_8))
    }

    // web pages: planted variants of parsed, valid registrations + noise
    val targets = ents.filter(e => e.parsed && e.valid).toIndexedSeq
    val order = targets.indices.toArray
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    var nextTarget = 0
    val planted = Map.newBuilder[String, String]
    var webAu = 0
    val webNorms = mutable.HashSet.empty[String]
    val pages = mutable.ArrayBuffer.empty[String]
    val filler = words(300, 7003L)
    // shares are stratified, not drawn, so precision and recall move
    // little from seed to seed: every fifth page is off `.au`, every
    // other page is planted, and planted pages cycle through the variants
    for (w <- 0 until size.web) {
      val au = w % 5 != 4
      val k = nextTarget
      val target =
        if (w % 2 == 0 && nextTarget < order.length) {
          nextTarget += 1; Some(targets(order(k)))
        } else None
      def candidate(target: Option[AbrEntity]): String = target match {
        case Some(e) =>
          val toks = e.core
          val variant = k % 4 match {
            case 0 => toks
            case 1 => toks(1) +: toks.head +: toks.drop(2) // new block key
            case 2 => toks.init :+ typo(toks.last, 1, r)
            case _ if toks.head.length > 4 => typo(toks.head, 4, r) +: toks.tail
            case _ => toks.head +: typo(toks(1), 1, r) +: toks.drop(2)
          }
          variant.map(cap).mkString(" ") + (if (k % 3 == 0) "" else " Pty Ltd")
        case None =>
          freshCore().map(cap).mkString(" ") + (if (w % 4 == 1) "" else " Pty Ltd")
      }
      // web names stay distinct after normalization, so the pipeline's
      // dedup-by-name keeps every page and the cleaned count is known; a
      // planted variant that collides becomes an unregistered name
      var title = candidate(target)
      val plantedAbn = if (webNorms.contains(normalize(title))) None else target.map(_.abn)
      while (webNorms.contains(normalize(title))) title = candidate(None)
      webNorms += normalize(title)
      val slug = title.toLowerCase.replaceAll("[^a-z]", "")
      val url = if (au) s"https://www.$slug$w.com.au/about" else s"https://$slug$w.com/about"
      val body = (0 until 25).map(_ => filler(r.nextInt(filler.length))).mkString(" ")
      val content = s"Welcome to $title | Industry: ${Industries(r.nextInt(Industries.length))}. $body."
      if (au) {
        webAu += 1
        plantedAbn.foreach(abn => planted += url -> abn)
      }
      pages += wetRecord(url, content)
    }
    val perWet = math.ceil(pages.size.toDouble / size.wetFiles).toInt
    pages.grouped(perWet).zipWithIndex.foreach { case (recs, f) =>
      val info = "WARC/1.0\nWARC-Type: warcinfo\nContent-Length: 0\n\n\n"
      inputBytes += write(dir.resolve(f"wet/crawl_$f%02d.warc.wet.gz"),
        gzip(info + recs.mkString))
    }
    EtlTruth(ents.toIndexedSeq, webAu, planted.result(), inputBytes)
  }

  // ─────────────────────────── corpus_curation ───────────────────────────

  /** One curation corpus: documents (id = index), the quality label of
    * each, a directed link graph, and the planted near-duplicate pairs. */
  case class Corpus(
      texts: IndexedSeq[String],
      quality: IndexedSeq[Boolean],
      links: IndexedSeq[(Long, Long)],
      /** (a, b), a < b: same-chain documents whose exact 3-word shingle
        * Jaccard is at least `dupThreshold`. */
      dupPairs: Set[(Long, Long)],
      chainDepths: IndexedSeq[Int])

  /** The curation corpus: documents, words per document, planted
    * near-duplicate chains and their maximum depth, links per document. */
  object CorpusSize {
    val docs = 1200
    val docLen = 60
    val chains = 40
    val maxDepth = 6
    val linksPerDoc = 3
  }

  val DupThreshold = 0.8

  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(" ")
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = (a intersect b).size
    if (a.isEmpty && b.isEmpty) 0.0 else i.toDouble / (a.size + b.size - i)
  }

  /**
   * Documents of Zipf-drawn words. `chains` near-duplicate chains are
   * planted: each link copies its predecessor and replaces one word, so
   * neighbours stay above the 0.8 shingle-Jaccard threshold while the
   * chain's ends drift apart — chain depth sets how many rounds connected
   * components needs. Chains are scattered over the id range. The quality
   * label is a token rule: at least two words from a fixed "quality" set.
   * Links: each document points at `linksPerDoc` Zipf-drawn targets, a
   * power-law in-degree.
   */
  def corpus(seed: Long): Corpus = {
    val size = CorpusSize
    val r = rng(seed, 2)
    val vocab = words(3000, 8001L)
    val zipf = new Zipf(vocab.length, 1.0)
    val qualityWords = vocab.slice(40, 60).toSet
    def doc(): Array[String] = Array.fill(size.docLen)(vocab(zipf.draw(r)))

    // chain slots scattered over the id range
    val ids = Array.range(0, size.docs)
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val texts = new Array[String](size.docs)
    var next = 0
    val depths = mutable.ArrayBuffer.empty[Int]
    val dup = mutable.HashSet.empty[(Long, Long)]
    for (_ <- 0 until size.chains) {
      val depth = 2 + r.nextInt(size.maxDepth - 1)
      depths += depth
      var cur = doc()
      val members = mutable.ArrayBuffer.empty[Int]
      for (_ <- 0 until depth) {
        val id = ids(next); next += 1
        texts(id) = cur.mkString(" ")
        members += id
        cur = cur.clone()
        cur(r.nextInt(cur.length)) = vocab(r.nextInt(vocab.length))
      }
      val sh = members.map(m => m -> shingles(texts(m))).toMap
      for (a <- members; b <- members if a < b &&
          jaccard(sh(a), sh(b)) >= DupThreshold)
        dup += ((a.toLong, b.toLong))
    }
    while (next < size.docs) { texts(ids(next)) = doc().mkString(" "); next += 1 }

    val quality = texts.map(t => t.split(" ").count(qualityWords.contains) >= 2)
    val target = new Zipf(size.docs, 1.1)
    val links = for (src <- 0 until size.docs; _ <- 0 until size.linksPerDoc;
        dst = target.draw(r) if dst != src) yield (src.toLong, dst.toLong)
    Corpus(texts.toIndexedSeq, quality.toIndexedSeq, links, dup.toSet,
      depths.toIndexedSeq)
  }

  // ───────────────────────────── index_churn ─────────────────────────────

  sealed trait IndexOp
  case class Insert(docs: IndexedSeq[(Long, String)]) extends IndexOp
  case class Delete(ids: IndexedSeq[Long]) extends IndexOp
  case class Search(query: String) extends IndexOp
  case object Compact extends IndexOp

  /** The churn sequence: initial documents, documents inserted and
    * deleted per cycle, searches after each step, mean words per document. */
  object ChurnSize {
    val initialDocs = 600
    val batchDocs = 40
    val deleteDocs = 40
    val searchesPerStep = 2
    val docLen = 40
  }

  /**
   * A seeded BM25 index workload: an initial corpus, then an endless
   * sequence of cycles. A cycle is an insert, a delete and a compaction,
   * each followed by a burst of top-10 searches; it deletes as many
   * documents as it inserts, so the index holds a steady size while its
   * files churn. Query terms are Zipf-drawn
   * (mostly common words) with one in three from the rare tail.
   */
  final class Churn(seed: Long) {
    private val size = ChurnSize
    private val r = rng(seed, 3)
    private val vocab = words(2000, 9001L)
    private val zipf = new Zipf(vocab.length, 1.1)
    private var nextId = 0L
    private val alive = mutable.ArrayBuffer.empty[Long]

    private def doc(): (Long, String) = {
      val len = size.docLen / 2 + r.nextInt(size.docLen)
      val id = nextId; nextId += 1
      alive += id
      id -> Array.fill(len)(vocab(zipf.draw(r))).mkString(" ")
    }

    val initial: IndexedSeq[(Long, String)] = (0 until size.initialDocs).map(_ => doc())

    private def query(): String =
      (0 until 1 + r.nextInt(3)).map { _ =>
        if (r.nextInt(3) == 0) vocab(500 + r.nextInt(vocab.length - 500))
        else vocab(zipf.draw(r))
      }.distinct.mkString(" ")

    private def searches(): IndexedSeq[IndexOp] =
      (0 until size.searchesPerStep).map(_ => Search(query()))

    private def delete(): IndexOp = {
      val picked = (0 until size.deleteDocs).map { _ =>
        val i = r.nextInt(alive.size)
        val id = alive(i)
        alive(i) = alive.last
        alive.remove(alive.size - 1)
        id
      }
      Delete(picked.sorted)
    }

    /** The next cycle of operations. */
    def cycle(): IndexedSeq[IndexOp] =
      (Insert((0 until size.batchDocs).map(_ => doc())) +: searches()) ++
        (delete() +: searches()) ++ (Compact +: searches())
  }
}
