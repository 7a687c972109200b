package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** Seeded input generator plus the reference arithmetic the checks use.
  * Everything here is plain Scala written from the documented semantics
  * (token = single-space split, 3-word shingles, md5 sign bits), never a
  * call into graft, so a check built on it is independent of the program.
  */
object Gen {

  // ---- random streams ---------------------------------------------------

  /** One independent stream per (seed, purpose) pair. */
  def rng(seed: Long, salt: Long): scala.util.Random =
    new scala.util.Random(seed * 0x9E3779B97F4A7C15L ^ (salt * 0xBF58476D1CE4E5B9L))

  // ---- vocabulary and documents -----------------------------------------

  val Stopwords: Vector[String] = Vector("the", "a", "of", "and", "to", "in", "is", "that", "it", "was")
  val Langs: Vector[String] = Vector("en", "de", "fr", "es")
  val Sources: Vector[String] = Vector("web", "books", "news", "forum")

  /** Alphabetic pseudo-words; the stopwords take the top Zipf ranks. */
  val Vocab: Vector[String] = Stopwords ++ (0 until 4000).map { i =>
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
    "w" + sb.reverse.toString + "o"
  }

  private val ZipfS = 1.07
  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / math.pow(r + 1.0, ZipfS)).toArray
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }

  def word(r: scala.util.Random): String = {
    val u = r.nextDouble()
    var lo = 0; var hi = zipfCdf.length - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (zipfCdf(mid) < u) lo = mid + 1 else hi = mid }
    Vocab(lo)
  }

  final case class Doc(id: Long, text: String, lang: String, source: String,
                       group: Int, kind: String) {
    lazy val toks: Array[String] = text.split(" ")
  }

  /** A corpus with planted copies. `group` is the index of the original a
    * document was made from; `kind` is "orig", "exact" or "near". Ids are
    * assigned after a shuffle, so a copy may carry a lower id than its
    * original. */
  final case class CorpusSpec(n: Int, exactShare: Double, nearShare: Double,
                              nearEdits: Int, minWords: Int = 40, maxWords: Int = 90)

  def corpus(seed: Long, salt: Long, spec: CorpusSpec, idBase: Long = 0L): Vector[Doc] = {
    val r = rng(seed, salt)
    val nExact = math.round(spec.n * spec.exactShare).toInt
    val nNear = math.round(spec.n * spec.nearShare).toInt
    val nOrig = spec.n - nExact - nNear
    val origs = (0 until nOrig).map { g =>
      val len = spec.minWords + r.nextInt(spec.maxWords - spec.minWords + 1)
      ((0 until len).map(_ => word(r)).mkString(" "), Langs(r.nextInt(Langs.size)),
        Sources(r.nextInt(Sources.size)), g, "orig")
    }
    // copies come from distinct originals, so every planted group is one
    // original plus exactly one copy
    val srcs = r.shuffle((0 until nOrig).toVector).take(nExact + nNear)
    val exact = srcs.take(nExact).map(g => origs(g).copy(_5 = "exact"))
    val near = srcs.drop(nExact).map { g =>
      val toks = origs(g)._1.split(" ")
      val pos = r.shuffle(toks.indices.toVector).take(spec.nearEdits)
      pos.foreach(p => toks(p) = word(r))
      origs(g).copy(_1 = toks.mkString(" "), _5 = "near")
    }
    r.shuffle(origs.toVector ++ exact ++ near).zipWithIndex.map { case ((t, l, s, g, k), i) =>
      Doc(idBase + i, t, l, s, g, k)
    }
  }

  /** Ids of every document with an identical text elsewhere, grouped. */
  def exactGroups(docs: Seq[Doc]): Seq[Seq[Long]] =
    docs.groupBy(_.text).values.filter(_.size > 1).map(_.map(_.id).sorted.toSeq).toSeq

  // ---- reference arithmetic ---------------------------------------------

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private def digest(s: String): Array[Byte] = md5.get().digest(s.getBytes(UTF_8))

  /** Distinct word 3-gram set (first-occurrence order irrelevant here). */
  def shingles(toks: Array[String], n: Int = 3): Set[String] =
    if (toks.length < n) Set.empty
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / ((a.size + b.size).toDouble - inter.toDouble)
  }

  /** 64-bit SimHash: bit i of md5(token), MSB first, votes ±1; sign ≥ 0 → 1. */
  def simhash(toks: Array[String]): Array[Int] = {
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val d = digest(t)
      var i = 0
      while (i < 64) { acc(i) += (((d(i >> 3) >> (7 - (i & 7))) & 1) << 1) - 1; i += 1 }
    }
    acc.map(a => if (a >= 0) 1 else 0)
  }

  def hamming(a: Array[Int], b: Array[Int]): Int = a.indices.count(i => a(i) != b(i))

  private val P = 2147483647L

  /** Token-sign embedding: per token, md5 → two residues mod 2³¹−1
    * (h1 from bytes 8..15, h2 from bytes 0..7, little-endian); dimension d
    * votes by the parity of h1 + d·h2 mod p. */
  def tokenSigns(toks: Array[String], dim: Int = 64): Array[Double] = {
    val acc = new Array[Long](dim)
    toks.foreach { t =>
      val d = digest(t)
      var hi = 0L; var lo = 0L
      var b = 0
      while (b < 8) { hi |= (d(b) & 0xffL) << (8 * b); b += 1 }
      while (b < 16) { lo |= (d(b) & 0xffL) << (8 * (b - 8)); b += 1 }
      val h2 = java.lang.Long.remainderUnsigned(hi, P)
      var g = java.lang.Long.remainderUnsigned(lo, P)
      var i = 0
      while (i < dim) {
        acc(i) += (if ((g & 1L) == 0L) 1L else -1L)
        g += h2; if (g >= P) g -= P
        i += 1
      }
    }
    acc.map(_.toDouble)
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
    s
  }

  def cosine(a: Array[Double], b: Array[Double]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  // ---- NDJSON landing days (ingest) -------------------------------------

  /** Etl.validate's default band: n_chars within 300 ± 50%. */
  val BandLo = 150L
  val BandHi = 450L

  final case class Rec(docId: Long, ts: String, source: String, lang: String,
                       nChars: Long, title: String) {
    def inBand: Boolean = nChars >= BandLo && nChars <= BandHi
    def json: String =
      s"""{"doc_id":$docId,"ts":"$ts","source":"$source","lang":"$lang","n_chars":$nChars,"title":"$title"}"""
    /** The landed form: every column as a string. */
    def strings: Seq[String] = Seq(docId.toString, ts, source, lang, nChars.toString, title)
  }

  final case class Manifest(path: Path, recs: Vector[Rec]) {
    def valid: Vector[Rec] = recs.filter(_.inBand)
    def invalid: Vector[Rec] = recs.filterNot(_.inBand)
  }
  final case class Day(date: String, manifests: Vector[Manifest])

  /** `days` landing days of `perDay` manifests × `files` NDJSON files ×
    * `recsPerFile` records; exactly `outOfBand` records of every file fall
    * outside the validation band (half below, half above). */
  def landingDays(seed: Long, root: Path, days: Int, perDay: Int, files: Int,
                  recsPerFile: Int, outOfBand: Int): Vector[Day] = {
    val r = rng(seed, 11)
    var nextId = 0L
    (0 until days).toVector.map { d =>
      val date = java.time.LocalDate.of(2026, 1, 1).plusDays(d.toLong).toString
      val dayDir = Files.createDirectories(root.resolve(s"landing/$date"))
      val mans = (0 until perDay).toVector.map { m =>
        val recs = (0 until files).toVector.flatMap { f =>
          val bad = r.shuffle((0 until recsPerFile).toVector).take(outOfBand).toSet
          val rs = (0 until recsPerFile).toVector.map { i =>
            val nChars =
              if (!bad(i)) BandLo + r.nextInt((BandHi - BandLo + 1).toInt)
              else if (i % 2 == 0) 1L + r.nextInt((BandLo - 1).toInt)
              else BandHi + 1 + r.nextInt(2000)
            val ts = f"${date}T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
            val title = (0 until 3 + r.nextInt(5)).map(_ => word(r)).mkString(" ")
            val rec = Rec(nextId, ts, Sources(r.nextInt(Sources.size)),
              Langs(r.nextInt(Langs.size)), nChars, title)
            nextId += 1
            rec
          }
          Files.writeString(dayDir.resolve(f"m$m%02d-f$f%02d.ndjson"),
            rs.map(_.json).mkString("", "\n", "\n"))
          rs
        }
        val uris = (0 until files).map(f =>
          "\"" + dayDir.resolve(f"m$m%02d-f$f%02d.ndjson").toUri.toString + "\"").mkString(", ")
        val mp = dayDir.resolve(f"manifest-$m%02d.json")
        Files.writeString(mp, s"""{"fileLocations": [{"URIPrefixes": [$uris]}]}""")
        Manifest(mp, recs)
      }
      Day(date, mans)
    }
  }

  // ---- NDJSON intake batches -------------------------------------------

  def docJson(d: Doc, emb: Array[Double]): String =
    s"""{"doc_id":${d.id},"vec_id":${d.id},"text":"${d.text}","lang":"${d.lang}","source":"${d.source}","embedding":[${emb.map(_.toLong).mkString(",")}]}"""

  def writeNdjson(path: Path, docs: Seq[Doc]): Path = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, docs.map(d => docJson(d, tokenSigns(d.toks))).mkString("", "\n", "\n"))
    path
  }
}
