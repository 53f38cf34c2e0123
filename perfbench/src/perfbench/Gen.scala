package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded generator of Yelp-shaped review JSON lines, and the expected
  * word-score TSV computed without Spark.
  *
  * Word ranks are drawn from a Zipf(s) law over `vocab` words; rank k's
  * word is k in bijective base 26 ("a".."z", "aa", ...), so frequent
  * words are short and every rank has its own word. Tokens are joined
  * by whitespace the tokenizer splits on (space, double space, tab,
  * blank line), so the expected scores need no tokenizer of their own.
  *
  * Usage: Gen <outDir> <seed> <reviews> <vocab> <zipfS> <minLen> <maxLen> <p1,p2,p3,p4,p5>
  * writes `<outDir>/reviews.json` and `<outDir>/expected.json`
  * (`sha256` of the expected TSV, `tokens`, `distinct_words`, `bytes`).
  * The directory is written under a temporary name and renamed, so a
  * present `<outDir>` is always complete.
  */
object Gen {
  final case class Spec(reviews: Int, vocab: Int, zipfS: Double,
                        minLen: Int, maxLen: Int, starMix: Seq[Double])

  /** Rejection-inversion Zipf sampler (Hörmann and Derflinger, 1996):
    * constant memory, so a vocabulary of millions needs no CDF table.
    * Returns a rank in [1, n].
    */
  final class Zipf(n: Int, s: Double) {
    require(n >= 1 && s > 0 && s != 1.0, s"bad Zipf($n, $s)")
    private def h(x: Double) = math.exp(-s * math.log(x))
    private def helper1(x: Double) =
      if (math.abs(x) > 1e-8) math.log1p(x) / x else 1 - x * (0.5 - x * (1 / 3.0 - 0.25 * x))
    private def helper2(x: Double) =
      if (math.abs(x) > 1e-8) math.expm1(x) / x else 1 + x * 0.5 * (1 + x / 3.0 * (1 + 0.25 * x))
    private def hIntegral(x: Double) = { val l = math.log(x); helper2((1 - s) * l) * l }
    private def hIntegralInverse(x: Double) = {
      val t = math.max(-1.0, x * (1 - s))
      math.exp(helper1(t) * x)
    }
    private val hX1 = hIntegral(1.5) - 1.0
    private val hN = hIntegral(n + 0.5)
    private val sc = 2.0 - hIntegralInverse(hIntegral(2.5) - h(2.0))

    def sample(rng: SplittableRandom): Int = {
      while (true) {
        val u = hN + rng.nextDouble() * (hX1 - hN)
        val x = hIntegralInverse(u)
        val k = math.min(n.toLong, math.max(1L, (x + 0.5).toLong))
        if (k - x <= sc || u >= hIntegral(k + 0.5) - h(k.toDouble)) return k.toInt
      }
      0
    }
  }

  // words have at most 6 letters (26 + 26^2 + ... + 26^6 ranks), packed
  // 5 bits a letter, first letter highest, so unsigned order of the
  // packed key is the byte order of the word
  private val MaxVocab = 321272406
  private val KeyBits = 30

  def wordKey(rank: Int): Long = {
    var x = rank; var key = 0L; var len = 0
    while (x > 0) { x -= 1; key |= (x % 26 + 1).toLong << (5 * len); len += 1; x /= 26 }
    // letters were packed last-first from bit 0; reverse into left-aligned order
    var out = 0L; var i = 0
    while (i < len) { out |= ((key >>> (5 * i)) & 31L) << (KeyBits - 5 * (len - i)); i += 1 }
    out
  }

  def keyWord(key: Long): String = {
    val sb = new java.lang.StringBuilder(6)
    var shift = KeyBits - 5
    while (shift >= 0 && ((key >>> shift) & 31L) != 0) {
      sb.append(('a' + ((key >>> shift) & 31L).toInt - 1).toChar); shift -= 5
    }
    sb.toString
  }

  private val IdChars = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"
    .getBytes(US_ASCII)

  final case class Expected(sha256: String, tokens: Long, distinct: Int, bytes: Long)

  /** Writes the reviews to `file` and returns the expected TSV digest. */
  def generate(file: Path, seed: Long, spec: Spec): Expected = {
    require(spec.vocab <= MaxVocab && spec.minLen >= 0 && spec.maxLen >= spec.minLen)
    val rng = new SplittableRandom(seed)
    val zipf = new Zipf(spec.vocab, spec.zipfS)
    val cum = spec.starMix.scanLeft(0.0)(_ + _).tail.map(_ / spec.starMix.sum).toArray
    val score = new Array[Int](spec.vocab + 1)
    val seen = new java.util.BitSet(spec.vocab + 1)
    var tokens = 0L
    val out = new CountingStream(new BufferedOutputStream(new FileOutputStream(file.toFile), 1 << 20))
    def ascii(s: String): Unit = out.write(s.getBytes(US_ASCII))
    def id(len: Int): Unit = { var i = 0; while (i < len) { out.write(IdChars(rng.nextInt(64)).toInt); i += 1 } }
    try {
      var r = 0
      while (r < spec.reviews) {
        val u = rng.nextDouble()
        var stars = 1; while (stars < 5 && u >= cum(stars - 1)) stars += 1
        val mod = stars - 3
        ascii("{\"review_id\":\""); id(22)
        ascii("\",\"user_id\":\""); id(22)
        ascii("\",\"business_id\":\""); id(22)
        ascii(s"\",\"stars\":$stars.0,\"useful\":${rng.nextInt(8)},\"funny\":${rng.nextInt(4)},\"cool\":${rng.nextInt(4)},\"text\":\"")
        val n = spec.minLen + rng.nextInt(spec.maxLen - spec.minLen + 1)
        var t = 0
        while (t < n) {
          if (t > 0) rng.nextInt(64) match {
            case 0 => ascii("\\n\\n")
            case 1 => ascii("  ")
            case 2 => ascii("\\t")
            case _ => out.write(' ')
          }
          val k = zipf.sample(rng)
          ascii(keyWord(wordKey(k)))
          score(k) += mod; seen.set(k)
          t += 1
        }
        tokens += n
        ascii(f"\",\"date\":\"20${10 + rng.nextInt(12)}%02d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d 12:00:00\"}\n")
        r += 1
      }
    } finally out.close()

    // expected output order: score descending, then word ascending
    val distinct = seen.cardinality()
    val minScore = -2L * tokens
    val entries = new Array[Long](distinct)
    var i = 0
    var k = seen.nextSetBit(1)
    while (k >= 0) {
      entries(i) = ((-score(k).toLong - minScore) << KeyBits) | wordKey(k)
      i += 1; k = seen.nextSetBit(k + 1)
    }
    java.util.Arrays.sort(entries)
    val md = MessageDigest.getInstance("SHA-256")
    val line = new java.lang.StringBuilder(32)
    entries.foreach { e =>
      line.setLength(0)
      line.append(-((e >>> KeyBits) + minScore)).append('\t')
        .append(keyWord(e & ((1L << KeyBits) - 1))).append('\n')
      md.update(line.toString.getBytes(US_ASCII))
    }
    Expected(md.digest().map(b => f"$b%02x").mkString, tokens, distinct, out.count)
  }

  final class CountingStream(inner: java.io.OutputStream) extends java.io.FilterOutputStream(inner) {
    var count = 0L
    override def write(b: Int): Unit = { inner.write(b); count += 1 }
    override def write(b: Array[Byte]): Unit = { inner.write(b); count += b.length }
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 8) {
      System.err.println("Usage: Gen <outDir> <seed> <reviews> <vocab> <zipfS> <minLen> <maxLen> <p1,p2,p3,p4,p5>")
      sys.exit(2)
    }
    val dir = Paths.get(args(0))
    val spec = Spec(args(2).toInt, args(3).toInt, args(4).toDouble, args(5).toInt,
      args(6).toInt, args(7).split(',').map(_.toDouble).toSeq)
    require(spec.starMix.length == 5, "star mix needs five shares")
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Files.createDirectories(tmp)
    val e = generate(tmp.resolve("reviews.json"), args(1).toLong, spec)
    Files.writeString(tmp.resolve("expected.json"),
      s"""{"sha256":"${e.sha256}","tokens":${e.tokens},"distinct_words":${e.distinct},"bytes":${e.bytes}}""" + "\n")
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
  }
}
