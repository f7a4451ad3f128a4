package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators for the three workloads, with the ground
  * truth each workload's output check compares against. Everything
  * here is plain JVM code (no Spark): the same seed yields the same
  * bytes in every process, which [[Gen.Digest]] makes checkable. */
object Gen {

  /** Stopwords the engine's language gate counts, copied so the
    * generator controls exactly which language a document reads as. */
  val enStop: Array[String] = Array("the", "of", "and", "a", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "at", "by", "this",
    "was", "are", "be", "or", "an", "not", "but", "from", "they", "his",
    "her", "she", "he", "we")
  val deStop: Array[String] = Array("der", "die", "das", "und", "ist",
    "ich", "nicht", "ein", "eine", "mit", "auf", "des", "dem", "den",
    "von", "zu", "im")

  private val consonants = "bcdfghjklmnprstvwz"
  private val vowels = "aeiou"

  /** `n` distinct consonant-vowel words of 2-4 syllables. They never
    * contain two adjacent consonants, so they cannot collide with the
    * `mk…` document markers, and none is an English or German stopword
    * (a rare one may be a Spanish stopword such as `para`, far too few
    * to outvote the English stopwords of a document). */
  def vocabulary(n: Int, rnd: SplittableRandom): Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val syl = 2 + rnd.nextInt(3)
      val sb = new StringBuilder
      var j = 0
      while (j < syl) {
        sb.append(consonants.charAt(rnd.nextInt(consonants.length)))
        sb.append(vowels.charAt(rnd.nextInt(vowels.length)))
        j += 1
      }
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def pick[T](rnd: SplittableRandom, xs: Array[T]): T = xs(rnd.nextInt(xs.length))

  def weighted(rnd: SplittableRandom, xs: Array[(String, Double)]): String = {
    var u = rnd.nextDouble() * xs.map(_._2).sum
    xs.find { case (_, w) => u -= w; u < 0 }.getOrElse(xs.last)._1
  }

  def logNormal(rnd: SplittableRandom, median: Double, sigma: Double): Double = {
    // Box-Muller
    val u1 = math.max(rnd.nextDouble(), 1e-12)
    val u2 = rnd.nextDouble()
    median * math.exp(sigma * math.sqrt(-2 * math.log(u1)) *
      math.cos(2 * math.Pi * u2))
  }

  /** Marker word naming a content id: `mk` + base-26 letters. Two
    * consonants in a row make it disjoint from the vocabulary, and it
    * carries no digits, so PII scrubbing leaves it alone. */
  def marker(id: Long): String = {
    val sb = new StringBuilder("mk")
    var x = id
    do { sb.append(('a' + (x % 26)).toChar); x /= 26 } while (x > 0)
    sb.toString
  }

  /** Random prose of `len` words: ~30% English stopwords, the rest Zipf
    * vocabulary. */
  def prose(rnd: SplittableRandom, vocab: Array[String], zipf: Zipf,
            len: Int, stops: Array[String] = enStop,
            stopRate: Double = 0.3): Array[String] =
    Array.fill(len)(
      if (rnd.nextDouble() < stopRate) stops(rnd.nextInt(stops.length))
      else vocab(zipf.sample(rnd)))

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes(UTF_8))
    def add(x: Long): Unit = add(x.toString + ";")
    def add(v: Array[Double]): Unit = v.foreach(d =>
      add(java.lang.Double.doubleToLongBits(d)))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** md5(salt + id) first 8 hex chars: the bucket the engine's trainer
    * mix samples by. */
  def mixBucket(id: Long, salt: String = "graft"): String = {
    val md = MessageDigest.getInstance("MD5")
    md.digest((salt + id.toString).getBytes(UTF_8)).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Unit-normalised `dim`-vector: a cluster centre plus Gaussian noise. */
  def clusteredVec(rnd: SplittableRandom, centre: Array[Double],
                   noise: Double): Array[Double] = {
    val v = centre.map(c => c + noise * gauss(rnd))
    normalise(v)
  }

  def normalise(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def gauss(rnd: SplittableRandom): Double = {
    val u1 = math.max(rnd.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  /** Hash of an 8-word window, for the decontamination ground truth. */
  def gram8(ws: Array[String], i: Int): Long = {
    var h = 0x9E3779B97F4A7C15L
    var j = 0
    while (j < 8) {
      h = (h ^ ws(i + j).hashCode.toLong) * 0xBF58476D1CE4E5B9L
      h ^= (h >>> 31)
      j += 1
    }
    h
  }
}
