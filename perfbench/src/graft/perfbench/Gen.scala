package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** The traffic dimensions of one workload's event stream. */
final case class Traffic(
    keys: Int,          // KOL universe size
    zipf: Double,       // Zipf exponent of key popularity
    dirtyShare: Double, // share of rows with a FIXTURES dirty variant
    profileEvery: Int,  // one profile event per this many events
    lateShare: Double = 0.0) // share of events stamped up to 10 min in the past

/** One generated Kafka record plus what the benchmark must know to check
  * the engine's output for it. `user` is null for a keyless row; profile
  * rows carry the trust score the local heuristic scorer must return.
  */
final case class Event(value: Array[Byte], tsMs: Long, profile: Boolean,
    user: String, platform: String, trust: Double)

/** Seeded generator of FIXTURES §1.1 video and §1.2 profile events,
  * including their dirty variants: null counts, raw "1.5K"-style count
  * strings, blank and missing keys. The same seed yields byte-identical
  * events. Nothing here calls the engine: the expected trust scores are
  * derived from the generated fields by the reference formulas restated in
  * [[Gen.expectedCount]] and [[Gen.trustOf]].
  */
final class Gen(seed: Long, t: Traffic) {
  import Gen._

  private val perm: Array[Int] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val p = Array.tabulate(t.keys)(identity)
    var i = p.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val x = p(i); p(i) = p(j); p(j) = x; i -= 1
    }
    p
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(t.keys)(k => 1.0 / math.pow(k + 1.0, t.zipf))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  /** A Zipf-drawn key id (popularity rank mapped through a seeded
    * permutation, so the hot set differs per seed). */
  def key(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = cdf.length - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    perm(lo)
  }

  /** `n` events with timestamps `t0Ms + 2·i` ms, except that a
    * `lateShare` of them is stamped 1–600 s earlier (late and out of
    * order). */
  def events(n: Int, t0Ms: Long): Array[Event] = {
    val r = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val k = key(r)
      val user = s"kol_$k"
      val platform = Platforms(k % Platforms.length)
      val ts = t0Ms + 2L * i -
        (if (t.lateShare > 0 && r.nextDouble() < t.lateShare) 1000L * (1 + r.nextInt(600)) else 0L)
      if (i % t.profileEvery == t.profileEvery - 1)
        profile(i, user, platform, ts, r.split(), r.nextDouble() < t.dirtyShare / 2)
      else video(i, user, platform, ts, r, r.nextDouble() < t.dirtyShare)
    }
  }

  private def video(i: Int, user0: String, platform: String, ts: Long,
      r: SplittableRandom, dirty: Boolean): Event = {
    val views = 1000L + r.nextInt(2000000)
    var likes: java.lang.Long = views / (5 + r.nextInt(50))
    var comments: java.lang.Long = likes / (5 + r.nextInt(30))
    var shares: java.lang.Long = likes / (10 + r.nextInt(40))
    var user = user0
    if (dirty) r.nextInt(4) match {
      case 0 => likes = null
      case 1 => comments = null; shares = null
      case 2 => user = null
      case _ => user = ""
    }
    val sb = new StringBuilder(256)
    sb.append("{\"event_id\":\"").append(seed).append('-').append(i)
      .append("\",\"event_time\":\"").append(iso(ts))
      .append("\",\"platform\":\"").append(platform).append('"')
    if (user != null) sb.append(",\"username\":\"").append(user).append('"')
    sb.append(",\"video_id\":\"v").append(i).append('"')
      .append(",\"video_views\":").append(views)
    num(sb, "video_likes", likes); num(sb, "video_comments", comments)
    num(sb, "video_shares", shares)
    sb.append('}')
    Event(sb.toString.getBytes(UTF_8), ts, profile = false,
      if (user == null || user.isEmpty) null else user, platform, Double.NaN)
  }

  private def profile(i: Int, user: String, platform: String, ts: Long,
      pr: SplittableRandom, keyless: Boolean): Event = {
    val followers = math.pow(10, 2 + pr.nextDouble() * 5.5).toLong
    val following = math.pow(10, pr.nextDouble() * 4).toLong
    val verified = pr.nextDouble() < 0.2
    val numeric = pr.nextDouble() < 0.4
    val fRaw = countString(followers, pr)
    val gRaw = countString(following, pr)
    val blankRaw = !numeric && pr.nextDouble() < t.dirtyShare
    val sb = new StringBuilder(320)
    sb.append("{\"event_id\":\"").append(seed).append("-p").append(i)
      .append("\",\"event_time\":\"").append(iso(ts))
      .append("\",\"event_type\":\"profile\",\"platform\":\"").append(platform).append('"')
    if (!keyless) sb.append(",\"username\":\"").append(user).append('"')
      .append(",\"profile_url\":\"https://example.com/@").append(user).append('"')
    sb.append(",\"nickname\":\"KOL ").append(user).append('"')
    if (numeric) sb.append(",\"followers_count\":").append(followers)
      .append(",\"following_count\":").append(following)
    val fIn = if (blankRaw) "" else fRaw
    sb.append(",\"followers_raw\":\"").append(fIn).append('"')
    if (!blankRaw) sb.append(",\"following_raw\":\"").append(gRaw).append('"')
    sb.append(",\"likes_raw\":\"").append(countString(followers * 7, pr)).append('"')
      .append(",\"verified\":").append(verified)
      .append(",\"bio\":\"bio of ").append(user).append('"')
      .append(",\"avatar_url\":\"https://img.example.com/").append(user).append(".jpg\"}")
    val f = if (numeric) followers else expectedCount(fIn)
    val g = if (numeric) following else if (blankRaw) 0L else expectedCount(gRaw)
    Event(sb.toString.getBytes(UTF_8), ts, profile = true,
      if (keyless) null else user, platform, trustOf(verified, f, g))
  }

  /** Scraper-style count rendering: "852.3K", "1,024" or plain digits. */
  private def countString(v: Long, r: SplittableRandom): String = r.nextInt(3) match {
    case 0 if v >= 1000000000L => "%.1fB".formatLocal(java.util.Locale.US, v / 1e9)
    case 0 if v >= 1000000L => "%.1fM".formatLocal(java.util.Locale.US, v / 1e6)
    case 0 if v >= 1000L => "%.1fK".formatLocal(java.util.Locale.US, v / 1e3)
    case 1 => java.text.NumberFormat.getIntegerInstance(java.util.Locale.US).format(v)
    case _ => v.toString
  }
}

object Gen {
  val Platforms: Array[String] = Array("tiktok", "youtube", "instagram")

  private def num(sb: StringBuilder, k: String, v: java.lang.Long): Unit =
    if (v != null) sb.append(",\"").append(k).append("\":").append(v.longValue)

  private val IsoFmt = java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME
    .withZone(java.time.ZoneOffset.UTC)
  private def iso(ms: Long): String = IsoFmt.format(java.time.Instant.ofEpochMilli(ms))

  /** The count-string contract of the reference's bronze parsers
    * (FIXTURES §1.2): strip commas, K/M/B multiplier on the decimal
    * value, truncation to a whole count, anything unparsable → 0. */
  def expectedCount(raw: String): Long = {
    val s = raw.replace(",", "").trim.toUpperCase
    if (!s.matches("^-?([0-9]+\\.?[0-9]*|\\.[0-9]+)[KMB]?$")) 0L
    else {
      val mult = if (s.endsWith("B")) 1e9 else if (s.endsWith("M")) 1e6
        else if (s.endsWith("K")) 1e3 else 1.0
      val digits = if (mult == 1.0) s else s.dropRight(1)
      (java.lang.Double.parseDouble(digits) * mult).toLong
    }
  }

  /** The hot path's trust heuristic (`hot_path_scoring.py:313-331`:
    * account age 365 d, profile image present, not flagged), rounded to
    * one decimal half-up and clamped to [0, 100]. */
  def trustOf(verified: Boolean, followers: Long, following: Long): Double = {
    val total = (if (verified) 20.0 else 0.0) + 10.0 + 20.0 +
      math.min(math.max(followers, 0L).toDouble / math.max(following, 1L) / 10.0 * 20.0, 20.0) +
      20.0
    math.max(math.min(
      BigDecimal(total).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble, 100.0), 0.0)
  }

  /** SHA-256 over every event's value bytes and timestamp. */
  def digest(evs: Array[Event]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    evs.foreach { e =>
      md.update(e.value); buf.clear(); buf.putLong(e.tsMs); md.update(buf.array())
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
