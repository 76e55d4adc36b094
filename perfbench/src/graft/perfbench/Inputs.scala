package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

/** Seeded input generator. Every byte it writes is a function of the seed
  * and the file's index, never of timing, so the same seed gives the same
  * files; it writes only under the directories it is handed. */
object Inputs {

  /** Business-news vocabulary; the words the jobs filter on are in it. */
  val vocab: Array[String] = (
    "the of to and a in for is on that with by profit as at from it its was " +
    "market euros said year shares sales growth company bank firm rise fall " +
    "quarter prices trade deal group oil economy rates investors analysts " +
    "lufthansa airline flights fuel costs demand chief executive board plan " +
    "million billion percent figures results forecast revenue loss debt " +
    "government tax budget jobs workers union strike exports imports dollar " +
    "yen stock index record high low week month report data business europe " +
    "china india japan germany france britain america sector retail bonds " +
    "merger takeover offer bid price value cut boost hit expected strong weak"
  ).split(" ")

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val wordZipf = new Zipf(vocab.length, 1.05)

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Lines of Zipf-distributed words, 3-16 words each, ~4% blank lines. */
  def textLines(r: SplittableRandom, n: Int): Array[String] = Array.fill(n) {
    if (r.nextInt(25) == 0) ""
    else Array.fill(3 + r.nextInt(14))(vocab(wordZipf.draw(r))).mkString(" ")
  }

  val signTypes: Array[String] = Array("Streetname - Mast Arm", "Punched Telespar",
    "Stop", "Speed Limit 30", "No Parking, Tow Zone", "Yield", "School Zone")
  val categories: Array[String] = Array("Warning", "Regulatory", "Streetname",
    "Guide", "School", "")

  /** Traffic_Signs-shaped rows: 19 string fields in the order of
    * `graft.sources.Tables.trafficSignsSchema`. Fields include embedded
    * commas, doubled quotes, single spaces and blanks. */
  def trafficRows(r: SplittableRandom, n: Int, firstId: Int): Array[Array[String]] =
    Array.tabulate(n) { i =>
      def pick(xs: Array[String]) = xs(r.nextInt(xs.length))
      def blankOr(s: => String) = if (r.nextInt(4) == 0) "" else s
      Array(
        fmt("%.8f", -9822752.0 - r.nextDouble() * 20000),
        fmt("%.8f", 4887653.0 + r.nextDouble() * 20000),
        (firstId + i).toString,
        pick(signTypes),
        pick(Array("16\" X 42\"", "30\" X 30\"", "24, 24", "")),
        pick(Array(" ", "", "Arrow")),
        pick(Array("Traffic Signal Mast Arm", "Telespar", "Wood Post")),
        blankOr((1980 + r.nextInt(40)).toString),
        pick(categories),
        blankOr(pick(Array("near school, north side", "replaced \"2019\"", "faded"))),
        pick(Array("D3-1", "R1-1", "W3-1", "S1-1")),
        "Champaign",
        (1 + r.nextInt(99999)).toString,
        blankOr("Y"),
        pick(Array("AERIAL", "GPS", "")),
        pick(Array("L", "M", "H")),
        blankOr(pick(Array("Mercury Dr", "Main St", "Green St, East"))),
        s"${r.nextInt(9) + 1}.0",
        "")
    }

  private def fmt(f: String, x: Double): String = f.formatLocal(java.util.Locale.ROOT, x)

  /** RFC-4180 line: quote a field holding a comma or quote, doubling quotes. */
  def csvLine(fields: Array[String]): String = fields.map { f =>
    if (f.contains(",") || f.contains("\"")) "\"" + f.replace("\"", "\"\"") + "\"" else f
  }.mkString(",")

  /** Write `lines` to `target` through a hidden temp file and an atomic
    * rename, so a watching file stream never sees a partial file. */
  def writeAtomic(target: File, lines: Iterator[String]): Long = {
    val tmp = new File(target.getParentFile, "." + target.getName + ".tmp")
    val w = Files.newBufferedWriter(tmp.toPath, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    val bytes = tmp.length()
    Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    bytes
  }

  /** One event of the sessions stream: user key and event time (µs). */
  final case class Event(user: String, tsUs: Long, kind: String)

  val eventKinds: Array[String] = Array("view", "click", "cart", "purchase")

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  def eventLine(e: Event): String =
    s"${e.user},${tsFmt.format(java.time.Instant.EPOCH.plusNanos(e.tsUs * 1000L))},${e.kind}"
}
