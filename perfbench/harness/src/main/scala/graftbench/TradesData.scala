package graftbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.time.{DayOfWeek, LocalDate}

/** The benchmark's own trades generator. It writes the reference CSV's
  * header and value shapes, and its five kinds of dirt (empty timestamp,
  * `not_a_date`, empty symbol, empty quantity, empty price) at the
  * reference's 25-in-800 rate, drawn uniformly over the kinds.
  *
  * It counts the clean rows and the distinct (week, tier, user, symbol)
  * groups itself while writing, so the output checks never trust the
  * program under test for their expected values.
  */
object TradesData {

  /** What to generate: `rows` trades over `users` users in three tiers,
    * timestamps uniform over `days` days from `firstDay`.
    */
  final case class Spec(rows: Int, users: Int, firstDay: LocalDate, days: Int)

  /** The generator's own truth about a file it wrote. */
  final case class Truth(rows: Long, cleanRows: Long, groups: Long)

  val header = "timestamp,user_id,client_type,symbol,side,quantity,price"
  val tiers: IndexedSeq[String] = IndexedSeq("gold", "silver", "bronze")
  private val symbols = IndexedSeq("AAPL", "SPY", "QQQ", "MSFT", "GOOGL")
  private val basePriceCents = IndexedSeq(15700, 41100, 33000, 28000, 270000)
  val dirtRate: Double = 25.0 / 800.0

  /** The reference key space: 15 users (1001-1005 gold, 2001-2005 silver,
    * 3001-3005 bronze), 5 symbols, January to March 2023.
    */
  val reference: Spec = Spec(0, 15, LocalDate.of(2023, 1, 1), 90)

  /** User index `u` → (user id, tier index). Tiers are contiguous blocks
    * of ids `(tier + 1) * 10^k + i + 1`, which for 15 users reproduces the
    * reference's ids exactly.
    */
  def user(u: Int, users: Int): (Long, Int) = {
    val perTier = (users + 2) / 3
    val tier = u / perTier
    var scale = 1000L
    while (scale <= perTier) scale *= 10
    ((tier + 1) * scale + (u - tier * perTier) + 1, tier)
  }

  /** Write `spec.rows` trades plus the header to `path`. The same
    * (spec, seed) always gives the same bytes.
    */
  def write(path: String, spec: Spec, seed: Long): Truth = {
    require(spec.users >= 3 && spec.days >= 1 && spec.rows >= 0, s"bad spec $spec")
    val rnd = new java.util.Random(seed)
    val tmp = new File(path + ".tmp")
    val out = new BufferedOutputStream(new FileOutputStream(tmp), 1 << 20)
    val groups = new java.util.HashSet[java.lang.Long]()
    val dayText = (0 until spec.days).map(d => s"${spec.firstDay.plusDays(d.toLong)} ")
    // Monday-based week of each day, as an epoch day: date_trunc("week")
    val dayWeek = (0 until spec.days).map { d =>
      spec.firstDay.plusDays(d.toLong).`with`(DayOfWeek.MONDAY).toEpochDay
    }
    val userText = (0 until spec.users).map { u =>
      val (id, t) = user(u, spec.users)
      s",$id,${tiers(t)},"
    }
    val line = new java.lang.StringBuilder(96)
    var clean = 0L
    try {
      out.write((header + "\n").getBytes(US_ASCII))
      var i = 0
      while (i < spec.rows) {
        val u = rnd.nextInt(spec.users)
        val s = rnd.nextInt(symbols.size)
        val buy = rnd.nextBoolean()
        val day = rnd.nextInt(spec.days)
        val second = rnd.nextInt(86400)
        val qtyCents = 100 + rnd.nextInt(901)
        val base = basePriceCents(s)
        val priceCents = base * 95 / 100 + rnd.nextInt(base / 10 + 1)
        val dirt = if (rnd.nextDouble() < dirtRate) rnd.nextInt(5) else -1
        line.setLength(0)
        dirt match {
          case 0 => ()
          case 1 => line.append("not_a_date")
          case _ =>
            line.append(dayText(day))
            two(line, second / 3600).append(':')
            two(line, second / 60 % 60).append(':')
            two(line, second % 60)
        }
        line.append(userText(u))
        if (dirt != 2) line.append(symbols(s))
        line.append(if (buy) ",buy," else ",sell,")
        if (dirt != 3) cents(line, qtyCents)
        line.append(',')
        if (dirt != 4) cents(line, priceCents)
        line.append('\n')
        out.write(line.toString.getBytes(US_ASCII))
        if (dirt < 0) {
          clean += 1
          groups.add((dayWeek(day) * spec.users + u) * symbols.size + s)
        }
        i += 1
      }
    } finally out.close()
    if (!tmp.renameTo(new File(path)))
      throw new java.io.IOException(s"cannot move $tmp to $path")
    Truth(spec.rows.toLong, clean, groups.size.toLong)
  }

  private def two(b: java.lang.StringBuilder, v: Int): java.lang.StringBuilder =
    b.append((48 + v / 10).toChar).append((48 + v % 10).toChar)

  private def cents(b: java.lang.StringBuilder, c: Int): Unit = {
    b.append(c / 100).append('.')
    two(b, c % 100)
  }
}
