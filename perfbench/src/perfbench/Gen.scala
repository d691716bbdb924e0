package perfbench

import scala.util.Random

/** Generated prose: words from a fixed Zipf-skewed vocabulary of random
  * syllables, with digits and punctuation at per-document rates (they move
  * the quality score). ASCII only, so characters and bytes coincide. */
object TextGen {
  private val Syllables = {
    val r = new Random(1234)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    Vector.fill(400)(s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}" +
      (if (r.nextBoolean()) cons(r.nextInt(cons.length)).toString else ""))
  }
  val Vocabulary: Vector[String] = {
    val r = new Random(4321)
    Vector.fill(30000)(Seq.fill(1 + r.nextInt(3))(Syllables(r.nextInt(Syllables.size))).mkString)
  }

  def word(rnd: Random): String = {
    val u = rnd.nextDouble()
    Vocabulary((Vocabulary.size * u * u * u).toInt)
  }

  /** About `n` characters of prose (never fewer). */
  def prose(rnd: Random, n: Int, punct: Double = 0.08, digits: Double = 0.02): String = {
    val b = new StringBuilder(n + 16)
    while (b.length < n) {
      if (b.nonEmpty) b.append(' ')
      if (rnd.nextDouble() < digits) b.append(rnd.nextInt(100000)) else b.append(word(rnd))
      if (rnd.nextDouble() < punct) b.append(if (rnd.nextInt(4) == 0) '.' else ',')
    }
    b.toString
  }
}

/** Order-event JSON messages, 200 B to 8 KB, and the totals of what they
  * hold, counted while they are written. Every double is a multiple of
  * 1/8 and small, so sums are exact in any order of addition. */
final class Totals {
  var rows, ids, tiers, ts, items, qty, firstQty, extra, bytes = 0L
  var amount, price, lat = 0.0
  def same(o: Totals): Boolean =
    rows == o.rows && ids == o.ids && tiers == o.tiers && ts == o.ts && items == o.items &&
      qty == o.qty && firstQty == o.firstQty && extra == o.extra && amount == o.amount &&
      price == o.price && lat == o.lat
  override def toString: String =
    s"rows=$rows ids=$ids tiers=$tiers ts=$ts items=$items qty=$qty firstQty=$firstQty " +
      s"extra=$extra amount=$amount price=$price lat=$lat"
}

object MessageGen {
  /** A share of messages carries a root field that the rest lack. */
  def hasExtra(id: Int): Boolean = id % 41 == 7

  def message(rnd: Random, id: Int, t: Totals): String = {
    val b = new StringBuilder(1024)
    val tier = rnd.nextInt(5)
    val lat = (2 * rnd.nextInt(700) - 699) / 8.0
    val lon = (2 * rnd.nextInt(1400) - 1399) / 8.0
    val amount = rnd.nextInt(100000) + (1 + rnd.nextInt(3)) / 4.0
    val ts = 1700000000000L + id * 1000L + rnd.nextInt(1000)
    b.append(s"""{"id":$id,"user":{"name":"user-${rnd.nextInt(50000)}","tier":$tier,""")
    b.append(s""""geo":{"lat":$lat,"lon":$lon}},"amount":$amount,"ts":$ts,"items":[""")
    val n = math.max(1, math.min(70, math.round(math.exp(rnd.nextGaussian() * 0.9 + 2.0)).toInt))
    var i = 0
    while (i < n) {
      val qty = 1 + rnd.nextInt(9)
      val price = rnd.nextInt(1000) + 0.5
      if (i > 0) b.append(',')
      b.append(s"""{"sku":${rnd.nextInt(1000000)},"qty":$qty,"price":$price,""")
      b.append(s""""note":"${TextGen.prose(rnd, 8 + rnd.nextInt(30))}"}""")
      t.qty += qty; t.price += price
      if (i == 0) t.firstQty += qty
      i += 1
    }
    b.append("""],"tags":[]""")
    if (hasExtra(id)) {
      b.append(s""","extra":{"flag":true,"code":${rnd.nextInt(1000)}}""")
      t.extra += 1
    }
    b.append('}')
    t.rows += 1; t.ids += id; t.tiers += tier; t.ts += ts; t.items += n
    t.amount += amount; t.lat += lat
    t.bytes += b.length
    b.toString
  }
}
