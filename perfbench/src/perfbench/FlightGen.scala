package perfbench

import java.time.LocalDate

import scala.collection.mutable

/** What one flight workload feeds the pipeline. */
final case class FlightParams(
    rowsPerRound: Int,
    dateSpreadDays: Int,
    invalidShare: Double,
    redeliveredShare: Double)

/** The results the pipeline must produce after a round, derived from
  * the generated rows alone. Fares are kept in exact cents. */
final case class FlightExpected(
    distinctRows: Long,
    distinctValidRows: Long,
    bookings: Map[String, Long],
    totalFareCents: Map[String, Long],
    baseFareCents: Map[String, Long])

/** Seeded generator of the reference's 17-column flight CSV. Airline,
  * airport and category names carry case and whitespace noise that the
  * cleaning stage folds back to one title-cased name. A fixed share of
  * each chunk's fresh rows is invalid (non-positive fare or duration,
  * dropped by the validity filter), and on request a share of each
  * chunk re-delivers rows of earlier chunks byte for byte. Every fresh
  * row is distinct from every earlier row. */
final class FlightGen(seed: Long, p: FlightParams) {
  import FlightGen._

  private val rng = new scala.util.Random(seed)
  private val seen = mutable.HashSet[String]()
  private val emitted = mutable.ArrayBuffer[String]()
  private var validRows = 0L
  private val bookings = mutable.Map[String, Long]().withDefaultValue(0L)
  private val totalCents = mutable.Map[String, Long]().withDefaultValue(0L)
  private val baseCents = mutable.Map[String, Long]().withDefaultValue(0L)

  private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.length))

  private def noisy(name: String): String = rng.nextInt(5) match {
    case 0 => name
    case 1 => name.toLowerCase
    case 2 => name.toUpperCase
    case 3 => s"  $name "
    case _ => name.toLowerCase + "  "
  }

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  /** One fresh row and, when it is valid, its airline and fares. */
  private def freshRow(invalid: Boolean): (String, Option[(String, Long, Long)]) = {
    val airline = pick(Airlines)
    val src = pick(Airports)
    var dst = pick(Airports)
    while (dst == src) dst = pick(Airports)
    val day = Epoch.plusDays(rng.nextInt(p.dateSpreadDays).toLong)
    val minute = rng.nextInt(24 * 60)
    val dep = f"$day ${minute / 60}%02d:${minute % 60}%02d:00"
    val durCents = 50 + rng.nextInt(1150)
    val arrMinute = minute + durCents * 60 / 100
    val arrDay = day.plusDays(arrMinute / (24 * 60))
    val arr = f"$arrDay ${arrMinute / 60 % 24}%02d:${arrMinute % 60}%02d:00"
    val baseC = 150000L + rng.nextInt(5000000)
    val taxC = baseC / 10 + rng.nextInt(20000)
    val (dur, total) =
      if (!invalid) (money(durCents), money(baseC + taxC))
      else rng.nextInt(3) match {
        case 0 => (money(durCents), "0")
        case 1 => (money(durCents), "--")
        case _ => ("-" + money(durCents), money(baseC + taxC))
      }
    val fields = Seq(
      noisy(airline), src._1, noisy(src._2), dst._1, noisy(dst._2), dep, arr, dur,
      pick(Stopovers), noisy(pick(Aircraft)), noisy(pick(Classes)), noisy(pick(Booking)),
      money(baseC), money(taxC), total, seasonOf(day), (1 + rng.nextInt(90)).toString)
    (fields.mkString(","), if (invalid) None else Some((airline, taxC + baseC, baseC)))
  }

  /** The next chunk of CSV lines (no header), and the expected results
    * once it has been loaded on top of every earlier chunk. */
  def nextChunk(): (Seq[String], FlightExpected) = {
    val redeliver =
      if (emitted.isEmpty) 0 else math.round(p.rowsPerRound * p.redeliveredShare).toInt
    val fresh = p.rowsPerRound - redeliver
    val invalid = math.round(fresh * p.invalidShare).toInt
    val lines = mutable.ArrayBuffer[String]()
    while (lines.size < fresh) {
      val (line, valid) = freshRow(invalid = lines.size < invalid)
      if (seen.add(line)) {
        lines += line
        valid.foreach { case (airline, total, base) =>
          validRows += 1
          bookings(airline) += 1
          totalCents(airline) += total
          baseCents(airline) += base
        }
      }
    }
    val old = IndexedSeq.fill(redeliver)(emitted(rng.nextInt(emitted.size)))
    emitted ++= lines
    val chunk = rng.shuffle(lines ++ old).toSeq
    (chunk, FlightExpected(seen.size.toLong, validRows, bookings.toMap,
      totalCents.toMap, baseCents.toMap))
  }
}

object FlightGen {
  val Header: String =
    "Airline,Source,Source Name,Destination,Destination Name," +
      "Departure Date & Time,Arrival Date & Time,Duration (hrs),Stopovers," +
      "Aircraft Type,Class,Booking Source,Base Fare (BDT)," +
      "Tax & Surcharge (BDT),Total Fare (BDT),Seasonality,Days Before Departure"

  /** Canonical names: what the cleaning stage's title-casing yields for
    * every noisy variant. */
  val Airlines: IndexedSeq[String] = IndexedSeq(
    "Biman Bangladesh", "Us-Bangla", "Novoair", "Air Astra",
    "Regent Airways", "Fly Dubai", "Air Arabia", "Singapore Airlines")
  val Airports: IndexedSeq[(String, String)] = IndexedSeq(
    "DAC" -> "Hazrat Shahjalal Intl", "CGP" -> "Shah Amanat Intl",
    "ZYL" -> "Osmani Intl", "CXB" -> "Coxs Bazar", "SPD" -> "Saidpur",
    "JSR" -> "Jashore", "BZL" -> "Barisal", "RJH" -> "Shah Makhdum")
  val Stopovers: IndexedSeq[String] = IndexedSeq(
    "Direct", "Non-stop", "direct", "1 Stop", "2 stops", "1 stop ")
  val Aircraft: IndexedSeq[String] = IndexedSeq("Boeing 737", "Atr 72", "Airbus A320", "Dash 8")
  val Classes: IndexedSeq[String] = IndexedSeq("Economy", "Business", "First Class")
  val Booking: IndexedSeq[String] = IndexedSeq("Online Website", "Travel Agency", "Direct Booking")
  val Epoch: LocalDate = LocalDate.of(2024, 1, 1)

  def seasonOf(d: LocalDate): String = d.getMonthValue match {
    case 12 | 1 | 2 => "Winter"
    case 3 | 4 => "Eid"
    case 6 | 7 => "Peak"
    case _ => "Regular"
  }
}
