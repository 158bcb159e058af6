package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** One stock_price row (FIXTURES.md §1) in the form the benchmark checks
  * against: prices in cents, `None` for a cell that lands as NULL.
  */
final case class Quote(symbol: String, date: String, open: Option[Long], high: Long,
    low: Long, close: Long, volume: Long, adjClose: Long) {
  def key: (String, String) = (symbol, date)
}

/** Seeded input generator. Everything the engine sees is a file this class
  * wrote; everything the benchmark checks against is a value it computed
  * alongside, from the same seed, without running the engine.
  */
object Gen {
  val Header = "symbol,date,open,high,low,close,volume,adj_close"
  val Epoch: LocalDate = LocalDate.of(2017, 1, 2)
  def day(i: Int): String = Epoch.plusDays(i.toLong).toString

  def cents(c: Long): String = f"${c / 100}.${c % 100}%02d"

  /** `n` distinct upper-case tickers, never FAX or AXN (those two carry
    * fixture semantics and are injected at fixed shares).
    */
  def symbols(rng: SplittableRandom, n: Int): IndexedSeq[String] = {
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n) {
      val len = 3 + rng.nextInt(2)
      val s = new String(Array.fill(len)(('A' + rng.nextInt(26)).toChar))
      if (s != "FAX" && s != "AXN") out += s
    }
    out.toIndexedSeq
  }

  def randomQuote(rng: SplittableRandom, symbol: String, date: String): Quote = {
    val close = 100L + rng.nextInt(99900)
    val open = math.max(100L, close + rng.nextInt(401) - 200)
    val high = math.max(open, close) + rng.nextInt(200)
    val low = math.max(100L, math.min(open, close) - rng.nextInt(200))
    Quote(symbol, date, Some(open), high, low, close, 100L + rng.nextInt(5000000), close)
  }

  def csvLine(q: Quote): String =
    Seq(q.symbol, q.date, q.open.map(cents).getOrElse(""), cents(q.high), cents(q.low),
      cents(q.close), q.volume.toString, cents(q.adjClose)).mkString(",")

  def writeCsv(path: Path, lines: Iterable[String]): Long = {
    val sb = new java.lang.StringBuilder(Header).append('\n')
    lines.foreach(l => sb.append(l).append('\n'))
    val bytes = sb.toString.getBytes(UTF_8)
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
    bytes.length.toLong
  }

  /** Canonical text of one landed row; the benchmark renders the engine's
    * table to the same text in SQL (see [[Check.imageSql]]).
    */
  def canon(fields: Seq[Option[Any]]): String =
    fields.map(_.fold("\\N")(_.toString)).mkString("|")

  def quoteCanon(q: Quote): String =
    canon(Seq(Some(q.symbol), Some(q.date), q.open, Some(q.high), Some(q.low),
      Some(q.close), Some(q.volume), Some(q.adjClose)))
}

/** Order-free hash of a table image: the row count plus the sums of the
  * first two 32-bit words of each row's SHA-256 over its canonical text.
  * Sums, unlike a sorted digest, update in place as rows come and go, and
  * SQL computes the same triple without collecting the table.
  */
final class ImageHash {
  var rows = 0L
  var a = 0L
  var b = 0L
  private def words(canon: String): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(canon.getBytes(UTF_8))
    def w(o: Int) = ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
    (w(0), w(4))
  }
  def add(canon: String): Unit = { val (x, y) = words(canon); rows += 1; a += x; b += y }
  def remove(canon: String): Unit = { val (x, y) = words(canon); rows -= 1; a -= x; b -= y }
  def value: (Long, Long, Long) = (rows, a, b)
}

// ---------------------------------------------------------------------------
// land_transform
// ---------------------------------------------------------------------------

/** What one CSV landing must produce, computed from its raw lines. */
final case class LandingExpect(rowsWritten: Long, dqWarnings: Long, dedupRemoved: Long,
    landed: Seq[Quote])

/** Stock_price landings with fixed shares of exact-duplicate rows,
  * DQ-violating cells, `FAX` rows (the transform drops them) and `AXN` rows
  * (the JS row rule flags them). Landing 0 is the table's history, spread
  * over `historyDays` days; landing `i` after it carries the next day's
  * quotes plus a share of late quotes for the day before, so each append
  * touches two `date` partitions.
  */
final class LandingGen(seed: Long, val rowsPerLanding: Int, val historyDays: Int) {
  val DupShare = 0.02
  val DqShare = 0.02
  val FaxShare = 0.01
  val AxnShare = 0.01
  val LateShare = 0.1

  /** The DQ rules the landing spec declares: a full-match regex per column. */
  val ColumnRules: Seq[(String, String)] = Seq(
    "symbol" -> "^[a-zA-Z]+$",
    "date" -> "^[0-9]{4}-[0-9]{2}-[0-9]{2}$",
    "open" -> "^(?:0|[1-9][0-9]*)\\.[0-9]+$",
    "high" -> "^(?:0|[1-9][0-9]*)\\.[0-9]+$",
    "low" -> "^(?:0|[1-9][0-9]*)\\.[0-9]+$",
    "close" -> "^(?:0|[1-9][0-9]*)\\.[0-9]+$",
    "volume" -> "^[0-9]+$",
    "adj_close" -> "^(?:0|[1-9][0-9]*)\\.[0-9]+$")
  private val compiled = ColumnRules.map { case (_, re) =>
    java.util.regex.Pattern.compile("\\A(?:" + re + ")\\z") }

  private val universe = Gen.symbols(new SplittableRandom(seed), 2000)

  /** Raw CSV lines of landing `i` (header excluded). */
  def lines(i: Int): IndexedSeq[String] = {
    val rng = new SplittableRandom(seed * 1000003L + i)
    val out = new mutable.ArrayBuffer[String](rowsPerLanding)
    while (out.size < rowsPerLanding) {
      if (out.nonEmpty && rng.nextDouble() < DupShare) out += out(rng.nextInt(out.size))
      else {
        val u = rng.nextDouble()
        val sym =
          if (u < FaxShare) "FAX"
          else if (u < FaxShare + AxnShare) "AXN"
          else universe(rng.nextInt(universe.size))
        val date = Gen.day(
          if (i == 0) rng.nextInt(historyDays)
          else historyDays - 1 + i - (if (rng.nextDouble() < LateShare) 1 else 0))
        val q = Gen.randomQuote(rng, sym, date)
        out += (if (rng.nextDouble() < DqShare) violate(rng, q) else Gen.csvLine(q))
      }
    }
    out.toIndexedSeq
  }

  /** One DQ-violating cell, of a kind whose landed value is well defined:
    * an empty `open` (lands NULL), a ticker with a digit, or a `high` with
    * no decimals (lands as that whole number).
    */
  private def violate(rng: SplittableRandom, q: Quote): String = rng.nextInt(3) match {
    case 0 => Gen.csvLine(q.copy(open = None))
    case 1 => Gen.csvLine(q.copy(symbol = q.symbol.toLowerCase + rng.nextInt(10)))
    case _ =>
      val c = Gen.csvLine(q).split(",", -1)
      c(3) = (q.high / 100).toString
      c.mkString(",")
  }

  def expect(lines: IndexedSeq[String]): LandingExpect = {
    var warnings = 0L
    lines.foreach { l =>
      val cells = l.split(",", -1)
      cells.indices.foreach(j => if (!compiled(j).matcher(cells(j)).matches()) warnings += 1)
      if (cells(0) == "AXN") warnings += 1 // the JS row rule
    }
    val distinct = lines.distinct
    val landed = distinct.map(parse).filterNot(_.symbol == "FAX")
    LandingExpect(landed.size.toLong, warnings, (lines.size - distinct.size).toLong, landed)
  }

  private def parse(l: String): Quote = {
    val c = l.split(",", -1)
    def money(s: String): Long =
      if (s.contains('.')) s.replace(".", "").toLong else s.toLong * 100
    Quote(c(0), c(1), if (c(2).isEmpty) None else Some(money(c(2))), money(c(3)),
      money(c(4)), money(c(5)), c(6).toLong, money(c(7)))
  }

  /** A landed row as the transform leaves it: adj_close + 1.0, plus `year`
    * (from the pipeline timestamp) and `mynewcolumn = 100.0`.
    */
  def landedCanon(q: Quote, year: Int): String =
    Gen.canon(Seq(Some(q.symbol), Some(q.date), q.open, Some(q.high), Some(q.low),
      Some(q.close), Some(q.volume), Some(q.adjClose + 100), Some(year.toString),
      Some(10000L)))
}

// ---------------------------------------------------------------------------
// upsert_query
// ---------------------------------------------------------------------------

/** A keyed table (`symbol`, `date`) seeded with `seedDays` days of quotes at
  * [[Density]], then MERGE batches with a fixed update share that touch the
  * newest days only: each batch updates keys in the newest [[WindowDays]]
  * days and inserts keys missing there, opening a new day when the window
  * runs out of missing keys.
  */
final class UpsertGen(seed: Long, val nSymbols: Int, val seedDays: Int, val batchRows: Int) {
  val Density = 0.7
  val UpdateShare = 0.7
  val WindowDays = 3

  private val rng = new SplittableRandom(seed)
  val universe: IndexedSeq[String] = Gen.symbols(rng, nSymbols)
  /** The table image the engine should hold after every batch so far. */
  val model = mutable.HashMap[(String, String), Quote]()
  val image = new ImageHash
  private var lastDay = seedDays - 1

  private def put(q: Quote): Unit = {
    model.put(q.key, q).foreach(old => image.remove(Gen.quoteCanon(old)))
    image.add(Gen.quoteCanon(q))
  }

  def seedRows(): IndexedSeq[Quote] = {
    val rows = for (d <- 0 until seedDays; s <- universe if rng.nextDouble() < Density)
      yield Gen.randomQuote(rng, s, Gen.day(d))
    rows.foreach(put)
    rows
  }

  private def window: Seq[String] = (lastDay - WindowDays + 1 to lastDay).map(Gen.day)

  /** The next MERGE landing's rows, applied to [[model]]. */
  def nextBatch(): IndexedSeq[Quote] = {
    val nUpd = math.round(batchRows * UpdateShare).toInt
    val nIns = batchRows - nUpd
    def missing = for (d <- window; s <- universe if !model.contains((s, d))) yield (s, d)
    var gaps = missing
    while (gaps.size < nIns) { lastDay += 1; gaps = missing }
    val present = for (d <- window; s <- universe if model.contains((s, d))) yield (s, d)
    val upd = pick(present.toIndexedSeq, nUpd)
    val ins = pick(gaps.toIndexedSeq, nIns)
    val rows = (upd ++ ins).map { case (s, d) => Gen.randomQuote(rng, s, d) }
    rows.foreach(put)
    rows
  }

  private def pick[T](xs: IndexedSeq[T], n: Int): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    val k = math.min(n, a.length)
    (0 until k).foreach { i =>
      val j = i + rng.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(k).toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

/** The four read types of the mix, each with its SQL over the table and its
  * answer computed from a table image.
  */
sealed trait Read {
  def kind: String
  def sql(table: String): String
  def answer(image: Iterable[Quote]): String
}

object Read {
  val Kinds: Seq[String] = Seq("point", "meta", "range", "scan")

  /** A read of type `kind` over a table holding `image`: a random present
    * key, or five days ending at one of the newest three.
    */
  def draw(kind: String, rng: SplittableRandom, image: IndexedSeq[Quote]): Read = kind match {
    case "point" => val q = image(rng.nextInt(image.size)); Point(q.symbol, q.date)
    case "meta" => Meta
    case "range" =>
      val days = image.map(_.date).distinct.sorted
      val hi = days.size - 1 - rng.nextInt(math.min(3, days.size))
      Range(days(math.max(0, hi - 4)), days(hi))
    case _ => Scan(10)
  }

  private def c(col: String) = s"cast(round($col * 100) as bigint)"

  final case class Point(symbol: String, date: String) extends Read {
    def kind = "point"
    def sql(t: String) =
      s"SELECT symbol, date, ${c("open")}, ${c("high")}, ${c("low")}, ${c("close")}, " +
        s"volume, ${c("adj_close")} FROM $t WHERE symbol = '$symbol' AND date = '$date'"
    def answer(img: Iterable[Quote]) =
      img.filter(q => q.symbol == symbol && q.date == date).map(Gen.quoteCanon)
        .toSeq.sorted.mkString("\n")
  }

  case object Meta extends Read {
    def kind = "meta"
    def sql(t: String) = s"SELECT count(*), min(date), max(date) FROM $t"
    def answer(img: Iterable[Quote]) =
      Gen.canon(Seq(Some(img.size.toLong), Some(img.map(_.date).min), Some(img.map(_.date).max)))
  }

  final case class Range(lo: String, hi: String) extends Read {
    def kind = "range"
    def sql(t: String) =
      s"SELECT count(*), sum(volume), max(${c("close")}) FROM $t " +
        s"WHERE date BETWEEN '$lo' AND '$hi'"
    def answer(img: Iterable[Quote]) = {
      val in = img.filter(q => q.date >= lo && q.date <= hi)
      Gen.canon(Seq(Some(in.size.toLong), in.headOption.map(_ => in.map(_.volume).sum),
        in.headOption.map(_ => in.map(_.close).max)))
    }
  }

  final case class Scan(k: Int) extends Read {
    def kind = "scan"
    def sql(t: String) =
      s"SELECT symbol, sum(volume) AS v FROM $t GROUP BY symbol " +
        s"ORDER BY v DESC, symbol LIMIT $k"
    def answer(img: Iterable[Quote]) =
      img.groupMapReduce(_.symbol)(_.volume)(_ + _).toSeq
        .sortBy { case (s, v) => (-v, s) }.take(k)
        .map { case (s, v) => Gen.canon(Seq(Some(s), Some(v))) }.mkString("\n")
  }
}

// ---------------------------------------------------------------------------
// cdc_stream
// ---------------------------------------------------------------------------

/** Debezium change events against a keyed, `date`-partitioned table: a fixed
  * mix of inserts, updates and deletes whose keys are skewed toward the
  * newest days (day `newest - k` with weight 2^-k), so each micro-batch
  * touches a few partitions. `ts_ms` is the event's position in the stream,
  * which makes the engine's last-event-per-key order the generation order.
  */
final class CdcGen(seed: Long, val nSymbols: Int, val days: Int) {
  val InsertShare = 0.25
  val DeleteShare = 0.15

  private val rng = new SplittableRandom(seed)
  val universe: IndexedSeq[String] = Gen.symbols(rng, nSymbols)
  val model = mutable.HashMap[(String, String), Quote]()
  val image = new ImageHash
  // per-day key lists for O(1) draws of present / missing keys
  private val present = Array.fill(days)(new KeySet)
  private val missing = Array.fill(days)(new KeySet)
  private var seq = 0L

  def seedRows(): IndexedSeq[Quote] = {
    val rows = for (d <- 0 until days; s <- universe) yield {
      if (rng.nextDouble() < 0.7) {
        val q = Gen.randomQuote(rng, s, Gen.day(d))
        model(q.key) = q; image.add(Gen.quoteCanon(q)); present(d).add(s); Some(q)
      } else { missing(d).add(s); None }
    }
    rows.flatten
  }

  private def skewedDay(): Int = {
    var k = 0
    while (k < days - 1 && rng.nextBoolean()) k += 1
    days - 1 - k
  }

  /** The next `n` envelopes, one JSON document per line. */
  def nextEvents(n: Int): IndexedSeq[String] = (0 until n).map { _ =>
    val d = skewedDay()
    val u = rng.nextDouble()
    seq += 1
    if ((u < InsertShare || present(d).isEmpty) && !missing(d).isEmpty) {
      val s = missing(d).take(rng); present(d).add(s)
      val q = Gen.randomQuote(rng, s, Gen.day(d))
      model(q.key) = q; image.add(Gen.quoteCanon(q))
      CdcGen.envelope("c", None, Some(q), seq)
    } else if (u < InsertShare + DeleteShare && present(d).size > 1) {
      val s = present(d).take(rng); missing(d).add(s)
      val old = model.remove((s, Gen.day(d))).get
      image.remove(Gen.quoteCanon(old))
      CdcGen.envelope("d", Some(old), None, seq)
    } else {
      val s = present(d).sample(rng)
      val old = model((s, Gen.day(d)))
      val q = Gen.randomQuote(rng, s, Gen.day(d))
      model(q.key) = q; image.remove(Gen.quoteCanon(old)); image.add(Gen.quoteCanon(q))
      CdcGen.envelope("u", Some(old), Some(q), seq)
    }
  }
}

object CdcGen {
  private def image(q: Quote): String =
    Seq("symbol" -> q.symbol, "date" -> q.date, "open" -> Gen.cents(q.open.get),
      "high" -> Gen.cents(q.high), "low" -> Gen.cents(q.low), "close" -> Gen.cents(q.close),
      "volume" -> q.volume.toString, "adj_close" -> Gen.cents(q.adjClose))
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")

  def envelope(op: String, before: Option[Quote], after: Option[Quote], seq: Long): String =
    s"""{"payload":{"op":"$op","before":${before.fold("null")(image)},""" +
      s""""after":${after.fold("null")(image)},""" +
      s""""source":{"db":"bench","schema":"public","table":"stock_price"},"ts_ms":$seq}}"""
}

/** A string set with O(1) add, remove-random and sample-random. */
private final class KeySet {
  private val items = mutable.ArrayBuffer[String]()
  private val index = mutable.HashMap[String, Int]()
  def size: Int = items.size
  def isEmpty: Boolean = items.isEmpty
  def add(s: String): Unit = if (!index.contains(s)) { index(s) = items.size; items += s }
  def sample(rng: SplittableRandom): String = items(rng.nextInt(items.size))
  def take(rng: SplittableRandom): String = {
    val i = rng.nextInt(items.size)
    val s = items(i)
    val last = items.remove(items.size - 1)
    if (i < items.size) { items(i) = last; index(last) = i }
    index.remove(s)
    s
  }
}
