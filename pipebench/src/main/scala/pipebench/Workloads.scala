package pipebench

import graft.streaming.CdcStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One read the benchmark issued, with what came back. */
final case class ReadDone(read: Read, got: String, expected: () => String)

/** Samples and outcomes of one measured pass over a fresh lake. */
final class Pass(val tracer: Option[Tracer]) {
  /** Seconds per write: landing or merge latency, or event freshness. */
  val writeLat = ArrayBuffer[Double]()
  var writeRows = 0L
  var writeWallS = 0.0
  /** Generated bytes the engine consumed: seed table plus timed inputs. */
  var sourceBytes = 0L
  val readMs = mutable.LinkedHashMap(Read.Kinds.map(_ -> ArrayBuffer[Double]()): _*)
  val reads = ArrayBuffer[ReadDone]()
  var attempted = 0L
  val failures = ArrayBuffer[String]()
  var windowStart = 0L
  var windowEnd = 0L
  var lakeBytes = 0L
  val report = mutable.LinkedHashMap[String, Any]()
  // traced only
  val writeSpans = ArrayBuffer[Span]()
  val readSpans = mutable.LinkedHashMap(Read.Kinds.map(_ -> ArrayBuffer[(Span, Span, Long, Long)]()): _*)
  /** Data files each commit added, as listed around it. */
  val commitFiles = ArrayBuffer[Int]()
  var tableDir: Path = _
  var batches: Seq[Batch] = Nil

  def fail(msg: String): Unit = { failures += msg; System.err.println(s"[pipebench] FAIL $msg") }
  def failed: Long = failures.size.toLong
}

/** One micro-batch of the stream, from its progress report. */
final case class Batch(id: Long, startMs: Long, endMs: Long, rows: Long, durations: Map[String, Long])

/** A workload: its generated inputs, how it seeds and warms the engine, and
  * the closed or open loop it measures.
  */
abstract class Workload(val seed: Long, val work: Path) {
  def name: String
  val inputs: Path = work.resolve("inputs")
  var inputRows = 0L
  var inputBytes = 0L

  def generate(seconds: Int): Unit
  /** Seed the workload's table in an empty `lake`, then warm up: one
    * untimed round of the workload's own operations on them.
    */
  def setup(spark: SparkSession, lake: Path): Unit
  /** Length of an untimed pass, from a set-up of its own, before the timed
    * one: 0 when the set-up's warm-up round leaves the timed samples flat.
    */
  def warmSeconds(seconds: Int): Int = 0
  def measure(spark: SparkSession, seconds: Int, pass: Pass): Unit
  /** Compare the final table with the generator's image. */
  def checkImage(spark: SparkSession, pass: Pass): Unit
  /** The table the workload writes and reads. */
  def table: String
  /** Stop anything the workload left running. */
  def close(): Unit = ()

  protected def noteInput(path: Path, rows: Long): Path = {
    inputRows += rows
    inputBytes += Files.size(path)
    path
  }

  protected def timedWrite(pass: Pass, name: String, rows: Long, bytes: Long, dir: Path)
      (body: => Unit): Unit = {
    pass.attempted += 1
    val before = pass.tracer.map(_ => Engine.dataFiles(dir))
    val t0 = System.nanoTime()
    try {
      pass.tracer match {
        case Some(tr) => tr.span(name, "runtime") { s => body; pass.writeSpans += s }
        case None => body
      }
      pass.writeLat += (System.nanoTime() - t0) / 1e9
      pass.writeRows += rows
      pass.sourceBytes += bytes
    } catch { case e: Exception => pass.fail(s"$name: $e") }
    before.foreach(b => pass.commitFiles += Engine.dataFiles(dir).diff(b).size)
  }

  /** Issue one read the way a user would: plan it, then run it. */
  protected def timedRead(spark: SparkSession, table: String, r: Read, pass: Pass,
      expected: () => String): Unit = {
    pass.attempted += 1
    val t0 = System.nanoTime()
    try {
      val got = pass.tracer match {
        case None =>
          val df = spark.sql(r.sql(table))
          df.queryExecution.executedPlan
          df.collect()
        case Some(tr) =>
          tr.span("read." + r.kind, "plans") { readSpan =>
            val (df, planSpan) = tr.span("plan." + r.kind, "plans") { planSpan =>
              val df = spark.sql(r.sql(table))
              df.queryExecution.executedPlan
              (df, planSpan)
            }
            val rows = df.collect()
            pass.readSpans(r.kind) += ((readSpan, planSpan, rows.length.toLong,
              Workload.filesScanned(df.queryExecution.executedPlan)))
            rows
          }
      }
      pass.readMs(r.kind) += (System.nanoTime() - t0) / 1e6
      pass.reads += ReadDone(r, Engine.answerOf(got, r.kind == "scan"), expected)
    } catch { case e: Exception => pass.fail(s"read ${r.kind}: $e") }
  }

  /** `n` reads of the fixed mix, in turn, over a table whose image is
    * `model`; a pass of `None` runs them untimed and unchecked. Timed reads
    * follow an untimed round of other reads: after a run of writes the read
    * path is still cold in the JIT.
    */
  protected def readPhase(spark: SparkSession, table: String, model: Iterable[Quote],
      pass: Option[Pass], n: Int = Workload.ReadsAfter): Unit = {
    val image = model.toVector
    def draw(rng: SplittableRandom, k: Int) =
      (0 until k).map(i => Read.draw(Read.Kinds(i % Read.Kinds.size), rng, image))
    def untimed(r: Read): Unit = spark.sql(r.sql(table)).collect()
    pass match {
      case None => draw(new SplittableRandom(seed ^ 0x5eadL), n).foreach(untimed)
      case Some(p) =>
        val warm = draw(new SplittableRandom(seed ^ 0x3a3aL), Workload.ReadsWarm)
        p.tracer match {
          case Some(tr) => tr.span("read.warm", "plans")(_ => warm.foreach(untimed))
          case None => warm.foreach(untimed)
        }
        draw(new SplittableRandom(seed ^ 0x5eadL), n)
          .foreach(r => timedRead(spark, table, r, p, () => r.answer(image)))
    }
  }
}

/** The output checks: each mismatch is one failed operation of the pass. */
object Check {
  def image(pass: Pass, what: String, got: (Long, Long, Long), want: (Long, Long, Long)): Unit = {
    pass.attempted += 1
    if (got != want) pass.fail(s"$what image mismatch: table $got, expected $want")
  }

  def reads(pass: Pass, done: Seq[ReadDone]): Unit = done.foreach { r =>
    val want = r.expected()
    if (r.got != want)
      pass.fail(s"read ${r.read}: got [${r.got.take(200)}], expected [${want.take(200)}]")
  }
}

object Workload {
  def apply(name: String, seed: Long, work: Path): Workload = name match {
    case "land_transform" => new LandTransform(seed, work)
    case "upsert_query" => new UpsertQuery(seed, work)
    case "cdc_stream" => new CdcStreamWorkload(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val Names: Seq[String] = Seq("land_transform", "upsert_query", "cdc_stream")
  /** Reads after the timed writes of the workloads that do not interleave
    * them: twelve of each type.
    */
  val ReadsAfter = 48
  /** Untimed reads before those. */
  val ReadsWarm = 16

  def filesScanned(plan: SparkPlan): Long = {
    def go(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => go(q.plan)
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case o => o.children.map(go).sum + o.subqueries.map(go).sum
    }
    go(plan)
  }

  def dropDb(spark: SparkSession, db: String): Unit =
    graft.model.InternalDdl.run(spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"): Unit)
}

// ---------------------------------------------------------------------------

/** Closed loop, one client: CSV landings through header check, DQ, dedup
  * and the JS transform, appended to a `date`-partitioned table; then the
  * read mix over what landed. The table stays below 32 partitions, the size
  * at which Spark starts listing files with a job, so reads plan alike.
  */
final class LandTransform(seed: Long, work: Path) extends Workload(seed, work) {
  def name = "land_transform"
  val RowsPerLanding = 4000
  val HistoryDays = 2
  private val gen = new LandingGen(seed, RowsPerLanding, HistoryDays)
  private var files = IndexedSeq.empty[Path]
  private var expects = IndexedSeq.empty[LandingExpect]
  private var lake: Path = _
  /** Landings committed so far, and the year each one's transform stamped. */
  private val years = ArrayBuffer[Int]()
  def table = s"${Engine.Db}.stock_price"
  private def spec = Engine.landingSpec(lake, Engine.Db, "stock_price", gen.ColumnRules)

  def generate(seconds: Int): Unit = {
    // landing 0 seeds the table, landing 1 warms up; then more landings
    // than a run takes at 0.25 s each
    val out = (0 to 1 + seconds * 4).map { i =>
      val lines = gen.lines(i)
      val f = inputs.resolve(f"stock_price.bench.$i%05d.dataset.csv")
      Gen.writeCsv(f, lines)
      (noteInput(f, lines.size), gen.expect(lines))
    }
    files = out.map(_._1); expects = out.map(_._2)
  }

  private def land(spark: SparkSession, i: Int): Unit = {
    years += java.time.Year.now().getValue
    val (r, e) = (Engine.land(spark, spec, files(i)), expects(i))
    if (r.rowsWritten != e.rowsWritten || r.dqWarnings != e.dqWarnings ||
      r.dedupRemoved != e.dedupRemoved)
      throw new IllegalStateException(s"landing $i reported (rows ${r.rowsWritten}, " +
        s"dq ${r.dqWarnings}, dedup ${r.dedupRemoved}), expected (${e.rowsWritten}, " +
        s"${e.dqWarnings}, ${e.dedupRemoved})")
  }

  def setup(spark: SparkSession, lake: Path): Unit = {
    this.lake = lake
    years.clear()
    land(spark, 0)
    land(spark, 1)
    readPhase(spark, table, model, None, Read.Kinds.size)
  }

  def measure(spark: SparkSession, seconds: Int, pass: Pass): Unit = {
    val dir = lake.resolve(Engine.Db).resolve("stock_price")
    pass.tableDir = dir
    pass.sourceBytes += Files.size(files(0)) + Files.size(files(1))
    val t0 = System.nanoTime()
    val writeEnd = t0 + seconds * 1000000000L
    var i = 2
    while (System.nanoTime() < writeEnd && i < files.size) {
      timedWrite(pass, "landing", RowsPerLanding, Files.size(files(i)), dir)(land(spark, i))
      i += 1
    }
    pass.writeWallS = (System.nanoTime() - t0) / 1e9
    readPhase(spark, table, model, Some(pass))
  }

  private def model: Iterable[Quote] =
    years.indices.flatMap(i => expects(i).landed.map(q => q.copy(adjClose = q.adjClose + 100)))

  def checkImage(spark: SparkSession, pass: Pass): Unit = {
    val h = new ImageHash
    years.indices.foreach(i => expects(i).landed.foreach(q => h.add(gen.landedCanon(q, years(i)))))
    Check.image(pass, name, Engine.imageOf(spark, table, Engine.LandedCols), h.value)
  }
}

// ---------------------------------------------------------------------------

/** One MERGE landing of `upsert_query`, the reads that follow it with their
  * answers, and the table image after it.
  */
final case class Cycle(file: Path, rows: Int, reads: Seq[(Read, String)],
    image: (Long, Long, Long))

/** Closed loop, one client: keyed MERGE landings into a seeded table, each
  * followed by one read of every type of the fixed mix.
  */
final class UpsertQuery(seed: Long, work: Path) extends Workload(seed, work) {
  def name = "upsert_query"
  val Symbols = 800
  val SeedDays = 12
  val BatchRows = 800
  /** Rounds of the read mix after each MERGE. */
  val ReadRounds = 2

  private var seedFile: Path = _
  private var cycles = IndexedSeq.empty[Cycle]
  /** Cycles committed so far. */
  private var done = 0
  private var lake: Path = _
  def table = s"${Engine.Db}.quotes"
  private def spec = Engine.mergeSpec(lake, Engine.Db, "quotes")

  def generate(seconds: Int): Unit = {
    val g = new UpsertGen(seed, Symbols, SeedDays, BatchRows)
    val rng = new SplittableRandom(seed ^ 0x5eadL)
    seedFile = inputs.resolve("quotes.seed.dataset.csv")
    val seedRows = g.seedRows()
    Gen.writeCsv(seedFile, seedRows.map(Gen.csvLine))
    noteInput(seedFile, seedRows.size.toLong)
    // cycle 0 warms up; then more cycles than a run takes at 0.25 s each
    cycles = (0 to seconds * 4).map { k =>
      val rows = g.nextBatch()
      val f = inputs.resolve(f"quotes.merge.$k%05d.dataset.csv")
      Gen.writeCsv(f, rows.map(Gen.csvLine))
      noteInput(f, rows.size.toLong)
      val image = g.model.values.toVector
      val reads = Seq.fill(ReadRounds)(Read.Kinds).flatten.map { kind =>
        val r = Read.draw(kind, rng, image)
        (r, r.answer(image))
      }
      Cycle(f, rows.size, reads, g.image.value)
    }
  }

  private def merge(spark: SparkSession, k: Int): Unit = {
    val r = Engine.land(spark, spec, cycles(k).file)
    if (r.rowsWritten != cycles(k).rows)
      throw new IllegalStateException(
        s"merge $k reported ${r.rowsWritten} rows, expected ${cycles(k).rows}")
    done = k + 1
  }

  def setup(spark: SparkSession, lake: Path): Unit = {
    this.lake = lake
    done = 0
    Engine.land(spark, spec, seedFile)
    merge(spark, 0)
    cycles(0).reads.foreach { case (r, _) => spark.sql(r.sql(table)).collect() }
  }

  /** The JIT is still compiling the MERGE and read paths well after one
    * round: without this pass the timed merges trend down by 20 %.
    */
  override def warmSeconds(seconds: Int): Int = math.min(8, seconds)

  def measure(spark: SparkSession, seconds: Int, pass: Pass): Unit = {
    val dir = lake.resolve(Engine.Db).resolve("quotes")
    pass.tableDir = dir
    pass.sourceBytes += Files.size(seedFile) + Files.size(cycles(0).file)
    val t0 = System.nanoTime()
    val end = t0 + seconds * 1000000000L
    var writeNs = 0L
    while (System.nanoTime() < end && done < cycles.size) {
      val (k, c) = (done, cycles(done))
      val w0 = System.nanoTime()
      timedWrite(pass, "merge", c.rows, Files.size(c.file), dir)(merge(spark, k))
      writeNs += System.nanoTime() - w0
      c.reads.foreach { case (r, want) => timedRead(spark, table, r, pass, () => want) }
      if (done == k) done = k + 1 // a failed merge still moves the loop on
    }
    // merged rows per second of the whole closed loop, reads included
    pass.writeWallS = (System.nanoTime() - t0) / 1e9
    pass.report("merge.share_of_wall") = writeNs / 1e9 / pass.writeWallS
  }

  def checkImage(spark: SparkSession, pass: Pass): Unit =
    Check.image(pass, name, Engine.imageOf(spark, table, Engine.QuoteCols),
      cycles(done - 1).image)
}

// ---------------------------------------------------------------------------

/** Open loop: Debezium envelope files dropped at a fixed event rate into the
  * directory a `CdcStream` consumes on a processing-time trigger; then the
  * read mix over the table the stream kept current.
  */
final class CdcStreamWorkload(seed: Long, work: Path) extends Workload(seed, work) {
  def name = "cdc_stream"
  val Symbols = 400
  val Days = 16
  val EventsPerSecond = 200
  val TickMs = 250
  val TriggerMs = 2000
  /** Where in the trigger interval the first timed file lands: mid-tick,
    * clear of the trigger's own instant.
    */
  val TriggerPhaseMs = 125
  private val eventsPerFile = EventsPerSecond * TickMs / 1000

  private var seedFile: Path = _
  /** Envelope files; file 0 warms up, the rest are timed. */
  private var files = IndexedSeq.empty[Path]
  private var finalImage = (0L, 0L, 0L)
  private var finalModel = Vector.empty[Quote]
  private var lake: Path = _
  private var query: StreamingQuery = _
  private var envDir: Path = _
  def table = s"${Engine.Db}.quotes"

  def generate(seconds: Int): Unit = {
    val g = new CdcGen(seed, Symbols, Days)
    seedFile = inputs.resolve("quotes.seed.dataset.csv")
    val seedRows = g.seedRows()
    Gen.writeCsv(seedFile, seedRows.map(Gen.csvLine))
    noteInput(seedFile, seedRows.size.toLong)
    val dir = inputs.resolve("events")
    Files.createDirectories(dir)
    files = (0 to seconds * 1000 / TickMs).map { k =>
      val f = dir.resolve(f"$k%06d.json")
      Files.write(f, g.nextEvents(eventsPerFile).mkString("", "\n", "\n").getBytes("UTF-8"))
      noteInput(f, eventsPerFile.toLong)
    }
    finalImage = g.image.value
    finalModel = g.model.values.toVector
  }

  def setup(spark: SparkSession, lake: Path): Unit = {
    this.lake = lake
    Engine.land(spark, Engine.mergeSpec(lake, Engine.Db, "quotes"), seedFile)
    envDir = lake.resolveSibling(lake.getFileName.toString + "-envelopes")
    Files.createDirectories(envDir)
    query = CdcStream.start(spark, envDir.toString,
      Engine.mergeSpec(lake, Engine.Db, "quotes").destination.objectStore.get, Engine.Keys,
      lake.resolveSibling(lake.getFileName.toString + "-checkpoint").toString,
      Trigger.ProcessingTime(TriggerMs.toLong))
    Files.copy(files(0), envDir.resolve(files(0).getFileName))
    query.processAllAvailable()
    readPhase(spark, table, finalModel, None, Read.Kinds.size)
  }

  def measure(spark: SparkSession, seconds: Int, pass: Pass): Unit = {
    val dir = lake.resolve(Engine.Db).resolve("quotes")
    pass.tableDir = dir
    pass.sourceBytes += Files.size(seedFile) + Files.size(files(0))
    census = pass.tracer.map(_ => new Census(dir))
    census.foreach(spark.streams.addListener)
    val staging = envDir.resolveSibling(envDir.getFileName.toString + "-staging")
    Files.createDirectories(staging)
    val dueMs = new Array[Long](files.size)
    val lateMs = new Array[Long](files.size)
    // start on a fixed phase of the trigger, which Spark fires on multiples
    // of its interval: otherwise a run's freshness depends on where in the
    // interval its first file happened to land
    Thread.sleep(Math.floorMod(TriggerPhaseMs - System.currentTimeMillis(), TriggerMs.toLong))
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // the open-loop generator: timed file k is due at t0 + (k - 1) * tick,
    // whether or not the stream has caught up
    (1 until files.size).foreach { k =>
      dueMs(k) = t0Ms + (k - 1L) * TickMs
      val wait = t0 + (k - 1L) * TickMs * 1000000L - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val tmp = staging.resolve(files(k).getFileName)
      Files.copy(files(k), tmp)
      Files.move(tmp, envDir.resolve(files(k).getFileName), StandardCopyOption.ATOMIC_MOVE)
      lateMs(k) = System.currentTimeMillis() - dueMs(k)
      pass.sourceBytes += Files.size(files(k))
    }
    val offered = (files.size - 1L) * eventsPerFile
    query.processAllAvailable()
    query.stop()
    pass.attempted += offered
    query.exception.foreach(e => pass.fail(s"stream: $e"))

    val batches = query.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs
      Batch(p.batchId, start, start + d.get("triggerExecution"), p.numInputRows,
        Seq("addBatch", "latestOffset", "walCommit", "queryPlanning", "triggerExecution")
          .flatMap(k => Option(d.get(k)).map(k -> _.longValue)).toMap)
    }
    // events map to batches by cumulative numInputRows in FIFO file order;
    // file 0 is the set-up's warm-up batch
    var event = 0L
    var lastEnd = t0Ms
    batches.foreach { b =>
      (0L until b.rows).foreach { _ =>
        val k = (event / eventsPerFile).toInt
        if (k > 0 && k < files.size) {
          pass.writeLat += (b.endMs - dueMs(k)) / 1000.0
          lastEnd = math.max(lastEnd, b.endMs)
        }
        event += 1
      }
    }
    pass.batches = batches.filter(_.endMs > t0Ms)
    if (event != offered + eventsPerFile)
      pass.fail(s"stream consumed ${event - eventsPerFile} timed events, generator offered $offered")
    pass.writeRows = event - eventsPerFile
    pass.writeWallS = (lastEnd - t0Ms) / 1000.0
    pass.report("gen.late_ms.max") = lateMs.maxOption.getOrElse(0L)
    pass.report("cdc.offered_events_per_s") = EventsPerSecond
    pass.report("cdc.batches") = pass.batches.size
    readPhase(spark, table, finalModel, Some(pass))
    // by now the listener bus has delivered the last batch's progress
    census.foreach { c =>
      spark.streams.removeListener(c)
      pass.commitFiles ++= c.synchronized(c.commitFiles.toList)
    }
  }
  private var census: Option[Census] = None

  def checkImage(spark: SparkSession, pass: Pass): Unit =
    Check.image(pass, name, Engine.imageOf(spark, table, Engine.QuoteCols), finalImage)

  override def close(): Unit = if (query != null && query.isActive) query.stop()

  /** Traced runs: data files each micro-batch added, from a listing taken
    * when its progress arrives.
    */
  private final class Census(dir: Path) extends StreamingQueryListener {
    val commitFiles = ArrayBuffer[Int]()
    private var seen = Engine.dataFiles(dir)
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) synchronized {
        val now = Engine.dataFiles(dir)
        commitFiles += now.diff(seen).size
        seen = now
      }
  }
}
