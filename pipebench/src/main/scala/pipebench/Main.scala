package pipebench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The product-path benchmark:
  * `pipebench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * Generates the workload's inputs from the seed, drives the engine through
  * `Pipeline.run`, `spark.sql` and `CdcStream.start` on `local[nproc]`,
  * checks every output against the generator, and prints one JSON result
  * line last. `--trace 0` reports the end-to-end metrics; `--trace 1` runs
  * the pass untraced, traced and untraced again and reports the per-layer
  * ones.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  /** Set-ups per untraced run; `setup_s` is their median. */
  val SetupReps = 3

  /** Tail percentile of every timing. A run's 10-25 landings or merges
    * leave fewer than ten samples beyond anything higher; the report states
    * how many lie beyond.
    */
  val TailPct = 75.0

  val Layers: Seq[String] =
    Seq("sources", "dq", "script", "runtime", "operators", "sinks", "plans", "cdc", "streaming")

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
    require(Workload.Names.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private def phase(what: String): Unit =
    System.err.println(f"[pipebench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f s $what")

  def run(o: Opts): Int = {
    phase("start")
    Engine.deleteTree(o.work)
    Files.createDirectories(o.work)
    val w = Workload(o.workload, o.seed, o.work)
    w.generate(o.seconds)
    phase("generated")
    val s0 = System.nanoTime()
    val spark = Engine.session(o.work)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "inputs.rows" -> w.inputRows, "inputs.bytes" -> w.inputBytes,
      "setup.session_s" -> sessionS)
    var lakes = 0
    /** An empty lake with the workload set up in it, and the seconds the
      * set-up took; tearing down the last one is not timed.
      */
    def freshSetup(): (Path, Double) = {
      w.close()
      Workload.dropDb(spark, Engine.Db)
      (0 until lakes).foreach(i => Engine.deleteTree(o.work.resolve(s"lake-$i")))
      System.gc()
      val lake = o.work.resolve(s"lake-$lakes")
      lakes += 1
      val t0 = System.nanoTime()
      w.setup(spark, lake)
      (lake, (System.nanoTime() - t0) / 1e9)
    }
    try {
      // every run starts with a cold set-up and the workload's untimed pass
      var (lake, first) = freshSetup()
      val warm = Some(w.warmSeconds(o.seconds)).filter(_ > 0)
        .map(s => measure(spark, w, s, lake, None)).toSeq
      val (metrics, passes) =
        if (!o.trace) {
          val setups = first +: (1 until SetupReps).map { _ =>
            val (l, s) = freshSetup()
            lake = l
            s
          }
          report("setup.reps_s") = setups
          phase("set up")
          val pass = measure(spark, w, o.seconds, lake, None)
          (endToEnd(o, pass, Stats.median(setups)), warm :+ pass)
        } else {
          // the untraced pass runs as in an end-to-end run, the traced one
          // after it; JIT warm-up still under way biases the overhead low
          val untraced = measure(spark, w, o.seconds, freshSetup()._1, None)
          lake = freshSetup()._1
          val tr = new Tracer(spark)
          tr.install()
          val traced = try measure(spark, w, o.seconds, lake, Some(tr)) finally tr.uninstall()
          val probes = Probes.run(spark, o.work.resolve("probes"), o.seed)
          val spans = o.work.resolveSibling(s"spans-${o.workload}-${o.seed}.json")
          Files.write(spans, tr.toJson(traced.windowStart).getBytes("UTF-8"))
          report("spans") = spans.toString
          val pl = perLayer(tr, untraced, traced, probes)
          printSummary(tr, traced)
          (pl, warm ++ Seq(untraced, traced))
        }
      passes.last.report.foreach { case (k, v) => report(k) = v }
      val attempted = passes.map(_.attempted).sum
      val failed = passes.map(_.failed).sum
      report("error_rate") = failed.toDouble / math.max(1L, attempted)
      report("failures") = passes.flatMap(_.failures).take(20)
      println("{\"report\":" + Json.value(report) + "}")
      val correct = failed == 0
      println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":""" +
        metrics.map { case (k, (v, u)) =>
          s"${Json.str(k)}:{\"value\":${Json.value(v)},\"unit\":${Json.str(u)}}"
        }.mkString("{", ",", "}") + "}")
      if (correct) 0 else 1
    } finally {
      w.close()
      spark.stop()
      phase("stopped")
    }
  }

  /** One timed pass over the freshly set-up lake, then every check. */
  private def measure(spark: SparkSession, w: Workload, seconds: Int, lake: Path,
      tr: Option[Tracer]): Pass = {
    val pass = new Pass(tr)
    val gcBefore = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val stat0 = graft.Bench.readStat()
    pass.windowStart = System.nanoTime()
    w.measure(spark, seconds, pass)
    pass.windowEnd = System.nanoTime()
    val stat1 = graft.Bench.readStat()
    pass.report("jvm.gc_s") = (gcMs() - gcBefore) / 1000.0
    pass.report("jvm.peak_heap_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    pass.report("host.nproc") = Runtime.getRuntime.availableProcessors()
    pass.report("host.loadavg") = graft.Bench.loadAvg()
    pass.report("host.steal_pct") = (stat0 ++ stat1).toVector match {
      case v @ Vector(a, b) => graft.Bench.stealPctOf(v, a.t, b.t)
      case _ => -1.0
    }
    phase("measured")
    w.checkImage(spark, pass)
    Check.reads(pass, pass.reads.toSeq)
    pass.lakeBytes = Engine.treeBytes(lake)
    phase("checked")
    pass
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  private def endToEnd(o: Opts, p: Pass, setupS: Double): Seq[(String, (Double, String))] = {
    val allReads = p.readMs.values.flatten.toSeq
    val m = Seq(
      "setup_s" -> (setupS, "s"),
      "write.p50_s" -> (Stats.median(p.writeLat.toSeq), "s"),
      "write.tail_s" -> (Stats.pct(p.writeLat.toSeq, TailPct), "s"),
      "write.rows_per_s" -> (p.writeRows / p.writeWallS, "1/s"),
      // one figure for the read mix: any one type twice as fast moves it by
      // 16 %, and it is steadier run to run than the four medians it joins
      "read.p50_geomean_ms" -> (math.exp(Read.Kinds.map(k =>
        math.log(Stats.median(p.readMs(k).toSeq))).sum / Read.Kinds.size), "ms"),
      "read.tail_ms" -> (Stats.pct(allReads, TailPct), "ms"),
      "lake.bytes_per_source_byte" -> (p.lakeBytes.toDouble / p.sourceBytes, "ratio"))
    // the same numbers under the names each workload documents
    val named = o.workload match {
      case "land_transform" => Seq("landing.p50_s", "landing.tail_s", "landing.rows_per_s")
      case "upsert_query" => Seq("merge.p50_s", "merge.tail_s", "merge.rows_per_s")
      case _ => Seq("cdc.freshness.p50_s", "cdc.freshness.tail_s", "cdc.applied_events_per_s")
    }
    named.zip(m.slice(1, 4)).foreach { case (n, (_, v)) => p.report(n) = v._1 }
    Read.Kinds.foreach(k => p.report(s"query.$k.p50_ms") = Stats.median(p.readMs(k).toSeq))
    p.report("query.tail_ms") = Stats.pct(allReads, TailPct)
    p.report("tail_pct") = TailPct
    p.report("write.samples") = p.writeLat.size
    p.report("write.samples_beyond_tail") = Stats.beyond(p.writeLat.size, TailPct)
    p.report("read.samples") = Read.Kinds.map(k => k -> p.readMs(k).size).toMap
    p.report("read.samples_beyond_tail") = Stats.beyond(allReads.size, TailPct)
    p.report("setup_s") = setupS
    p.report("lake.bytes_per_source_byte") = p.lakeBytes.toDouble / p.sourceBytes
    m
  }

  private def perLayer(tr: Tracer, untraced: Pass, p: Pass,
      probes: Seq[(String, Double)]): Seq[(String, (Double, String))] = {
    val inWindow = tr.jobList.filter(j => j.start >= p.windowStart && j.start <= p.windowEnd)
    def busy(js: Seq[JobRec]) = Tracer.busyNs(js.map(j => (j.start, j.end))) / 1e9
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val out = mutable.ArrayBuffer[(String, (Double, String))]()
    def put(n: String, v: Double, u: String): Unit = out += (n -> (v, u))

    Layers.foreach { l =>
      val js = inWindow.filter(_.layer == l)
      put(s"$l.jobs", js.size, "count")
      put(s"$l.busy_s", busy(js), "s")
      put(s"$l.task_s", js.map(_.taskNs).sum / 1e9, "s")
      put(s"$l.input_bytes", js.map(_.inputBytes).sum.toDouble, "B")
      put(s"$l.shuffle_write_bytes", js.map(_.shuffleWriteBytes).sum.toDouble, "B")
      put(s"$l.output_bytes", js.map(_.outputBytes).sum.toDouble, "B")
    }
    val unattributed = inWindow.filter(j => !Layers.contains(j.layer))
    put("unattributed.busy_s", busy(unattributed), "s")
    put("trace.unattributed_share", busy(unattributed) / math.max(1e-9, busy(inWindow)), "share")

    // driver-only time inside each engine call: wall minus its jobs' busy time
    put("runtime.driver_s", med(p.writeSpans.toSeq.map(s =>
      (s.end - s.start) / 1e9 - busy(tr.jobsUnder(s.id)))), "s")
    put("runtime.jobs_per_landing", med(p.writeSpans.toSeq.map(s => tr.jobsUnder(s.id).size.toDouble)), "count")
    probes.foreach { case (n, v) => put(n, v, "s") }

    val changed = math.max(1L, p.writeRows)
    put("sinks.files_per_commit", med(p.commitFiles.toSeq.map(_.toDouble)), "count")
    put("sinks.bytes_written_per_source_byte",
      inWindow.map(_.outputBytes).sum.toDouble / math.max(1L, p.sourceBytes), "ratio")
    put("sinks.versions_retained", Option(p.tableDir).filter(Files.isDirectory(_)).map { d =>
      val s = Files.list(d)
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("v-")).toDouble
      finally s.close()
    }.getOrElse(0.0), "count")
    put("sinks.rewrite_ratio", inWindow.map(_.outputRecords).sum.toDouble / changed, "ratio")

    Read.Kinds.foreach { k =>
      val rs = p.readSpans(k).toSeq
      put(s"plans.planning_ms.$k", med(rs.map { case (_, pl, _, _) => (pl.end - pl.start) / 1e6 }), "ms")
      put(s"plans.jobs_in_planning.$k", med(rs.map { case (_, pl, _, _) =>
        tr.jobsUnder(pl.id).size.toDouble }), "count")
      put(s"plans.files_scanned.$k", med(rs.map(_._4.toDouble)), "count")
      put(s"plans.rows_scanned_per_row_returned.$k", med(rs.map { case (r, _, n, _) =>
        tr.jobsUnder(r.id).map(_.inputRecords).sum.toDouble / math.max(1L, n) }), "ratio")
    }

    val bs = p.batches
    bs.foreach { b =>
      val s = tr.record(s"batch ${b.id}", "streaming", tr.nanoOf(b.startMs), tr.nanoOf(b.endMs))
      s.attrs("rows") = b.rows
      tr.batchSpan.put(b.id, s.id)
    }
    def dur(k: String) = med(bs.map(_.durations.getOrElse(k, 0L) / 1000.0))
    put("streaming.batch.p50_s", dur("triggerExecution"), "s")
    Seq("addBatch", "latestOffset", "walCommit", "queryPlanning").foreach(k =>
      put(s"streaming.$k.p50_s", dur(k), "s"))
    val byBatch = tr.jobList.flatMap(_.batch).groupBy(identity).view.mapValues(_.size).toMap
    put("streaming.jobs_per_batch", med(bs.map(b => byBatch.getOrElse(b.id, 0).toDouble)), "count")
    put("streaming.rows_per_batch", med(bs.map(_.rows.toDouble)), "count")
    put("streaming.idle_share", if (bs.isEmpty) 0.0 else
      1.0 - bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1000.0 / p.writeWallS, "share")

    val windowS = (p.windowEnd - p.windowStart) / 1e9
    val cores = Runtime.getRuntime.availableProcessors()
    put("spark.tasks", inWindow.map(_.tasks).sum.toDouble, "count")
    put("spark.stages", inWindow.map(_.stages).sum.toDouble, "count")
    put("spark.spill_bytes", inWindow.map(_.spillBytes).sum.toDouble, "B")
    put("spark.executor_cpu_share", inWindow.map(_.cpuNs).sum / 1e9 / (windowS * cores), "share")
    def rep(k: String) = p.report.get(k) match {
      case Some(n: Number) => n.doubleValue
      case _ => 0.0
    }
    put("jvm.gc_s", rep("jvm.gc_s"), "s")
    put("jvm.peak_heap_mb", rep("jvm.peak_heap_mb"), "MB")
    put("host.nproc", cores, "count")
    put("host.load1", p.report.get("host.loadavg").map(_.toString.split(',').head)
      .flatMap(_.toDoubleOption).getOrElse(0.0), "count")
    put("host.steal_pct", rep("host.steal_pct"), "%")
    put("gen.late_ms.max", rep("gen.late_ms.max"), "ms")
    put("trace.overhead_share",
      Stats.median(p.writeLat.toSeq) / Stats.median(untraced.writeLat.toSeq) - 1.0, "share")
    out.toSeq
  }

  /** Per-layer job time of the traced window, as a table on stdout. */
  private def printSummary(tr: Tracer, p: Pass): Unit = {
    val js = tr.jobList.filter(j => j.start >= p.windowStart && j.start <= p.windowEnd)
    val total = math.max(1e-9, Tracer.busyNs(js.map(j => (j.start, j.end))) / 1e9)
    println(f"${"layer"}%-14s ${"jobs"}%6s ${"busy_s"}%9s ${"task_s"}%9s ${"share"}%7s")
    js.groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (l, xs) =>
      val b = Tracer.busyNs(xs.map(j => (j.start, j.end))) / 1e9
      println(f"$l%-14s ${xs.size}%6d $b%9.3f ${xs.map(_.taskNs).sum / 1e9}%9.3f ${b / total}%7.3f")
    }
  }
}
