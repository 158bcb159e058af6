package graft.runtime

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model.{PipelineSpec, SpecJson}
import org.apache.spark.sql.SparkSession

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.text.SimpleDateFormat
import java.util.Date
import scala.collection.concurrent.TrieMap

/** S10: the engine's operational REST surface — the local equivalent of the
  * reference's Spring controllers (FileUploadAPIController.scala:45-91,
  * DatasetAPIController.scala:38-127, DatasetStatusUtil.scala:29-54), served
  * by the JDK's built-in `HttpServer` (no new dependencies):
  *
  *   - `POST /dataset/upload?dataset=x[&publishertoken=t][&filename=f]` —
  *     body = file bytes, written into the watched landing dir under the
  *     reference naming convention
  *     `<dataset>.<token>.<date>.<millis>.dataset.<ext>`; the watcher picks
  *     it up on the next poll exactly like any other arrival. (The reference
  *     takes multipart; the JDK server has no multipart parser, so the body
  *     is the raw file and the original filename rides a query param —
  *     same information, same result.)
  *   - `POST /dataset` (JSON body) / `GET /dataset?dataset=x` /
  *     `GET /datasets` / `DELETE /dataset?dataset=x` — dataset registration,
  *     fetch, list, unregister, using the engine's own spec JSON codec.
  *   - `POST /poll` — run one watcher scan now (the scheduler seam; a
  *     deployment calls this from cron or keeps its own loop).
  *   - `GET /status?token=t` — per-step rows for one run;
  *     `GET /status/summary[?dataset=x][&page=N]` — newest-first run
  *     summaries, 20 per page (reference getPageOfItemsAsJSON page size).
  *   - `GET /health`.
  *
  * When `apiKey` is set, every endpoint requires the `x-api-key` header
  * (reference APIKeyValidator); without it the server is open, matching the
  * reference's `required = false`.
  */
final class HttpFrontDoor(
    spark: SparkSession,
    landingDir: Path,
    ledgerPath: Path,
    apiKey: Option[String] = None,
    port: Int = 0) {

  private val specs = TrieMap.empty[String, PipelineSpec]
  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  def register(spec: PipelineSpec): Unit = specs(spec.name) = spec

  /** Bound port (useful with port=0 for an ephemeral choice). */
  def boundPort: Int = server.getAddress.getPort

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)

  def start(): HttpFrontDoor = {
    Files.createDirectories(landingDir)
    server.createContext("/", (ex: HttpExchange) => route(ex))
    server.setExecutor(pool) // status/list calls never queue behind a poll
    server.start()
    this
  }

  def stop(): Unit = { server.stop(0); pool.shutdown() }

  // ------------------------------------------------------------- routing ----

  private def route(ex: HttpExchange): Unit =
    try {
      if (apiKey.exists(k => ex.getRequestHeaders.getFirst("x-api-key") != k))
        respond(ex, 401, """{"error": "invalid or missing x-api-key"}""")
      else (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("GET", "/health") => respond(ex, 200, """{"status": "ok"}""")
        case ("POST", "/dataset/upload") => upload(ex)
        case ("POST", "/dataset/generate") => generate(ex)
        case ("POST", "/dataset") => registerDataset(ex)
        case ("GET", "/dataset") => getDataset(ex)
        case ("GET", "/datasets") =>
          respond(ex, 200,
            specs.keySet.toSeq.sorted.map(jsonStr).mkString("[", ",", "]"))
        case ("DELETE", "/dataset") =>
          query(ex, "dataset") match {
            case Some(name) if specs.contains(name) =>
              specs.remove(name): Unit
              respond(ex, 200, s"""{"deleted": ${jsonStr(name)}}""")
            case Some(name) => respond(ex, 404, notConfigured(name))
            case None => respond(ex, 400, """{"error": "dataset param required"}""")
          }
        case ("POST", "/poll") => poll(ex)
        case ("GET", "/status") => status(ex)
        case ("GET", "/status/summary") => statusSummary(ex)
        case ("GET", "/snapshots") => snapshots(ex)
        case (m, p) => respond(ex, 404, s"""{"error": "no route $m ${jsonEsc(p)}"}""")
      }
    } catch {
      case e: Throwable =>
        respond(ex, 500, s"""{"error": ${jsonStr(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  // ----------------------------------------------------------- endpoints ----

  /** `GET /snapshots?dataset=x` — the dataset table's committed-version
    * log from the manifest protocol (version, commit/supersede times,
    * exact row/byte/file accounting, live flag). Metadata-only: manifest
    * reads, no Spark jobs — the ops view behind time-travel reads.
    */
  private def snapshots(ex: HttpExchange): Unit =
    query(ex, "dataset") match {
      case None => respond(ex, 400, """{"error": "dataset param required"}""")
      case Some(name) if !specs.contains(name) => respond(ex, 404, notConfigured(name))
      case Some(name) =>
        specs(name).destination.objectStore match {
          case None => respond(ex, 400,
            s"""{"error": "dataset ${jsonEsc(name)} has no objectStore destination"}""")
          case Some(os) =>
            val rows = graft.sinks.ObjectStoreSink.snapshots(os).map { sn =>
              s"""{"version": ${sn.version}, "committedAtMs": ${sn.committedAtMs},
                 | "supersededAtMs": ${sn.supersededAtMs.map(_.toString).getOrElse("null")},
                 | "rowCount": ${sn.rowCount}, "totalBytes": ${sn.totalBytes},
                 | "nFiles": ${sn.nFiles}, "live": ${sn.live}}""".stripMargin
                .replace("\n", "")
            }
            respond(ex, 200, rows.mkString("[", ",", "]"))
        }
    }

  /** Reference rawFilename convention (FileUploadAPIController.scala:58-74):
    * `<dataset>[.<publishertoken>].<date>.<millis>.dataset.<ext>` — the
    * intake resolver treats the dotted middle as the opaque token section.
    */
  private def upload(ex: HttpExchange): Unit =
    query(ex, "dataset") match {
      case None => respond(ex, 400, """{"error": "dataset param required"}""")
      case Some(name) if !specs.contains(name) => respond(ex, 404, notConfigured(name))
      case Some(name) =>
        val spec = specs(name)
        val ext = query(ex, "filename").flatMap { f =>
          val i = f.lastIndexOf('.')
          if (i >= 0) Some(f.substring(i + 1)) else None
        }.orElse(sourceExtension(spec)).getOrElse("csv")
        val date = new SimpleDateFormat("yyyy-MM-dd.HH-mm-ss-SSS").format(new Date())
        val token = query(ex, "publishertoken")
        val rawName = (Seq(name) ++ token ++
          Seq(date, System.currentTimeMillis().toString, "dataset", ext)).mkString(".")
        val body = ex.getRequestBody.readAllBytes()
        Files.write(landingDir.resolve(rawName), body)
        respond(ex, 200,
          s"""{"dataset": ${jsonStr(name)}, "rawFilename": ${jsonStr(rawName)}, "bytes": ${body.length}}""")
    }

  /** Generate a dataset spec from a CSV sample (reference
    * `POST /dataset/generate`, FileUploadAPIController.scala:94-180): infer
    * field types from the full sample, return the spec JSON WITHOUT
    * registering it — the caller reviews, edits, then POSTs /dataset.
    */
  private def generate(ex: HttpExchange): Unit =
    query(ex, "dataset") match {
      case None => respond(ex, 400, """{"error": "dataset param required"}""")
      case Some(name) =>
        val delimiter = query(ex, "delimiter").getOrElse(",")
        val header = query(ex, "header").forall(_.toBoolean)
        val tmp = Files.createTempFile("graft-generate-", ".csv")
        try {
          Files.write(tmp, ex.getRequestBody.readAllBytes())
          val df = spark.read
            .option("header", header).option("delimiter", delimiter)
            .option("inferSchema", true).option("samplingRatio", 1.0)
            .csv(tmp.toString)
          val fields = df.schema.fields.toIndexedSeq.map { f =>
            val t = f.dataType match {
              case org.apache.spark.sql.types.StringType => "string"
              case dt => graft.model.SchemaMapper.toTypeString(dt)
            }
            graft.model.FieldSpec(f.name.toLowerCase, t)
          }
          val spec = PipelineSpec(
            name = name,
            source = graft.model.SourceSpec(schema = fields,
              file = Some(graft.model.FileSpec(csv = Some(
                graft.model.CsvSpec(delimiter = delimiter, header = header))))),
            destination = graft.model.DestinationSpec(schema = fields,
              objectStore = Some(graft.model.ObjectStoreSpec(
                path = "", database = "graft", table = name))))
          respond(ex, 200, SpecJson.write(spec))
        } finally Files.deleteIfExists(tmp): Unit
    }

  private def registerDataset(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    val spec = SpecJson.parse(body).normalized.validated
    specs(spec.name) = spec
    respond(ex, 200, s"""{"dataset": ${jsonStr(spec.name)}}""")
  }

  private def getDataset(ex: HttpExchange): Unit =
    query(ex, "dataset").flatMap(specs.get) match {
      case Some(spec) => respond(ex, 200, SpecJson.write(spec))
      case None =>
        respond(ex, 404, notConfigured(query(ex, "dataset").getOrElse("?")))
    }

  private val pollLock = new Object

  /** One watcher scan over the landing dir with the CURRENT dataset registry
    * (a fresh Watcher per poll — the ledger on disk carries the state).
    * Serialized: two concurrent polls would both read the ledger before
    * either records, double-processing every pending file.
    */
  private def poll(ex: HttpExchange): Unit = {
    val results = pollLock.synchronized {
      new Watcher(spark, landingDir, specs.toMap, ledgerPath).poll()
    }
    val items = results.map { p =>
      val (ok, detail) = p.result match {
        case Right(r) => (true, s""""pipelineToken": ${jsonStr(r.pipelineToken)}, "rowsWritten": ${r.rowsWritten}""")
        case Left(e) => (false, s""""error": ${jsonStr(String.valueOf(e.getMessage))}""")
      }
      s"""{"file": ${jsonStr(p.file)}, "ok": $ok, $detail}"""
    }
    respond(ex, 200, items.mkString("[", ",", "]"))
  }

  private def status(ex: HttpExchange): Unit =
    query(ex, "token") match {
      case None => respond(ex, 400, """{"error": "token param required"}""")
      case Some(token) =>
        val rows = Pipeline.status.forToken(token).map(statusJson)
        respond(ex, 200, rows.mkString("[", ",", "]"))
    }

  /** Newest-first per-run summaries, paginated 20/page (reference
    * DatasetStatusUtil.getDatasetStatusSummary).
    */
  private def statusSummary(ex: HttpExchange): Unit = {
    val page = query(ex, "page").map(_.toInt).getOrElse(1).max(1)
    val dataset = query(ex, "dataset")
    val byToken = Pipeline.status.all
      .filter(r => dataset.forall(_ == r.dataset))
      .groupBy(_.pipelineToken)
    val summaries = byToken.toSeq.map { case (token, rows) =>
      val ordered = rows.sortBy(_.ts)
      val status =
        if (rows.exists(_.level == "error")) "error"
        else if (ordered.last.step == "end") "completed"
        else "processing"
      (ordered.head.ts, token, ordered.head.dataset, status, rows.size)
    }.sortBy(_._1).reverse
    val pageItems = summaries.slice((page - 1) * 20, page * 20).map {
      case (ts, token, ds, status, n) =>
        s"""{"pipelineToken": ${jsonStr(token)}, "dataset": ${jsonStr(ds)}, """ +
          s""""status": ${jsonStr(status)}, "steps": $n, "createdAt": ${jsonStr(ts.toString)}}"""
    }
    respond(ex, 200, pageItems.mkString("[", ",", "]"))
  }

  // ------------------------------------------------------------- helpers ----

  private def sourceExtension(spec: PipelineSpec): Option[String] =
    spec.source.file.map { f =>
      if (f.xlsx.isDefined) "xlsx"
      else if (f.json.isDefined) "json"
      else if (f.xml.isDefined) "xml"
      else if (f.unstructured.isDefined)
        f.unstructured.map(_.fileExtension).getOrElse("bin")
      else "csv"
    }

  private def notConfigured(name: String): String =
    s"""{"error": ${jsonStr(s"Dataset: $name is not configured")}}"""

  private def query(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap { q =>
      q.split("&").iterator.map(_.split("=", 2)).collectFirst {
        case Array(k, v) if k == key =>
          java.net.URLDecoder.decode(v, "UTF-8")
      }
    }

  private def statusJson(r: StatusStore.StatusRow): String =
    s"""{"pipelineToken": ${jsonStr(r.pipelineToken)}, "dataset": ${jsonStr(r.dataset)}, """ +
      s""""processName": ${jsonStr(r.processName)}, "step": ${jsonStr(r.step)}, """ +
      s""""level": ${jsonStr(r.level)}, "message": ${jsonStr(r.message)}, """ +
      s""""ts": ${jsonStr(r.ts.toString)}}"""

  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def jsonStr(s: String): String = "\"" + jsonEsc(s) + "\""

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object HttpFrontDoor {
  /** Convenience: start on `port` with datasets pre-registered. */
  def serve(spark: SparkSession, landingDir: Path, ledgerPath: Path,
      datasets: Seq[PipelineSpec] = Nil, apiKey: Option[String] = None,
      port: Int = 0): HttpFrontDoor = {
    val fd = new HttpFrontDoor(spark, landingDir, ledgerPath, apiKey, port)
    datasets.foreach(fd.register)
    fd.start()
  }
}
