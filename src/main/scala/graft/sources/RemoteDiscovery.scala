package graft.sources

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Duration

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration => SDuration}

/**
 * Remote era-store connector (SURVEY.md §2.1 S6–S9, §3.2): discovery of era
 * files on S3-compatible or plain-HTTP stores, parallel existence probing,
 * and cached streaming download with retry.
 *
 * All of this is driver-side catalog code (the reference:
 * `era_parser/ingestion/remote_downloader.py`): it produces the file list
 * that a multi-file `spark.read.format("era").load(...)` then scans one
 * partition per era. The `--remote` loop
 * ([[graft.export.IncrementalExporter]]) still downloads and scans one
 * era, one partition, at a time, like the reference's serial per-era loop.
 * Downloads can also run executor-side (one era per partition) by mapping
 * [[download]] over a parallelized era list.
 */
object RemoteDiscovery {

  /** Era-range grammar `N | N-M | N+` (commands/remote.py:164-186). */
  def parseEraRange(spec: String): (Int, Option[Int]) = spec.trim match {
    case s if s.endsWith("+") => (s.dropRight(1).toInt, None)
    case s if s.contains("-") =>
      val Array(a, b) = s.split("-", 2)
      (a.toInt, Some(b.toInt))
    case s => (s.toInt, Some(s.toInt))
  }

  private def inRange(era: Int, start: Int, end: Option[Int]): Boolean =
    era >= start && end.forall(era <= _)

  def newClient(): HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()

  private def get(client: HttpClient, url: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(30))
      .header("User-Agent", "graft/1.0").GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** S6: bulk S3 `list-type=2` discovery with continuation-token
    * pagination (remote_downloader.py:144-288) — ~2 s for 2000 files vs
    * ~200 s of naive HEAD probing. */
  def discoverS3Bulk(baseUrl: String, network: String, startEra: Int,
      endEra: Option[Int], client: HttpClient = newClient(),
      maxPages: Int = 500): Seq[(Int, String)] = {
    val keyRe = ("<Key>" + raw"($network-(\d{5})-[a-f0-9]{8}\.era)" + "</Key>").r
    val tokenRe = "<NextContinuationToken>([^<]+)</NextContinuationToken>".r
    var token: Option[String] = None
    var page = 0
    val found = Seq.newBuilder[(Int, String)]
    var continue = true
    while (continue && page < maxPages) {
      val url = s"$baseUrl/?list-type=2&prefix=$network-&max-keys=1000" +
        token.map(t => s"&continuation-token=${URLEncoder.encode(t, "UTF-8")}").getOrElse("")
      val (status, body) = get(client, url)
      if (status != 200)
        throw new RuntimeException(s"S3 listing failed with status $status (page $page)")
      keyRe.findAllMatchIn(body).foreach { m =>
        val era = m.group(2).toInt
        if (inRange(era, startEra, endEra)) found += era -> s"$baseUrl/${m.group(1)}"
      }
      token = tokenRe.findFirstMatchIn(body).map(_.group(1))
      continue = token.isDefined
      page += 1
    }
    found.result().sortBy(_._1)
  }

  /** S7: HTML directory-index discovery (remote_downloader.py:97-133). */
  def discoverHtmlListing(baseUrl: String, network: String, startEra: Int,
      endEra: Option[Int], client: HttpClient = newClient()): Seq[(Int, String)] = {
    val (status, body) = get(client, baseUrl)
    if (status != 200)
      throw new RuntimeException(s"directory listing failed with status $status")
    val re = ("""<a href="(""" + network + raw"""-(\d{5})-[a-f0-9]{8}\.era)">""").r
    re.findAllMatchIn(body)
      .map(m => m.group(2).toInt -> s"$baseUrl/${m.group(1)}")
      .filter { case (era, _) => inRange(era, startEra, endEra) }
      .toSeq.sortBy(_._1)
  }

  /** HEAD-check one era URL; returns the concrete URL if present. Era URLs
    * carry a content hash the prober can't know, so probing servers that
    * hash filenames requires the listing path; plain layouts can omit the
    * hash — we probe `<network>-<era>-*` via the provided namer. */
  private def headOk(client: HttpClient, url: String, attempts: Int = 2): Boolean = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(15))
      .method("HEAD", HttpRequest.BodyPublishers.noBody()).build()
    var attempt = 0
    while (attempt < attempts) {
      try return client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode() == 200
      catch {
        case _: Exception =>
          // a transient error here would silently truncate the discovered
          // era range (these probes define the work list) — retry once
          attempt += 1
          if (attempt < attempts) Thread.sleep(200L)
      }
    }
    false
  }

  /** S8: parallel existence probing (20-way, remote_downloader.py:290-437)
    * for stores without listing support. `urlFor` names an era's URL. */
  def discoverParallel(urlFor: Int => String, startEra: Int, endEra: Int,
      client: HttpClient = newClient(), parallelism: Int = 20): Seq[(Int, String)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (startEra to endEra).map { era =>
        Future { val u = urlFor(era); if (headOk(client, u)) Some(era -> u) else None }
      }
      Await.result(Future.sequence(futures), SDuration.Inf).flatten
    } finally pool.shutdown()
  }

  /** Open-ended-range end estimation (remote_downloader.py:322-360):
    * exponential probe up from `start`, then binary search the boundary. */
  def estimateMaxEra(urlFor: Int => String, start: Int,
      client: HttpClient = newClient(), cap: Int = 1 << 20): Int = {
    if (!headOk(client, urlFor(start))) return start - 1
    var lo = start // known-present
    var step = 1
    var hi = start
    while (headOk(client, urlFor(hi + step)) && hi + step < cap) {
      hi += step; lo = hi; step *= 2
    }
    var bad = math.min(hi + step, cap) // known-absent (or cap)
    while (lo + 1 < bad) {
      val mid = lo + (bad - lo) / 2
      if (headOk(client, urlFor(mid))) lo = mid else bad = mid
    }
    lo
  }

  /** S9: streaming download with local cache reuse, ×3 retry and
    * exponential backoff (remote_downloader.py:439-497). */
  def download(url: String, destDir: String): Path = {
    val client = newClient()
    val maxRetries = 3
    val name = url.substring(url.lastIndexOf('/') + 1)
    Files.createDirectories(Paths.get(destDir))
    val dest = Paths.get(destDir, name)
    if (Files.exists(dest) && Files.size(dest) > 0) return dest // cache hit
    var attempt = 0
    val tmp = Paths.get(destDir, name + ".part")
    while (true) {
      try {
        val req = HttpRequest.newBuilder(URI.create(url))
          .timeout(Duration.ofMinutes(10))
          .header("User-Agent", "graft/1.0").GET().build()
        // truncate any partial bytes from a failed earlier attempt — a
        // shorter retry body must not inherit a stale tail
        Files.deleteIfExists(tmp)
        val resp = client.send(req, HttpResponse.BodyHandlers.ofFile(tmp))
        if (resp.statusCode() != 200) {
          Files.deleteIfExists(tmp)
          throw new RuntimeException(s"GET $url -> ${resp.statusCode()}")
        }
        Files.move(tmp, dest, StandardCopyOption.REPLACE_EXISTING)
        return dest
      } catch {
        case e: Exception =>
          Files.deleteIfExists(tmp) // never leave a partial in the cache dir
          attempt += 1
          if (attempt >= maxRetries) throw e
          Thread.sleep(500L << attempt)
      }
    }
    dest // unreachable
  }

  /** Full discovery ladder (discover_era_files,
    * remote_downloader.py:125-142): S3 bulk → HTML listing → parallel
    * probe via `urlFor` when both listing styles fail. */
  def discover(baseUrl: String, network: String, rangeSpec: String,
      client: HttpClient = newClient()): Seq[(Int, String)] = {
    val (start, end) = parseEraRange(rangeSpec)
    try discoverS3Bulk(baseUrl, network, start, end, client)
    catch {
      case _: Exception =>
        try discoverHtmlListing(baseUrl, network, start, end, client)
        catch {
          case _: Exception =>
            val urlFor = (e: Int) => f"$baseUrl/$network-$e%05d.era"
            val hi = end.getOrElse(estimateMaxEra(urlFor, start, client))
            discoverParallel(urlFor, start, hi, client)
        }
    }
  }
}
