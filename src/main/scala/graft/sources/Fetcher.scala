package graft.sources

import java.io.InputStream

/** The transport seam of the census source.
  *
  * The reference's chunk fetch is an HTTP GET
  * (`/root/reference/Test_census_tract.py:143-176`); the offline
  * fixture read and a production HTTP client are two implementations of
  * this one interface. `fetch` opens the bytes behind one target — it
  * is called once per RETRY ATTEMPT inside [[Retry.withBackoff]], so
  * transient transport failures (the reference's HTTPError) surface as
  * exceptions here and are retried under the R14/R15 policy without the
  * reader knowing the transport.
  *
  * Every fetch goes through [[FetchPolicy.fetch]], whose one streaming
  * decoder ([[CensusSource.decode]]) reads the body. Schema inference
  * fetches a target once and decodes only its header row before closing
  * the stream. Each scan then fetches it whole once in each JVM that
  * reads the scan: the scan's first read (driver planning, or an
  * executor's first partition) fetches and decodes, and the scan's other
  * reads in that JVM share the decoded response ([[ScanFetches]]). A
  * fetcher must therefore tolerate a stream closed before its end.
  *
  * Selected per scan via the `fetcherClass` option (a class name with a
  * no-arg constructor, instantiated wherever a real fetch runs — the
  * standard DSv2 string-option plug point).
  */
trait CensusFetcher extends Serializable {
  def fetch(target: String): InputStream
}

/** Default transport: the target is a local/shared-FS file path. */
class FileFetcher extends CensusFetcher {
  override def fetch(target: String): InputStream =
    new java.io.FileInputStream(target)
}

/** HTTP transport — the reference's actual chunk fetch
  * (`/root/reference/Test_census_tract.py:143-176`: a GET whose
  * non-2xx statuses raise and are retried by tenacity). The target is
  * the full request URL (the projection/geography query string is part
  * of the target, exactly as the reference builds it). A non-2xx
  * response THROWS so [[Retry.withBackoff]] treats it like any
  * transport failure — one retry policy for refused sockets, resets,
  * and HTTP errors alike. The client is transient: fetcher instances
  * are constructed reflectively per use (driver for schema/planning,
  * executors for partition reads), never serialized with live
  * sockets. */
class HttpFetcher extends CensusFetcher {
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}

  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL)
      .connectTimeout(java.time.Duration.ofSeconds(30))
      .build()

  override def fetch(target: String): InputStream = {
    val req = HttpRequest.newBuilder(java.net.URI.create(target)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofInputStream())
    if (resp.statusCode() / 100 != 2) {
      try resp.body().close() catch { case _: java.io.IOException => () }
      throw new java.io.IOException(
        s"HTTP ${resp.statusCode()} fetching $target")
    }
    resp.body()
  }
}

object CensusFetcher {
  val DefaultClass: String = classOf[FileFetcher].getName

  def forName(className: String): CensusFetcher =
    Class.forName(className).getDeclaredConstructor()
      .newInstance().asInstanceOf[CensusFetcher]
}
