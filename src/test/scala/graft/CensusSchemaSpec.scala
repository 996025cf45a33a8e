package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{CensusFetcher, CensusFixture, CensusSource, FetchPolicy}
import org.scalatest.funsuite.AnyFunSuite

/** Test transport: counts the bytes the reader pulls through the seam
  * and whether it closed the stream. */
class ByteCountingFetcher extends CensusFetcher {
  override def fetch(target: String): java.io.InputStream = {
    ByteCountingFetcher.fetches.incrementAndGet()
    new java.io.FilterInputStream(new java.io.FileInputStream(target)) {
      override def read(): Int = {
        val b = super.read()
        if (b >= 0) ByteCountingFetcher.bytes.incrementAndGet()
        b
      }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(buf, off, len)
        if (n > 0) ByteCountingFetcher.bytes.addAndGet(n)
        n
      }
      override def close(): Unit = { ByteCountingFetcher.closed.set(true); super.close() }
    }
  }
}

object ByteCountingFetcher {
  val fetches = new AtomicInteger(0)
  val bytes = new AtomicLong(0)
  val closed = new AtomicBoolean(false)
  def reset(): Unit = { fetches.set(0); bytes.set(0); closed.set(false) }
}

/** Test transport: the first fetch fails, the rest read the file. */
class FailOnceFetcher extends CensusFetcher {
  override def fetch(target: String): java.io.InputStream =
    if (FailOnceFetcher.attempts.incrementAndGet() == 1)
      throw new java.io.IOException("transient transport failure")
    else new java.io.FileInputStream(target)
}

object FailOnceFetcher {
  val attempts = new AtomicInteger(0)
}

/** The census decoder ([[graft.sources.FetchPolicy.fetch]]): its cells
  * are the ones a whole-response tree parse gives, schema inference
  * reads only the header row of one fetch and infers the schema that
  * parse gave, it reads a few KB of a large response, bodies without a
  * header row still fail, and the retry policy still applies. No
  * session needed. */
class CensusSchemaSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def writeBody(body: String): String = {
    val p = java.nio.file.Files.createTempFile("census_schema_spec_", ".json")
    java.nio.file.Files.writeString(p, body)
    p.toFile.deleteOnExit()
    p.toString
  }

  private def writeRows(rows: Seq[Seq[String]]): String = {
    val arr = mapper.createArrayNode()
    rows.foreach { r =>
      val a = arr.addArray()
      r.foreach { c => if (c == null) a.addNull() else a.add(c); () }
    }
    writeBody(mapper.writeValueAsString(arr))
  }

  private def options(path: String, extra: (String, String)*): CaseInsensitiveStringMap =
    new CaseInsensitiveStringMap((Map("path" -> path) ++ extra).asJava)

  private def schemaOf(path: String, extra: (String, String)*): StructType =
    CensusSource.schemaFor(options(path, extra: _*))

  /** The schema as inferred before header-only reads: parse the whole
    * response, take row 0, then expected-first / extras-appended /
    * first-occurrence order. */
  private def wholeParseSchema(path: String, expect: Seq[String]): StructType = {
    val root = mapper.readTree(new java.io.File(path))
    val header = root.elements().asScala.next().elements().asScala
      .map(c => if (c.isNull) null else c.asText()).toSeq
    StructType((expect ++ header.filterNot(expect.contains)).distinct
      .map(StructField(_, StringType, nullable = true)))
  }

  test("the header-only schema equals the whole-parse schema (fixture, R5, R6, R18)") {
    val extras = writeRows(Seq(
      Seq("NAME", "state", "EXTRA_COL"),
      Seq("Tract A", "06", "x1")))
    val dupHeader = writeRows(Seq(
      Seq("NAME", "B01_001E", "NAME", "state", "B01_001E"),
      Seq("T", "1", "T2", "06", "2")))
    val cases = Seq(
      CensusFixture.path -> CensusFixture.Expect,
      CensusFixture.path -> Seq.empty[String],
      CensusFixture.path -> Seq("tract", "NAME", "MISSING_VAR"),
      extras -> Seq("NAME", "MISSING_VAR", "state"),
      dupHeader -> Seq("state", "NAME", "state", "ZZ"),
      dupHeader -> Seq.empty[String])
    for ((path, expect) <- cases) {
      val extra = if (expect.isEmpty) Nil else Seq("expect" -> expect.mkString(","))
      assert(schemaOf(path, extra: _*) == wholeParseSchema(path, expect), (path, expect))
    }
    assert(schemaOf(extras, "expect" -> "NAME,MISSING_VAR,state").fieldNames.toSeq ==
      Seq("NAME", "MISSING_VAR", "state", "EXTRA_COL"))
  }

  /** Every row of a body as a tree parse reads it: each element's
    * `asText`, a JSON null as `null`. */
  private def treeRows(path: String): Seq[Seq[String]] =
    mapper.readTree(new java.io.File(path)).elements().asScala.map(
      _.elements().asScala.map(c => if (c.isNull) null else c.asText()).toSeq).toSeq

  private def decodedRows(path: String): Seq[Seq[String]] = {
    val r = FetchPolicy.Default.fetch(path, throttle = false)
    r.header +: r.rows.toSeq.map(_.toSeq.map(c => if (c == null) null else c.toString))
  }

  test("the decoder's cells equal a tree parse's, cell for cell") {
    val clef = "\uD834\uDD1E" // U+1D11E, outside the BMP
    val edge = writeBody(Seq(
      """["NAME", "state", "n", "x"]""",
      """["null", null, 12, true]""",
      """["escaped \"q\" \\ \t \u00e9", "06", -1.5e3, false]""",
      s"""["$clef \u00fcber", "72", {"k": [1, 2]}, [3, [4, {}]]]""",
      """["", "36", 12345678901234567890, 0.1]""",
      """["exp", "01", 1E-7, -0]""",
      """["short"]""", "[]", """{"a": "obj", "b": null}""", "7",
      """["big", "02", 9223372036854775807, 1.0]""").mkString("[", ",\n", "]"))
    for (p <- Seq(CensusFixture.path, edge))
      assert(decodedRows(p) == treeRows(p), p)
    assert(decodedRows(edge)(3).head == s"$clef \u00fcber")
  }

  test("inference of a 600 KB response reads well under 64 KB, once, and closes it") {
    val header = (0 until 40).map(i => f"DP03_$i%04dE") :+ "state"
    val row = header.indices.map(i => s"${i * 1234567}")
    val path = writeRows(header +: Seq.fill(2000)(row))
    assert(new java.io.File(path).length > 600L * 1024)
    ByteCountingFetcher.reset()
    val schema = schemaOf(path, "fetcherClass" -> classOf[ByteCountingFetcher].getName)
    assert(schema.fieldNames.toSeq == header)
    assert(ByteCountingFetcher.fetches.get() == 1)
    assert(ByteCountingFetcher.bytes.get() < 64L * 1024,
      s"read ${ByteCountingFetcher.bytes.get()} bytes for the header")
    assert(ByteCountingFetcher.closed.get(), "the stream must be closed after the header")
  }

  test("a body without a header row fails as no header row, without a retry") {
    for (body <- Seq("[]", "42", """{"error": "unknown variable"}""")) {
      val path = writeBody(body)
      CountingFetcher.attempts.set(0)
      val e = intercept[IllegalArgumentException](
        schemaOf(path, "fetcherClass" -> classOf[CountingFetcher].getName))
      assert(e.getMessage == s"census source $path has no header row", body)
      assert(CountingFetcher.attempts.get() == 1, body)
    }
  }

  test("a fetch that fails once is retried; a truncated header fails the fetch") {
    FailOnceFetcher.attempts.set(0)
    val schema = schemaOf(CensusFixture.path,
      "fetcherClass" -> classOf[FailOnceFetcher].getName, "retryBaseWaitMs" -> "1")
    assert(schema.fieldNames.toSeq == CensusFixture.Expect)
    assert(FailOnceFetcher.attempts.get() == 2)
    FailOnceFetcher.attempts.set(0)
    val e = intercept[RuntimeException](schemaOf(CensusFixture.path,
      "fetcherClass" -> classOf[FailOnceFetcher].getName, "maxAttempts" -> "1"))
    assert(e.getMessage == "census fetch failed after 1 attempts")
    val truncated = intercept[RuntimeException](
      schemaOf(writeBody("""[["NAME", "sta"""), "maxAttempts" -> "1"))
    assert(truncated.getCause.isInstanceOf[com.fasterxml.jackson.core.JsonProcessingException])
  }
}
