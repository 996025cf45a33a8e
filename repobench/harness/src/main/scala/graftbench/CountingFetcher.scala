package graftbench

import java.io.{FileInputStream, FilterInputStream, InputStream}
import java.util.concurrent.atomic.AtomicLong

import graft.sources.CensusFetcher

/** A local-file census transport that counts what it serves: one call per
  * `fetch` and every byte handed to the reader. Selected with the census
  * source's `fetcherClass` option, so the source itself is unchanged.
  * The counters are JVM-wide; the harness runs `local[n]`, so driver and
  * executor fetches land in the same counters. */
class CountingFetcher extends CensusFetcher {
  override def fetch(target: String): InputStream = {
    CountingFetcher.calls.incrementAndGet()
    new FilterInputStream(new FileInputStream(target)) {
      override def read(): Int = {
        val b = super.read()
        if (b >= 0) CountingFetcher.bytes.incrementAndGet()
        b
      }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(buf, off, len)
        if (n > 0) CountingFetcher.bytes.addAndGet(n.toLong)
        n
      }
    }
  }
}

object CountingFetcher {
  val calls = new AtomicLong()
  val bytes = new AtomicLong()
}
