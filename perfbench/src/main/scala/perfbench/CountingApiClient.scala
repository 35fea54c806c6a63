package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import graft.sources.{FixtureApiClient, PageResult, PagedApiClient}

/** The benchmark's model of the remote mail API: the FixtureApiClient
  * file layout (`<path>/messages.jsonl`), plus a fixed delay per call
  * (`listDelayMs` per page, `getDelayMs` per message) and process-wide
  * call counters. Executors run in the driver JVM (`local[n]`), so the
  * counters see every call of every task.
  */
class CountingApiClient extends PagedApiClient {
  private val inner = new FixtureApiClient
  private var listDelayNs = 0L
  private var getDelayNs = 0L

  override def init(options: Map[String, String]): Unit = {
    inner.init(options)
    listDelayNs = (options.getOrElse("listDelayMs", "0").toDouble * 1e6).toLong
    getDelayNs = (options.getOrElse("getDelayMs", "0").toDouble * 1e6).toLong
  }

  private def call[T](delayNs: Long, n: AtomicLong, busy: AtomicLong)(
      body: => T): T = {
    val t0 = System.nanoTime()
    if (delayNs > 0) {
      val until = t0 + delayNs
      var left = delayNs
      while (left > 0) { LockSupport.parkNanos(left); left = until - System.nanoTime() }
    }
    try body
    finally {
      n.incrementAndGet()
      busy.addAndGet(System.nanoTime() - t0)
    }
  }

  override def listPage(pageToken: Option[String]): PageResult =
    call(listDelayNs, CountingApiClient.lists, CountingApiClient.listNs)(
      inner.listPage(pageToken))

  override def get(id: String): String =
    call(getDelayNs, CountingApiClient.gets, CountingApiClient.getNs)(
      inner.get(id))
}

object CountingApiClient {
  val lists, gets, listNs, getNs = new AtomicLong()

  def reset(): Unit = Seq(lists, gets, listNs, getNs).foreach(_.set(0L))
}
