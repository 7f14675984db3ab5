package graft.sources

/** Paged-REST ingestion edge (SURVEY.md §2.1 S1-S4): the reference's two
  * pagination protocols — page-number (/root/reference/main.py:55-68) and
  * next-page-token (/root/reference/main.py:101-118) — behind one client
  * interface, with retry/backoff at the FETCH level.
  *
  * Retry placement is the §7.5.1 fix: the reference wraps whole load
  * stages in @retry (/root/reference/main.py:21-24,94), so a failure after
  * partial inserts re-runs the anti-join against half-loaded state and
  * loses data. Retrying only the page fetch keeps loads idempotent.
  */
object PagedApi {

  /** One page of raw JSON records plus the continuation token (None = last
    * page). Records stay as raw JSON strings — parsing happens
    * declaratively downstream (from_json with a declared schema), where
    * Catalyst can prune and codegen it.
    */
  final case class ApiPage(records: Seq[String], nextToken: Option[String])

  /** Transport-level failure that is worth retrying (HTTP 5xx/timeouts). */
  final class TransientApiError(msg: String) extends RuntimeException(msg)

  /** Rate-limit signal (HTTP 429, /root/reference/main.py:105-107). */
  final class RateLimitedError(val retryAfterMs: Long) extends RuntimeException("429")

  /** Minimal client surface: fetch one page of an entity, optionally keyed
    * by a parent id (per-meeting participants, /root/reference/main.py:100-118).
    */
  trait PagedApiClient extends Serializable {
    def fetchPage(entity: String, key: Option[String], token: Option[String]): ApiPage
  }

  /** Fetch with bounded retry + backoff. `sleep` is injectable so tests run
    * without wall-clock waits. Mirrors the reference's policy shape
    * (3 attempts, exponential backoff, /root/reference/main.py:21-24) and
    * its 429 handling (fixed pause, main.py:105-107), applied per-fetch.
    */
  def fetchWithRetry(client: PagedApiClient, entity: String,
                     key: Option[String], token: Option[String],
                     maxAttempts: Int = 3, baseBackoffMs: Long = 100,
                     maxRateLimitPauses: Int = 60,
                     sleep: Long => Unit = Thread.sleep): ApiPage = {
    var attempt = 0
    var pauses = 0
    while (true) {
      attempt += 1
      try return client.fetchPage(entity, key, token)
      catch {
        case e: RateLimitedError =>
          // 429 does not consume a retry attempt, but IS bounded — a
          // permanently rate-limited endpoint (revoked key, exhausted
          // quota) must fail loudly, not hang the driver forever
          pauses += 1
          if (pauses > maxRateLimitPauses)
            throw new TransientApiError(s"still rate-limited after $pauses pauses")
          sleep(e.retryAfterMs)
        case e: TransientApiError =>
          if (attempt >= maxAttempts) throw e
          sleep(baseBackoffMs << (attempt - 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Drain all pages for (entity, key) following continuation tokens —
    * the token loop of /root/reference/main.py:103-118 with per-page retry.
    */
  def fetchAllPages(client: PagedApiClient, entity: String,
                    key: Option[String] = None,
                    sleep: Long => Unit = Thread.sleep): Seq[ApiPage] = {
    val pages = Seq.newBuilder[ApiPage]
    var token: Option[String] = None
    var done = false
    while (!done) {
      val page = fetchWithRetry(client, entity, key, token, sleep = sleep)
      pages += page
      token = page.nextToken
      done = token.isEmpty
    }
    pages.result()
  }

  /** In-memory fixture client for tests: entity → (optional key →) pages.
    * Can inject transient failures / rate limits to exercise the retry path
    * deterministically.
    */
  final class FixtureClient(
      fixtures: Map[(String, Option[String]), Seq[ApiPage]],
      failFirstN: Int = 0,
      rateLimitEvery: Int = 0) extends PagedApiClient {
    private val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val fetchCount = new java.util.concurrent.atomic.AtomicInteger(0)

    def fetchPage(entity: String, key: Option[String], token: Option[String]): ApiPage = {
      val n = calls.incrementAndGet()
      if (n <= failFirstN) throw new TransientApiError(s"injected failure $n")
      if (rateLimitEvery > 0 && n % rateLimitEvery == 0) throw new RateLimitedError(10)
      fetchCount.incrementAndGet()
      val pages = fixtures.getOrElse((entity, key), Seq(ApiPage(Seq.empty, None)))
      val idx = token.map(_.toInt).getOrElse(0)
      val page = pages(idx)
      val next = if (idx + 1 < pages.size) Some((idx + 1).toString) else None
      ApiPage(page.records, next)
    }
  }
}
