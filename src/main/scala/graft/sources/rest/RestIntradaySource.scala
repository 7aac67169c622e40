package graft.sources.rest

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.LocalDate

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Portable

/** DataSource V2 connector restating the reference's REST JSON sources
  * (SURVEY §2.1 S2/S3/S4) Spark-first:
  *
  *   - S2 per-(day, resource) fetch → one InputPartition per fetch unit:
  *     the fetch unit IS the partition, so a 1000-executor cluster pulls
  *     1000 requests in parallel and the rate-limit/backoff logic
  *     (fitbit_utils.py:309-329) would live per-reader. Intraday
  *     resources fetch one DAY per request; thirty-day resources fetch
  *     one 30-DAY WINDOW per request (fitbit_utils.py:427-457), so their
  *     partitions carry up to 30 dates.
  *   - S3 paginated range scan → the date-range options bound the
  *     partition list, and pushed date/resource predicates PRUNE it
  *     before any fetch happens (`SupportsPushDownFilters`) — the Spark
  *     analogue of encoding `after`/`before` into the request URL
  *     (utils.py:55-66).
  *   - S4 `keys=` projection list → `SupportsPushDownRequiredColumns`:
  *     the reader materializes only requested columns, the analogue of
  *     the keys= URL parameter (utils.py:298,334).
  *   - F8 validation predicate → `require()` at table creation: an
  *     unsupported resource name fails analysis, the analogue of the
  *     reference's ValueError (fitbit_utils.py:415-417).
  *
  * Detail grain is PER RESOURCE, as in the reference
  * (fitbit_utils.py:419-423): `heart` yields 1-second rows
  * (time "HH:mm:ss", 86400/day), other intraday resources 1-minute rows
  * (time "HH:mm", 1440/day), thirty-day resources one daily summary row
  * (time "00:00").
  *
  * The fetch itself is a documented stand-in: production code would HTTP
  * GET the partition's URL and parse JSON (this environment has no
  * egress), so each partition instead generates its payload
  * deterministically from the portable md5 hash — which makes the whole
  * source replayable in the DuckDB oracle, partition pruning included.
  *
  * Row shape after the P5 flatten the reference applies
  * (fitbit_utils.py:374-388): (resource, date, time, value).
  * value = `Portable.h60(resource|date|time, "iv|") % 1000`, generated
  * per row by [[RestPartitionReader]].
  */
class RestIntradaySource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RestIntradaySource.SCHEMA
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    def req(k: String): String = {
      val v = properties.get(k)
      require(v != null && v.nonEmpty,
        s"RestIntradaySource requires option '$k' " +
          "(resources=csv, start/end=yyyy-MM-dd)")
      v
    }
    val resources = req("resources")
    // F8: unsupported resource fails at ANALYSIS time, like the
    // reference's ValueError (fitbit_utils.py:415-417)
    val unknown = resources.split(",").map(_.trim).filter(_.nonEmpty)
      .filterNot(RestIntradaySource.ALL_RESOURCES)
    require(unknown.isEmpty,
      s"Unsupported resource(s): ${unknown.mkString(", ")} — supported: " +
        RestIntradaySource.ALL_RESOURCES.toSeq.sorted.mkString(", "))
    def opt(k: String): Option[String] =
      Option(properties.get(k)).map(_.trim).filter(_.nonEmpty)
    val fetch = RestFetchOptions(
      maxRequestsPerSecond = opt("maxRequestsPerSecond").map { v =>
        val r = v.toDouble
        require(r > 0, s"maxRequestsPerSecond must be > 0, got $v")
        r
      },
      maxRetries = opt("maxRetries").map(_.toInt).getOrElse(3),
      retryBackoffMs = opt("retryBackoffMs").map(_.toLong).getOrElse(100L),
      fail429Dates = opt("simulate429Dates")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty),
      fail429Count = opt("simulate429Count").map(_.toInt).getOrElse(0),
      token = opt("token"),
      tokenProviderClass = opt("tokenProvider"),
      fail401MinGen = opt("simulate401MinGen").map(_.toInt).getOrElse(0))
    new RestIntradayTable(resources, req("start"), req("end"),
      Option(properties.get("missingDates")).getOrElse(""), fetch,
      opt("daysPerBatch").map(_.toInt).getOrElse(1))
  }
}

/** Fetch-discipline options for the connector — the engine counterpart of
  * the reference's rate-limit sleeps and 5xx retry loops
  * (fitbit_utils.py:309-329 sleeps when `fitbit-rate-limit-remaining`
  * drops below 10; :38-43 retries 5xx with backoff; strava
  * utils.py:337-347 sleeps 900 s on the 15-minute budget).
  *
  *  - `maxRequestsPerSecond`: token-bucket pacing PER EXECUTOR JVM.
  *    Batch scans of the SAME table options share one bucket (same API
  *    budget — and repeated scans reuse the registry entry instead of
  *    leaking one per scan); each stream gets one bucket for its whole
  *    lifetime. Cluster-wide request rate = this × executors, so users
  *    set the per-executor slice of the API budget — the distributed
  *    analogue of the reference's per-process sleep.
  *  - `maxRetries` / `retryBackoffMs`: per-fetch-unit retry with
  *    exponential backoff (backoff × 2^attempt), matching the
  *    reference's retriable-5xx loop.
  *  - `simulate429Dates`/`simulate429Count`: fault injection for the
  *    stand-in fetch (no egress here) — each fetch unit touching one of
  *    these dates throws a simulated 429 on its first `count` attempts.
  *    Production code would replace the injected throw with the real
  *    HTTP status check; the retry/pacing machinery is identical.
  *  - `token` / `tokenProvider`: the credential lifecycle
  *    (fitbit_utils.py:116-154 acquire, 157-185 refresh — minus the
  *    interactive browser step, which has no headless analogue).
  *    `token` is a static bearer credential; `tokenProvider` names a
  *    [[RestTokenProvider]] implementation (no-arg constructor,
  *    instantiated reflectively PER EXECUTOR JVM — credentials are
  *    JVM-local state, never serialized through the plan). On an HTTP
  *    401 the reader refreshes through the provider and retries;
  *    refresh with only a static token, or a provider whose refresh
  *    throws, fails LOUDLY — an expired credential must never
  *    silently yield empty data.
  *  - `simulate401MinGen`: fault injection for the 401 path — the
  *    stand-in "server" rejects any request presenting a token of
  *    generation below N (generation = trailing integer of the token
  *    string, the sim contract [[RestFetchRuntime.tokenGen]]), so a
  *    provider starting at gen 0 must refresh N times before data
  *    flows. Production code replaces the check with the real status.
  */
final case class RestFetchOptions(
    maxRequestsPerSecond: Option[Double],
    maxRetries: Int,
    retryBackoffMs: Long,
    fail429Dates: Set[String],
    fail429Count: Int,
    token: Option[String] = None,
    tokenProviderClass: Option[String] = None,
    fail401MinGen: Int = 0) {
  def hasTokenConfig: Boolean = token.nonEmpty || tokenProviderClass.nonEmpty
}

object RestFetchOptions {
  val default: RestFetchOptions =
    RestFetchOptions(None, 3, 100L, Set.empty, 0)
}

/** Credential source for the REST connector — the engine analogue of the
  * reference's OAuth2Session acquire/refresh pair
  * (fitbit_utils.py:116-154, 157-185). Implementations need a no-arg
  * constructor (named by the `tokenProvider` option, instantiated per
  * executor JVM); a production implementation would read a client
  * secret from the environment and POST the refresh grant. */
trait RestTokenProvider {
  /** The initial access token (the stored grant a production provider
    * would load — the reference's `load_token`, fitbit_utils.py:92-113). */
  def initialToken(): String
  /** Exchange a rejected token for a fresh one (the refresh grant,
    * fitbit_utils.py:157-185). Throwing here is a TERMINAL auth failure
    * and surfaces loudly. */
  def refresh(expired: String): String
}

/** Deterministic provider for specs and the s2e query: tokens are
  * "tok-<gen>", refresh increments the generation — the shape of a real
  * refresh-token rotation with the HTTP exchange stubbed (no egress). */
final class GenTokenProvider extends RestTokenProvider {
  override def initialToken(): String = "tok-0"
  override def refresh(expired: String): String =
    s"tok-${RestFetchRuntime.tokenGen(expired) + 1}"
}

/** Provider whose refresh endpoint is down — drives the loud-failure
  * contract in RestSourceSpec. */
final class FailingTokenProvider extends RestTokenProvider {
  override def initialToken(): String = "tok-0"
  override def refresh(expired: String): String =
    throw new java.io.IOException(
      "refresh endpoint returned 400 (invalid_grant)")
}

/** Per-scan credential state, one per executor JVM (registry in
  * [[RestFetchRuntime]]): all reader threads of a scan present the SAME
  * current token, and a 401 refreshes it SINGLE-FLIGHT — the first
  * rejected reader swaps the token, concurrent rejects of the same
  * generation reuse the fresh one instead of burning refresh grants
  * (refresh responses are not idempotent in real OAuth: each rotation
  * can invalidate the previous refresh token). */
final class RestTokenState(
    provider: Option[RestTokenProvider], static: Option[String]) {
  @volatile private var tok: String =
    provider.map(_.initialToken()).orElse(static).getOrElse("")
  def current: String = tok
  /** Refresh iff the caller's rejected token is still current. */
  def refreshFrom(seen: String): String = synchronized {
    if (tok == seen) {
      val p = provider.getOrElse(throw new IllegalStateException(
        "HTTP 401: the static `token` was rejected and no `tokenProvider`" +
          " is configured to refresh it — re-authenticate and restart"))
      tok =
        try p.refresh(seen)
        catch {
          case e: Exception => throw new IllegalStateException(
            s"token refresh failed after HTTP 401: ${e.getMessage}", e)
        }
      RestFetchRuntime.refreshes.incrementAndGet()
    }
    tok
  }
}

/** Minimum-interval pacing limiter: admits one request per 1/rate sec,
  * blocking callers past the budget. Synchronized — shared by all reader
  * threads in the executor JVM. */
final class RestRateLimiter(ratePerSec: Double) {
  private val intervalNanos = (1e9 / ratePerSec).toLong
  private var nextSlot = Long.MinValue
  def acquire(): Unit = {
    val wait = synchronized {
      val now = System.nanoTime()
      if (nextSlot < now) nextSlot = now
      val w = nextSlot - now
      nextSlot += intervalNanos
      w
    }
    if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
  }
}

/** Per-JVM limiter registry (keyed by scan id) + fetch counters the spec
  * asserts against. On a cluster each executor JVM holds its own bucket —
  * see RestFetchOptions. */
object RestFetchRuntime {
  private val limiters =
    scala.collection.concurrent.TrieMap.empty[String, RestRateLimiter]
  def limiter(key: String, rate: Double): RestRateLimiter = {
    // backstop against executor-side growth: stream keys are released on
    // the DRIVER in stop(), but executor JVMs instantiate entries lazily
    // in fetch and have no end-of-stream signal — on long-lived
    // executors running many streams the map would otherwise grow one
    // entry per stream for the JVM lifetime. Clearing resets pacing
    // windows for in-flight scans (momentary burst), which beats an
    // unbounded map.
    if (limiters.size > 1024) limiters.clear()
    limiters.getOrElseUpdate(key, new RestRateLimiter(rate))
  }
  /** Drop a limiter when its scan/stream is done (streams call this from
    * stop(); batch scans use deterministic option-derived keys, so they
    * reuse entries instead of leaking one per scan). */
  def release(key: String): Unit = {
    limiters.remove(key); tokens.remove(key); ()
  }

  // Per-scan credential registry, same keying/lifetime discipline as the
  // limiters: batch scans of identical options share one standing OAuth
  // state (a re-run presents the already-refreshed token, like a real
  // long-lived client), streams hold one for their lifetime.
  private val tokens =
    scala.collection.concurrent.TrieMap.empty[String, RestTokenState]
  def tokenState(key: String, fetch: RestFetchOptions)
      : Option[RestTokenState] =
    if (!fetch.hasTokenConfig) None
    else {
      if (tokens.size > 1024) tokens.clear()
      Some(tokens.getOrElseUpdate(key, new RestTokenState(
        fetch.tokenProviderClass.map(cn =>
          Class.forName(cn).getDeclaredConstructor().newInstance()
            .asInstanceOf[RestTokenProvider]),
        fetch.token)))
    }

  /** Sim contract for `simulate401MinGen`: a token's generation is its
    * trailing integer ("tok-3" → 3); tokens without one are gen 0. */
  def tokenGen(tok: String): Int = {
    val i = tok.lastIndexOf('-')
    if (i < 0) 0
    else tok.substring(i + 1).toIntOption.getOrElse(0)
  }

  val requests = new java.util.concurrent.atomic.AtomicLong
  val simulated429s = new java.util.concurrent.atomic.AtomicLong
  val simulated401s = new java.util.concurrent.atomic.AtomicLong
  val refreshes = new java.util.concurrent.atomic.AtomicLong
}

object RestIntradaySource {
  val SCHEMA: StructType = StructType(Seq(
    StructField("resource", StringType, nullable = false),
    StructField("date", StringType, nullable = false),
    StructField("time", StringType, nullable = false),
    StructField("value", LongType, nullable = false)))

  /** The two resource families (services/fitbit/globals.py:5-15). */
  val INTRADAY_RESOURCES: Seq[String] = Seq(
    "calories", "distance", "elevation", "floors", "steps",
    "swimming-strokes", "heart", "active-zone-minutes")
  val THIRTY_DAY_RESOURCES: Seq[String] = Seq(
    "br", "hrv", "spo2", "temp", "cardioscore", "weight", "sleep")
  val ALL_RESOURCES: Set[String] =
    (INTRADAY_RESOURCES ++ THIRTY_DAY_RESOURCES).toSet

  val MINUTES_PER_DAY = 1440
  val SECONDS_PER_DAY = 86400
  val WINDOW_DAYS = 30

  def isThirtyDay(resource: String): Boolean =
    THIRTY_DAY_RESOURCES.contains(resource)

  /** Per-resource detail grain (fitbit_utils.py:419-423: heart fetches
    * `1sec`, other intraday `1min`; thirty-day responses are daily). */
  def rowsPerDay(resource: String): Int =
    if (resource == "heart") SECONDS_PER_DAY
    else if (isThirtyDay(resource)) 1
    else MINUTES_PER_DAY

  /** Length of a resource's ASCII time string: "HH:mm:ss" for heart,
    * "HH:mm" otherwise (thirty-day rows are "00:00"). */
  private[rest] def timeLength(resource: String): Int =
    if (resource == "heart") 8 else 5

  /** Writes the time of the `i`-th row of a day into `out` at `at`, as
    * ASCII digits: i is the second of the day for an 8-byte time
    * ("HH:mm:ss"), else the minute of the day ("HH:mm"; a thirty-day
    * resource's single row is i = 0, "00:00"). */
  private[rest] def writeTime(
      i: Int, out: Array[Byte], at: Int, len: Int): Unit =
    if (len == 8) {
      twoDigits(i / 3600, out, at)
      out(at + 2) = ':'
      twoDigits(i / 60 % 60, out, at + 3)
      out(at + 5) = ':'
      twoDigits(i % 60, out, at + 6)
    } else {
      twoDigits(i / 60, out, at)
      out(at + 2) = ':'
      twoDigits(i % 60, out, at + 3)
    }

  private def twoDigits(v: Int, out: Array[Byte], at: Int): Unit = {
    out(at) = ('0' + v / 10).toByte
    out(at + 1) = ('0' + v % 10).toByte
  }

  /** Fetch-unit planning shared by the batch scan and the micro-batch
    * stream: intraday resources get one partition per (resource, day);
    * thirty-day resources one partition per 30-day window clipped to
    * [lo, hi], windows anchored at `anchor` (the TABLE's start option)
    * so pruning/batching never shifts window boundaries. */
  def planPartitions(
      resources: Seq[String], anchor: LocalDate,
      lo: LocalDate, hi: LocalDate,
      missingDates: Set[String]): Array[RestPartition] = {
    if (lo.isAfter(hi)) return Array.empty
    val days = Iterator.iterate(lo)(_.plusDays(1))
      .takeWhile(!_.isAfter(hi)).toSeq
    resources.flatMap { r =>
      if (isThirtyDay(r)) {
        Iterator.iterate(anchor)(_.plusDays(WINDOW_DAYS))
          .takeWhile(!_.isAfter(hi))
          .flatMap { w0 =>
            val wEnd = w0.plusDays(WINDOW_DAYS - 1)
            val clipLo = if (w0.isBefore(lo)) lo else w0
            val clipHi = if (wEnd.isAfter(hi)) hi else wEnd
            if (clipLo.isAfter(clipHi)) None
            else Some(RestPartition(r,
              Iterator.iterate(clipLo)(_.plusDays(1))
                .takeWhile(!_.isAfter(clipHi)).map(_.toString)
                .filterNot(missingDates).toVector))
          }.toSeq
      } else {
        // a `missing` (404) day keeps its partition but yields zero rows
        days.map(d => RestPartition(r,
          if (missingDates.contains(d.toString)) Vector.empty
          else Vector(d.toString)))
      }
    }.toArray
  }
}

final class RestIntradayTable(
    resourcesCsv: String, start: String, end: String, missingCsv: String,
    fetch: RestFetchOptions = RestFetchOptions.default,
    daysPerBatch: Int = 1)
  extends Table with SupportsRead {
  override def name(): String =
    s"rest_intraday($resourcesCsv, $start..$end)"
  override def schema(): StructType = RestIntradaySource.SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new RestIntradayScanBuilder(
      resourcesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.sorted,
      LocalDate.parse(start), LocalDate.parse(end),
      missingCsv.split(",").map(_.trim).filter(_.nonEmpty).toSet, fetch,
      daysPerBatch)
}

final class RestIntradayScanBuilder(
    allResources: Seq[String], start: LocalDate, end: LocalDate,
    missingDates: Set[String],
    fetch: RestFetchOptions = RestFetchOptions.default,
    daysPerBatch: Int = 1)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var resources: Seq[String] = allResources
  private var lo: LocalDate = start
  private var hi: LocalDate = end
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = RestIntradaySource.SCHEMA

  /** Accept date-range and resource-membership predicates: partition
    * granularity equals predicate granularity, so accepted filters are
    * applied EXACTLY by pruning (day, resource) partitions — nothing to
    * re-evaluate post-scan. Everything else — including date literals
    * that don't parse as strict ISO dates (a pushdown must never turn a
    * no-match comparison into a planning crash) — stays with Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def isIso(v: String): Boolean =
      try { LocalDate.parse(v); true } catch { case _: Exception => false }
    val (accepted, rest) = filters.partition {
      case EqualTo("date", v: String) => isIso(v)
      case GreaterThanOrEqual("date", v: String) => isIso(v)
      case LessThanOrEqual("date", v: String) => isIso(v)
      case GreaterThan("date", v: String) => isIso(v)
      case LessThan("date", v: String) => isIso(v)
      case EqualTo("resource", _: String) => true
      case In("resource", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    accepted.foreach {
      case EqualTo("date", v: String) =>
        lo = maxDate(lo, LocalDate.parse(v)); hi = minDate(hi, LocalDate.parse(v))
      case GreaterThanOrEqual("date", v: String) =>
        lo = maxDate(lo, LocalDate.parse(v))
      case GreaterThan("date", v: String) =>
        lo = maxDate(lo, LocalDate.parse(v).plusDays(1))
      case LessThanOrEqual("date", v: String) =>
        hi = minDate(hi, LocalDate.parse(v))
      case LessThan("date", v: String) =>
        hi = minDate(hi, LocalDate.parse(v).minusDays(1))
      case EqualTo("resource", v: String) =>
        resources = resources.filter(_ == v)
      case In("resource", vs) =>
        val set = vs.collect { case s: String => s }.toSet
        resources = resources.filter(set)
      case _ => ()
    }
    pushed = accepted
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def maxDate(a: LocalDate, b: LocalDate) = if (a.isAfter(b)) a else b
  private def minDate(a: LocalDate, b: LocalDate) = if (a.isBefore(b)) a else b

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"RestIntradayScan resources=$resources dates=[$lo..$hi] " +
        s"columns=${required.fieldNames.mkString(",")}"
    // one partition per fetch unit (intraday: day; thirty-day: window,
    // fitbit_utils.py:427-457) — planning shared with the stream
    override def planInputPartitions(): Array[InputPartition] =
      RestIntradaySource.planPartitions(resources, start, lo, hi,
        missingDates).map(p => p: InputPartition)
    override def createReaderFactory(): PartitionReaderFactory =
      // limiter key derived from the table options: every reader of this
      // scan shares one pacing bucket per executor JVM, repeated scans of
      // the same table REUSE the bucket (same API budget — and no
      // registry entry leaked per scan), and tables with different
      // options get separate buckets
      // fetch.hashCode folds ALL fetch-discipline options (pacing,
      // fault-sim, token config) into the key, so differently-
      // configured scans of the same table range never share a pacing
      // bucket or credential state
      new RestReaderFactory(required, fetch,
        s"batch|${allResources.mkString(",")}|$start|$end|" +
          s"${fetch.hashCode}")

    // ---- streaming form: the daily incremental ingest AS a stream ----
    // (fitbit_utils.py:224-232's date loop, re-expressed as Structured
    // Streaming micro-batches: the offset axis is days-since-start, each
    // trigger admits at most daysPerBatch days, and a batch's partitions
    // are exactly the batch-date-range's fetch units — so checkpointed
    // restart resumes at the first unfetched day, the engine-level form
    // of the reference's skip-existing incremental load.)
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      new RestMicroBatchStream(resources, start, hi, daysPerBatch,
        missingDates, fetch, required)
  }
}

/** Offset = the first UNFETCHED calendar date, as its ISO string (which
  * compares lexicographically in date order). Encoding the DATE rather
  * than a days-since-start count makes checkpoints unambiguous under
  * option changes: restarting with a different `start` cannot silently
  * remap committed offsets onto different days (a day-count offset
  * would re-fetch some days and silently skip others). */
final case class RestDayOffset(nextDate: String)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = nextDate
}

final class RestMicroBatchStream(
    resources: Seq[String], start: LocalDate, end: LocalDate,
    daysPerBatch: Int, missingDates: Set[String],
    fetch: RestFetchOptions, schema: StructType)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private val endExclusive = end.plusDays(1)

  private def date(o: Offset): LocalDate = {
    val j = o.json().trim
    try LocalDate.parse(j)
    catch {
      case e: java.time.format.DateTimeParseException =>
        throw new IllegalStateException(
          s"Incompatible checkpoint offset '$j' for RestIntradaySource: " +
            "offsets are ISO dates (older numeric day-count checkpoints " +
            "are not migratable — restart from a fresh checkpoint)", e)
    }
  }
  private def clip(d: LocalDate): LocalDate =
    if (d.isAfter(endExclusive)) endExclusive else d

  // ONE pacing bucket for the stream's whole lifetime: minting a key per
  // micro-batch would reset the token bucket at every batch boundary
  // (bursting above the rate exactly when it matters) and leak a
  // registry entry per batch on a long-running stream.
  private val limiterKey =
    s"stream|${java.util.UUID.randomUUID()}"

  override def initialOffset(): Offset = RestDayOffset(start.toString)
  override def deserializeOffset(json: String): Offset =
    RestDayOffset(LocalDate.parse(json.trim).toString)

  // Admission control — STATELESS pacing off the engine-supplied start
  // offset: next = start + daysPerBatch (clipped). A mutable
  // "advance-per-call" cursor would regress after restart (the fresh
  // stream instance would admit an offset BELOW the checkpointed one,
  // and the engine would then plan a batch spanning already-committed
  // days — observed as duplicated days in the file sink).
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val d0 = date(startOffset)
    val base = if (d0.isBefore(start)) start else d0 // later-start restart
    val next = clip(base.plusDays(math.max(1, daysPerBatch)))
    // NEVER return an offset before the engine-supplied start: when a
    // restart shrinks `end`, clip() could otherwise move the admitted
    // offset BACKWARDS past already-committed days, poisoning the
    // checkpoint so a later restart re-fetches them
    RestDayOffset((if (next.isBefore(d0)) d0 else next).toString)
  }
  override def reportLatestOffset(): Offset =
    RestDayOffset(endExclusive.toString)
  // engines honoring SupportsAdmissionControl never call this; a trigger
  // path that does gets everything in one batch — correct data, just
  // unpaced (never a regressed offset)
  override def latestOffset(): Offset = RestDayOffset(endExclusive.toString)

  override def planInputPartitions(s0: Offset, e0: Offset): Array[InputPartition] = {
    // clamp to the TABLE's range: a checkpointed offset from a run with
    // different start/end options must not fetch days outside [start,
    // end] (a later-start restart would otherwise hand the thirty-day
    // window planner a range before its anchor and silently drop it)
    val from0 = date(s0)
    val from = if (from0.isBefore(start)) start else from0
    val until0 = date(e0) // exclusive
    val until = if (until0.isAfter(endExclusive)) endExclusive else until0
    if (!until.isAfter(from)) Array.empty
    else RestIntradaySource.planPartitions(resources, start,
      from, until.minusDays(1), missingDates)
      .map(p => p: InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory(schema, fetch, limiterKey)
  override def commit(offset: Offset): Unit = ()
  override def stop(): Unit = RestFetchRuntime.release(limiterKey)
}

/** One fetch unit: an intraday partition carries a single date (empty =
  * the 404 path), a thirty-day partition up to 30 dates. */
final case class RestPartition(resource: String, dates: Seq[String])
  extends InputPartition

final class RestReaderFactory(
    required: StructType,
    fetch: RestFetchOptions = RestFetchOptions.default,
    limiterKey: String = "default")
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new RestPartitionReader(p.asInstanceOf[RestPartition], required, fetch,
      limiterKey)
}

/** Reads one fetch unit, for the batch scan and the micro-batch stream
  * alike.
  *
  * production: HTTP GET the partition's URL here, honoring rate-limit
  * headers; canned deterministic payload instead. A zero-date partition
  * is the 404 path (F6, utils.py:349-351): the reader yields zero rows
  * and the job proceeds — the dropped day never surfaces downstream, no
  * error propagation.
  *
  * The payload row `i` of a day has value = h60("iv|resource|date|time")
  * % 1000. Everything but the time is built once: the resource and date
  * strings, and the ASCII message prefix "iv|resource|date|" (once per
  * date). Each row writes its time digits in place after that prefix,
  * digests the message with the reader's one `MessageDigest`, and reads
  * h60 straight off the digest bytes ([[graft.functions.Portable.h60Digest]]),
  * so no row formats or parses a string. The row's columns follow
  * `required`, resolved to schema ordinals once. One `GenericInternalRow`
  * is refilled per row: the batch and micro-batch scans are both planned
  * under a `ProjectExec` whose `UnsafeProjection` copies each row before
  * the next is read (RestSourceSpec reads it under both).
  */
final class RestPartitionReader(
    part: RestPartition, required: StructType, fetch: RestFetchOptions,
    limiterKey: String)
  extends PartitionReader[InternalRow] {
  private val perDay = RestIntradaySource.rowsPerDay(part.resource)
  private val total = part.dates.length * perDay
  private var i = -1
  private var fetched = false

  // the schema ordinal (resource 0, date 1, time 2, value 3) of each
  // output column
  private val cols: Array[Int] =
    required.fieldNames.map(RestIntradaySource.SCHEMA.fieldIndex)
  private val row = new GenericInternalRow(cols.length)
  private val resource = UTF8String.fromString(part.resource)
  private val timeLen = RestIntradaySource.timeLength(part.resource)
  private val md5 = MessageDigest.getInstance("MD5")
  private val digest = new Array[Byte](16)
  // the current day's date, and "iv|resource|date|" plus timeLen bytes
  // for the row's time, which starts at timeAt
  private var date: UTF8String = _
  private var msg: Array[Byte] = _
  private var timeAt = 0

  /** One "request" per fetch unit, with the connector's fetch
    * discipline: pace via the shared per-JVM bucket, present the
    * scan's current credential, then handle the failure classes the
    * reference handles — 401 refreshes the token (single-flight)
    * and retries immediately (fresh credential, not rate pressure,
    * so no backoff sleep; fitbit_utils.py:157-185), a retriable
    * 429/5xx retries with exponential backoff
    * (fitbit_utils.py:38-43,309-329; utils.py:337-347) — each up to
    * maxRetries before failing LOUDLY. Lazy: a pruned-away
    * partition never spends a request. */
  private def fetchOnce(): Unit = {
    val limiter = fetch.maxRequestsPerSecond
      .map(RestFetchRuntime.limiter(limiterKey, _))
    val tokState = RestFetchRuntime.tokenState(limiterKey, fetch)
    val failing = fetch.fail429Count > 0 &&
      part.dates.exists(fetch.fail429Dates)
    var attempt = 0
    var ok = false
    while (!ok) {
      limiter.foreach(_.acquire())
      RestFetchRuntime.requests.incrementAndGet()
      val tok = tokState.map(_.current)
      if (fetch.fail401MinGen > 0 &&
          RestFetchRuntime.tokenGen(tok.getOrElse("")) <
            fetch.fail401MinGen) {
        RestFetchRuntime.simulated401s.incrementAndGet()
        if (attempt >= fetch.maxRetries)
          throw new java.io.IOException(
            s"HTTP 401 (simulated) for ${part.resource} " +
              s"${part.dates.headOption.getOrElse("-")}: token still " +
              s"rejected after ${attempt + 1} attempts " +
              s"(maxRetries=${fetch.maxRetries})")
        val state = tokState.getOrElse(throw new IllegalStateException(
          s"HTTP 401 (simulated) for ${part.resource} and no `token`/" +
            "`tokenProvider` configured — the request cannot be " +
            "authenticated"))
        state.refreshFrom(tok.get)
        attempt += 1
      } else if (failing && attempt < fetch.fail429Count) {
        RestFetchRuntime.simulated429s.incrementAndGet()
        if (attempt >= fetch.maxRetries)
          throw new java.io.IOException(
            s"HTTP 429 (simulated) for ${part.resource} " +
              s"${part.dates.headOption.getOrElse("-")} after " +
              s"${attempt + 1} attempts (maxRetries=${fetch.maxRetries})")
        Thread.sleep(fetch.retryBackoffMs << attempt)
        attempt += 1
      } else ok = true
    }
    fetched = true
  }

  private def startDay(d: String): Unit = {
    date = UTF8String.fromString(d)
    val prefix = s"iv|${part.resource}|$d|".getBytes(UTF_8)
    msg = java.util.Arrays.copyOf(prefix, prefix.length + timeLen)
    timeAt = prefix.length
  }

  private def value(): Long = {
    md5.update(msg)
    md5.digest(digest, 0, digest.length)
    Portable.h60Digest(digest) % 1000
  }

  override def next(): Boolean = {
    if (!fetched && total > 0) fetchOnce()
    i += 1
    if (i < total && i % perDay == 0) startDay(part.dates(i / perDay))
    i < total
  }

  override def get(): InternalRow = {
    RestIntradaySource.writeTime(i % perDay, msg, timeAt, timeLen)
    var c = 0
    while (c < cols.length) {
      cols(c) match {
        case 0 => row.update(c, resource)
        case 1 => row.update(c, date)
        case 2 => row.update(c, UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(msg, timeAt, msg.length)))
        case _ => row.setLong(c, value())
      }
      c += 1
    }
    row
  }

  override def close(): Unit = ()
}
