package graft.perfbench

import java.util.SplittableRandom

import graft.ingest.{BreweryApiClient, HttpReply}

/** An in-process stand-in for the brewery REST API: 50 pages of 200
  * records per run-date (the reference's 10k-record cap), generated from
  * the seed. States and cities number 50 and 100, as in the reference's
  * 10k-record performance fixture, and are Zipf-skewed; about 1% of
  * records are malformed (null id, empty id, non-numeric coordinates); a
  * seeded share of exchanges answers 429 or 503 with `Retry-After`, never
  * more than twice in a row for one page, so the client's retry path runs
  * but its retry budget is never exhausted. The skew exponents, the
  * brewery types, the failure rate and the `Retry-After` values are
  * picks, not measurements of the real API. */
final class FakeBreweryApi(seed: Long) {
  import FakeBreweryApi.Day
  private val FailRate = 0.04

  val PerPage = 200
  val Pages = 50

  private val states = Zipf(50, 1.1)
  private val cities = Zipf(100, 1.2)
  private val types = Array("micro", "brewpub", "regional", "large", "planning",
    "contract", "proprietor", "closed")

  private def coord(x: Double): String = "\"%.6f\"".formatLocal(java.util.Locale.ROOT, x)

  def day(d: Int): Day = {
    val rnd = new SplittableRandom(seed * 1000003L + d)
    var nonNull = 0L
    val pages = Array.tabulate(Pages) { p =>
      val recs = (0 until PerPage).map { r =>
        val n = p * PerPage + r
        val malformed = if (rnd.nextDouble() < 0.01) rnd.nextInt(3) else -1
        val id =
          if (malformed == 0) "null"
          else if (malformed == 1) "\"\""
          else s""""b-$d-$n""""
        if (malformed != 0) nonNull += 1
        val st = states.sample(rnd)
        val city = cities.sample(rnd)
        val (lon, lat) =
          if (malformed == 2) ("\"n/a\"", "\"unknown\"")
          else (coord(-124.0 + rnd.nextDouble() * 57), coord(25.0 + rnd.nextDouble() * 24))
        s"""{"id":$id,"name":"Brewery $d-$n","brewery_type":"${types(rnd.nextInt(types.length))}",""" +
          s""""address_1":"${rnd.nextInt(9999)} Main St","address_2":null,"address_3":null,""" +
          s""""city":"City $city","state_province":"State $st","postal_code":"${10000 + rnd.nextInt(89999)}",""" +
          s""""country":"United States","longitude":$lon,"latitude":$lat,""" +
          s""""phone":"${5550000000L + rnd.nextInt(999999)}","website_url":"http://b$n.example",""" +
          s""""state":"State $st","street":"Main St"}"""
      }
      recs.mkString("[", ",", "]")
    }
    Day(pages, nonNull, pages.map(_.length.toLong).sum)
  }

  /** Exchange counters of the last client built by [[client]]. */
  var exchanges = 0L
  var retries = 0L
  var backoffMs = 0L

  /** A production [[BreweryApiClient]] bound to `day`'s pages: the
    * transport serves them, the sleeper records the wait the client asked
    * for instead of sleeping. */
  def client(day: Day, d: Int): BreweryApiClient = {
    val rnd = new SplittableRandom(seed * 7919L + d)
    var lastPage = -1
    var failsInRow = 0
    new BreweryApiClient("http://breweries.invalid/v1/breweries", url => {
      exchanges += 1
      val page = url.split("[?&]").collectFirst {
        case kv if kv.startsWith("page=") => kv.drop(5).toInt
      }.getOrElse(1)
      if (page != lastPage) { lastPage = page; failsInRow = 0 }
      if (failsInRow < 2 && rnd.nextDouble() < FailRate) {
        failsInRow += 1
        retries += 1
        val status = if (rnd.nextBoolean()) 429 else 503
        HttpReply(status, Map("retry-after" -> (1 + rnd.nextInt(2)).toString), "")
      } else {
        failsInRow = 0
        HttpReply(200, Map.empty,
          if (page >= 1 && page <= Pages) day.pages(page - 1) else "[]")
      }
    }, sleeper = ms => backoffMs += ms)
  }
}

object FakeBreweryApi {
  /** One run-date's pages (JSON array bodies), the count of records a
    * correct Silver keeps (non-null id), and the pages' bytes. */
  final case class Day(pages: Array[String], nonNullIds: Long, userBytes: Long)
}

/** Zipf(s) over 1..n by inverse CDF. */
final case class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def sample(rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else -i - 1).min(n - 1) + 1
  }
}
