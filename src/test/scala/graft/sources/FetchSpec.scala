package graft.sources

import java.net.InetSocketAddress
import java.nio.file.Files
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** S1–S4 against an in-JVM loopback HTTP server — the real transport code
  * path with zero egress. */
class FetchSpec extends AnyFunSuite {

  private def withServer(f: (String, () => Seq[String]) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    server.createContext("/", (ex: HttpExchange) => {
      val uri = ex.getRequestURI.toString
      seen.synchronized { seen += uri }
      val body =
        if (uri.contains("missing")) Array.empty[Byte]
        else s"BODY:$uri".getBytes("UTF-8")
      if (uri.contains("missing")) {
        ex.sendResponseHeaders(404, -1)
      } else {
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      }
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}",
      () => seen.synchronized(seen.toSeq))
    finally server.stop(0)
  }

  test("S1 estimate sweep writes the dated raw zone, tolerates failures") {
    withServer { (host, _) =>
      val base = Files.createTempDirectory("graft_fetch").toString
      val targets = Fetch.estimateTargets(
        Seq("AAPL", "missing", "MSFT"), LocalDate.of(2024, 1, 15), base,
        host = host, delayMillis = 0)
      val report = Fetch.sweep(targets, Fetch.httpTransport())
      assert(report.attempted === 3 && report.succeeded === 2 &&
        report.failed === 1)
      assert(report.errors.head._1.contains("/stock/quote/missing/"))
      val aapl = new java.io.File(
        s"$base/2024-01-15/AAPL.detailed-estimates.html")
      assert(Files.readString(aapl.toPath) ===
        "BODY:/stock/quote/AAPL/detailed-earning-estimates")
    }
  }

  test("S2 statement targets: three staggered docs per symbol") {
    val ts = Fetch.statementTargets(Seq("AAPL"), LocalDate.of(2024, 1, 15),
      "/raw", symbolDelayMillis = 12000)
    assert(ts.size === 3)
    assert(ts.map(_.url).exists(_.endsWith("/AAPL/cash-flow-statements")))
    assert(ts.forall(_.delayMillis === 4000L)) // 12 s / 3 docs
    assert(ts.map(_.path.toString).contains(
      "/raw/balance-sheet/2024-01-15/AAPL.balance-sheet.html"))
  }

  test("S3 calendar targets carry the posix-6am request key") {
    val ts = Fetch.calendarTargets(Seq(LocalDate.of(1970, 1, 2)),
      LocalDate.of(2024, 1, 15), calType = 1, baseDir = "/raw")
    assert(ts.head.url.endsWith(
      s"calltype=eventscal&type=1&date=${86400 + 21600}"))
    assert(ts.head.path.toString === "/raw/2024-01-15/1970-01-02.json")
    assert(Fetch.calendarHorizon(LocalDate.of(2024, 1, 1)).size === 42)
  }

  test("rate limiter spaces requests but fires the first immediately") {
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val dir = Files.createTempDirectory("graft_rl")
    val targets = Seq(
      Fetch.Target("u1", dir.resolve("a"), 100),
      Fetch.Target("u2", dir.resolve("b"), 100),
      Fetch.Target("u3", dir.resolve("c"), 100))
    val report = Fetch.sweep(targets, _ => Array[Byte](1),
      sleep = ms => slept += ms)
    assert(report.succeeded === 3)
    assert(slept.toSeq === Seq(100L, 100L)) // no delay before the first
  }

  private def allFiles(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(dir.relativize(_).toString).toSeq.sorted
    finally s.close()
  }

  test("sweep replaces by atomic move and leaves no temp file behind") {
    val dir = Files.createTempDirectory("graft_atomic")
    val day = Files.createDirectories(dir.resolve("2024-01-15"))
    def target(sym: String) = day.resolve(s"$sym.detailed-estimates.html")
    // a reader holding last week's OK document (a hard link to it) keeps
    // the whole old body: the new one arrives by rename, not in place
    Files.writeString(target("OK"), "old")
    Files.createLink(dir.resolve("held"), target("OK"))
    // a target that is a non-empty directory fails at the move, after the
    // temp file was written
    Files.createDirectories(target("BUSY"))
    Files.writeString(target("BUSY").resolve("x"), "keep")
    val targets = Seq("OK", "FAIL", "BUSY", "OK").map(sym =>
      Fetch.Target(s"u/$sym", target(sym)))
    var calls = 0
    val report = Fetch.sweep(targets, url => {
      calls += 1
      if (url.endsWith("FAIL")) throw new java.io.IOException("reset")
      s"$url#$calls".getBytes("UTF-8")
    })
    assert(report.attempted === 4 && report.succeeded === 2 &&
      report.failed === 2)
    assert(report.errors.map(_._1) === Seq("u/FAIL", "u/BUSY"))
    assert(allFiles(dir) === Seq(
      "2024-01-15/BUSY.detailed-estimates.html/x",
      "2024-01-15/OK.detailed-estimates.html",
      "held"))
    assert(Files.readString(target("OK")) === "u/OK#4")
    assert(Files.readString(dir.resolve("held")) === "old")
  }
}
