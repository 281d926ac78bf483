package graft.api

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{TestSpark, Tsdb}

/** End-to-end drive of the JSON read endpoint: real HTTP requests against
  * a served Tsdb holding the reference's notebook dataset
  * (app/__init__.py:46-61), mirroring the /graph and / routes
  * (app/__init__.py:169-232).
  */
class HttpApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val notebookPoints = Seq(
    ("one", 5.0, 2.0), ("two", 6.0, 4.0), ("one", 8.0, 1.0),
    ("two", 12.0, 4.0), ("one", 16.0, 5.0), ("one", 22.0, 2.0),
    ("one", 31.0, 1.0), ("one", 33.0, 2.0), ("two", 40.0, 6.0),
    ("one", 48.0, 4.0))

  private lazy val tsdb = {
    val root = Files.createTempDirectory("graft-http").toString
    val t = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => 1000.0)
    t.insert(notebookPoints)
    t.sync()
    t
  }

  private def withServer[T](f: Int => T): T = {
    val api = new HttpApi(tsdb, "127.0.0.1", 0).start()
    try f(api.boundPort) finally api.close()
  }

  private def get(port: Int, pathAndQuery: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), UTF_8)
    conn.disconnect()
    (code, body)
  }

  test("GET /graph returns the prepared series as JSON") {
    withServer { port =>
      val (code, body) = get(port,
        "/graph?metrics.0.name=one&metrics.0.period=tensecond" +
          "&metrics.0.stat=avg&metrics.1.name=two" +
          "&metrics.1.period=tensecond&metrics.1.stat=avg" +
          "&start=0&end=60&title=t")
      assert(code == 200)
      // same numbers GraphSpec asserts via graphData, serialized
      assert(body.contains(
        """{"label":"one","timestamps_ms":[0.0,10000.0,20000.0,30000.0,40000.0],""" +
          """"values":[1.5,5.0,2.0,1.5,4.0]}"""))
      assert(body.contains(
        """{"label":"two","timestamps_ms":[0.0,10000.0,40000.0],""" +
          """"values":[4.0,4.0,6.0]}"""))
      assert(body.contains(""""title":"t""""))
      assert(body.contains(""""start":0.0"""))
      assert(body.contains(""""end":60.0"""))
    }
  }

  test("GET /graph with no metrics is an empty graph, not an error") {
    withServer { port =>
      val (code, body) = get(port, "/graph?start=0&end=60")
      assert(code == 200)
      assert(body.contains(""""series":[]"""))
    }
  }

  test("GET / lists every metric path") {
    withServer { port =>
      val (code, body) = get(port, "/")
      assert(code == 200)
      assert(body.contains(""""metrics":["one","two"]"""))
      assert(body.contains(""""start":null"""))
    }
  }

  test("GET / echoes a parsed start like the reference index route") {
    withServer { port =>
      val (code, body) = get(port, "/?start=2020-01-01T00:00:00")
      assert(code == 200)
      assert(body.contains(""""start":1.5778368E9"""))
    }
  }

  test("unknown route is 404; bad datetime is 400") {
    withServer { port =>
      assert(get(port, "/nosuch")._1 == 404)
      val (code, body) = get(port, "/?start=notadate")
      assert(code == 400)
      assert(body.contains("error"))
    }
  }

  test("GET /graph with an unknown stat or period in any position is 400") {
    def metric(i: Int, period: String, stat: String) =
      s"metrics.$i.name=one&metrics.$i.period=$period&metrics.$i.stat=$stat"
    withServer { port =>
      for {
        (period, stat, msg) <- Seq(("tensecond", "p95", "unknown stat: p95"),
          ("nosuch", "avg", "unknown period: nosuch"))
        badAt <- 0 to 1
      } {
        val q = (0 to 1).map(i =>
          if (i == badAt) metric(i, period, stat) else metric(i, "tensecond", "avg"))
        val (code, body) = get(port, q.mkString("/graph?", "&", "&start=0&end=60"))
        assert(code == 400, q)
        assert(body.contains(msg), body)
      }
    }
  }

  test("threads > 1: the index answers while a slow /graph holds a worker") {
    // a clock that, once armed, parks the /graph request inside
    // Graph.parseRequest -> tsdb.now() until released — a deterministic
    // stand-in for a slow Spark query holding one pool worker
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var arm = false
    val root = Files.createTempDirectory("graft-http-pool").toString
    val slow = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => {
        if (arm) {
          entered.countDown()
          release.await(30, java.util.concurrent.TimeUnit.SECONDS)
        }
        1000.0
      })
    slow.insert(notebookPoints)
    slow.sync()
    val api = new HttpApi(slow, "127.0.0.1", 0, threads = 2).start()
    try {
      val port = api.boundPort
      arm = true
      @volatile var graphResult: (Int, String) = null
      val t = new Thread(() => graphResult = get(port,
        "/graph?metrics.0.name=one&metrics.0.period=tensecond" +
          "&metrics.0.stat=avg&start=0&end=60"))
      t.start()
      assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "/graph never reached the armed clock")
      // while /graph is parked on the first worker, the index must answer
      // on the second (the default serial executor would queue it)
      val (code, body) = get(port, "/")
      assert(code == 200)
      assert(body.contains(""""metrics":["one","two"]"""))
      arm = false
      release.countDown()
      t.join(30000)
      assert(graphResult != null && graphResult._1 == 200)
    } finally {
      arm = false
      release.countDown()
      api.close()
    }
  }

  test("URL-decoding and first-occurrence-wins query semantics") {
    withServer { port =>
      val (code, body) = get(port,
        "/graph?metrics.0.name=one&metrics.0.period=tensecond" +
          "&metrics.0.stat=avg&start=0&end=60&title=a%20b&title=zzz")
      assert(code == 200)
      assert(body.contains(""""title":"a b""""))
    }
  }
}
