package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite

class ChStubSpec extends AnyFunSuite {

  private val client = HttpClient.newHttpClient()

  private def post(stub: ChStub, body: String): Int =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${stub.port}/?query=INSERT"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

  private def withStub(f: ChStub => Unit): Unit = {
    val stub = new ChStub(2)
    try f(stub) finally stub.stop()
  }

  private val expected = Seq("""{"id":1,"_lsn":10}""", """{"id":2,"_lsn":11}""", """{"id":3,"_lsn":12}""")

  test("records each POST's rows, bytes and receive interval") {
    withStub { stub =>
      assert(post(stub, expected.take(2).mkString("\n")) === 200)
      assert(post(stub, expected(2)) === 200)
      val ps = stub.acked
      assert(ps.map(_.rows.size) === Seq(2, 1))
      assert(ps.head.bytes === expected.take(2).mkString("\n").length)
      assert(ps.forall(p => p.startUs <= p.ackUs))
      assert(ChStub.diff(expected, ps.flatMap(_.rows)) === ((Map.empty, Map.empty)))
    }
  }

  test("a dropped row is reported missing") {
    withStub { stub =>
      post(stub, expected.take(2).mkString("\n"))
      val (missing, extra) = ChStub.diff(expected, stub.acked.flatMap(_.rows))
      assert(missing === Map(expected(2) -> 1))
      assert(extra.isEmpty)
    }
  }

  test("a duplicated row is reported extra") {
    withStub { stub =>
      post(stub, expected.mkString("\n"))
      post(stub, expected(1))
      val (missing, extra) = ChStub.diff(expected, stub.acked.flatMap(_.rows))
      assert(missing.isEmpty)
      assert(extra === Map(expected(1) -> 1))
    }
  }

  test("the chosen POST is answered 500 and its rows are not acked") {
    withStub { stub =>
      assert(post(stub, expected(0)) === 200)
      stub.failAt(2)
      assert(post(stub, expected(0)) === 200)
      assert(post(stub, expected(1)) === 500)
      assert(post(stub, expected(1)) === 200) // the retry
      assert(stub.errors === 1)
      assert(stub.acked.flatMap(_.rows) === Seq(expected(0), expected(0), expected(1)))
    }
  }
}
