package graft

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** [[SessionMemo]] semantics in the shared test session. Each test uses
  * its own namespace: the suites share one session and one memo.
  */
class SessionMemoSpec extends SparkSpec {

  private def ns(t: String) = s"spec.$t.${java.util.UUID.randomUUID()}"

  test("a build that looks up another key of the memo returns") {
    val n = ns("nested")
    val v = SessionMemo(spark, n, "outer")(SessionMemo(spark, n, "inner")(20) + 1)
    assert(v == 21)
    assert(SessionMemo(spark, n, "inner")(0) == 20)
  }

  test("eight threads asking for one key run the build once") {
    val n = ns("threads")
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Future.sequence((1 to 8).map(_ => Future(
        SessionMemo(spark, n, "k") {
          builds.incrementAndGet()
          Thread.sleep(200)
          "v"
        })))
      assert(Await.result(got, 60.seconds).toSet == Set("v"))
      assert(builds.get == 1)
    } finally pool.shutdown()
  }

  test("a build that throws leaves no entry; the next call rebuilds") {
    val n = ns("throws")
    intercept[IllegalStateException](
      SessionMemo[Int](spark, n, "k")(throw new IllegalStateException("boom")))
    assert(SessionMemo.countPrefix(spark, n, "") == 0)
    assert(SessionMemo(spark, n, "k")(7) == 7)
    assert(SessionMemo.countPrefix(spark, n, "") == 1)
  }

  test("two namespaces with one (session, dir) key do not collide") {
    val (pairs, verdicts) = (ns("pairs"), ns("verdicts"))
    val dir = "/corpus/sf"
    assert(SessionMemo(spark, pairs, dir)("pairs") == "pairs")
    assert(SessionMemo(spark, verdicts, dir)("verdicts") == "verdicts")
    assert(SessionMemo(spark, pairs, dir)("rebuilt") == "pairs")
  }

  test("entries belong to one session; dropPrefix spares the kept key") {
    val n = ns("drop")
    val other = spark.newSession()
    SessionMemo(spark, n, "t.v1")(1)
    SessionMemo(spark, n, "t.v2")(2)
    assert(SessionMemo(other, n, "t.v1")(10) == 10)
    SessionMemo.dropPrefix(n, "t.v", keep = Some("t.v2"))
    assert(SessionMemo.countPrefix(spark, n, "t.v") == 1)
    assert(SessionMemo.countPrefix(other, n, "t.v") == 0)
    assert(SessionMemo(spark, n, "t.v2")(0) == 2)
  }
}
