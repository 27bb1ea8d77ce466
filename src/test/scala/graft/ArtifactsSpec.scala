package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The session artifact store's contract: once-only builds under races,
  * legal nesting, retry after a failed build, `forget`, the stopped-session
  * sweep and the per-dir key. No data is read: the Tables handles here
  * name dirs that are never opened. */
class ArtifactsSpec extends SharedSparkSpec {
  private def tables(): Tables =
    new Tables(spark, s"artifacts-spec/${java.util.UUID.randomUUID()}")

  test("a builder may read another artifact (nested get)") {
    val t = tables()
    val v = Artifacts.get(t, "outer") {
      Artifacts.get(t, "inner")(20) + 1
    }
    assert(v == 21)
    assert(Artifacts.built(t, "outer") && Artifacts.built(t, "inner"))
    assert(Artifacts.get[Int](t, "inner")(fail("inner must not rebuild")) == 20)
  }

  test("8 threads racing on one name: exactly 1 build, one value for all") {
    val t = tables()
    val name = s"race-${java.util.UUID.randomUUID()}"
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val all = Future.sequence((1 to 8).map(_ => Future {
        start.await()
        Artifacts.get(t, name) {
          builds.incrementAndGet()
          Thread.sleep(50)
          new Object
        }
      }))
      start.countDown()
      val values = Await.result(all, 30.seconds)
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
      assert(Artifacts.charges(name).builds == 1)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a throwing builder leaves the entry unbuilt and the next get rebuilds") {
    val t = tables()
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      Artifacts.get[Int](t, "flaky") {
        builds.incrementAndGet()
        throw new IllegalStateException("boom")
      }
    }
    assert(!Artifacts.built(t, "flaky"))
    assert(Artifacts.get(t, "flaky") { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get == 2)
    assert(Artifacts.built(t, "flaky"))
  }

  test("forget returns the value and forces a rebuild") {
    val t = tables()
    assert(Artifacts.forget[String](t, "doc").isEmpty)
    Artifacts.get(t, "doc")("first")
    assert(Artifacts.forget[String](t, "doc").contains("first"))
    assert(!Artifacts.built(t, "doc"))
    assert(Artifacts.get(t, "doc")("second") == "second")
  }

  test("entries of a stopped session are swept") {
    val live = tables()
    val other = new Tables(spark.newSession(), live.dir)
    Artifacts.get(live, "kept")(1)
    Artifacts.get(other, "kept")(2)
    Artifacts.sweep(_ eq other.spark)
    assert(!Artifacts.built(other, "kept"))
    assert(Artifacts.built(live, "kept"))
    assert(Artifacts.get[Int](live, "kept")(fail("live entry must survive")) == 1)
  }

  test("the same name under two dirs is two entries") {
    val (a, b) = (tables(), tables())
    assert(Artifacts.get(a, "model")("a") == "a")
    assert(Artifacts.get(b, "model")("b") == "b")
    Artifacts.forget[String](a, "model")
    assert(Artifacts.built(b, "model") && !Artifacts.built(a, "model"))
  }
}
