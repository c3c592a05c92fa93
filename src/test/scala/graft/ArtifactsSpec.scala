package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Artifacts

/** The query surface's one artifact registry: build-once under
  * concurrent callers, nested builds, drop-then-rebuild. Keys use a dir
  * no query reads, so they never collide with the suites' artifacts.
  */
class ArtifactsSpec extends AnyFunSuite {

  private val dir = "artifacts-spec"

  test("concurrent callers of one key share one build") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          Artifacts.get("concurrent", dir) {
            builds.incrementAndGet()
            Thread.sleep(200)
            new Object
          }
        })
      }
      start.countDown()
      val values = results.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a build may get another key") {
    val outer = Artifacts.get("outer", dir) {
      Artifacts.get("inner", dir)(21) * 2
    }
    assert(outer == 42)
    assert(Artifacts.get[Int]("inner", dir)(fail("inner was not memoized")) == 21)
  }

  test("drop followed by get rebuilds; a failed build is retried") {
    val builds = new AtomicInteger()
    def get() = Artifacts.get("dropped", dir)(builds.incrementAndGet())
    assert(get() == 1)
    assert(get() == 1)
    Artifacts.drop("dropped", dir)
    assert(get() == 2)
    Artifacts.drop("dropped", dir)
    Artifacts.drop("dropped", dir) // dropping an absent key is a no-op

    intercept[IllegalStateException] {
      Artifacts.get("failing", dir)(throw new IllegalStateException("boom"))
    }
    assert(Artifacts.get("failing", dir)("built") == "built")
  }

  test("no per-query memo map under graft/queries: Artifacts is the one") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/queries")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val stream = java.nio.file.Files.walk(root)
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("TrieMap"))
        .toList
      finally stream.close()
    assert(offenders.isEmpty, s"TrieMap memo in $offenders: use Artifacts.get")
  }
}
