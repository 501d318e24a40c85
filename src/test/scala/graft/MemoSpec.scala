package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{evict, memoKey, memoized, spooled}

/** The build-once memo (`graft.operators.spooled`/`memoized`/`evict`) on
  * its own, without Spark: nested builds, key injectivity, failed builds.
  * EvictorSpec covers it through the registered artifacts. */
class MemoSpec extends AnyFunSuite {

  private def bump(counts: ConcurrentHashMap[String, AtomicInteger], key: String): Unit =
    counts.computeIfAbsent(key, _ => new AtomicInteger(0)).incrementAndGet()

  test("memoized: a build that reads another memo runs each build exactly once") {
    // the shape of pq9 → coarse: an outer model trained from an inner one,
    // over enough dirs that the keys share hash bins
    val dirs = (0 until 96).map(i => s"/data/sf0.1_$i")
    val inner, outer = new ConcurrentHashMap[String, AtomicInteger]()
    def coarse(d: String): Vector[Int] = memoized("memo_spec_coarse", d) {
      bump(inner, d); Vector(d.length)
    }
    def pq(d: String): Vector[Int] = memoized("memo_spec_pq", d) {
      bump(outer, d); coarse(d) ++ coarse(d)
    }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val calls = for (_ <- 1 to 4; d <- dirs) yield Future(d -> pq(d))
      calls.foreach { c =>
        val (d, v) = Await.result(c, 1.minute)
        assert(v == Vector(d.length, d.length))
      }
    } finally pool.shutdown()
    dirs.foreach { d =>
      assert(inner.get(d).get == 1, s"inner built ${inner.get(d)} times for $d")
      assert(outer.get(d).get == 1, s"outer built ${outer.get(d)} times for $d")
      evict("memo_spec_pq", d); evict("memo_spec_coarse", d)
    }
  }

  test("memoized: a failed build is not cached; evict forces a fresh build") {
    val d = "/data/sf0.1"
    intercept[IllegalStateException](
      memoized[AnyRef]("memo_spec_fail", d)(throw new IllegalStateException("boom")))
    val first = memoized("memo_spec_fail", d)(new Object)
    assert(memoized("memo_spec_fail", d)(new Object) eq first)
    evict("memo_spec_fail", d)
    assert(memoized("memo_spec_fail", d)(new Object) ne first)
    evict("memo_spec_fail", d)
  }

  test("spooled: keys and spool paths are injective in dir") {
    // mangling alone maps each pair to one name
    for ((a, b) <- Seq("/data/sf0.1" -> "/data_sf0.1", "/data/sf0.1" -> "/data/sf0_1")) {
      assert(memoKey("x_spool_st18dlq", a) != memoKey("x_spool_st18dlq", b))
      def build(d: String) = spooled("memo_spec_inj", d) { p =>
        Files.createDirectories(Paths.get(p))
        Files.writeString(Paths.get(p, "dir.txt"), d)
      }
      val (pa, pb) = (build(a), build(b))
      assert(pa != pb)
      assert(Files.readString(Paths.get(pa, "dir.txt")) == a)
      assert(Files.readString(Paths.get(pb, "dir.txt")) == b)
      evict("memo_spec_inj", a); evict("memo_spec_inj", b)
    }
  }

  test("spooled: the memo marks a spool complete only after the writer returns") {
    val d = "/data/sf0.1"
    val writes = new AtomicInteger(0)
    intercept[IllegalStateException](spooled("memo_spec_half", d) { p =>
      writes.incrementAndGet()
      Files.createDirectories(Paths.get(p, "even"))
      throw new IllegalStateException("crash between the halves")
    })
    val p = spooled("memo_spec_half", d) { p =>
      writes.incrementAndGet()
      Files.createDirectories(Paths.get(p, "odd"))
    }
    assert(writes.get == 2, "a half-written spool was served")
    assert(Files.exists(Paths.get(p, "_SUCCESS")))
    spooled("memo_spec_half", d)(_ => writes.incrementAndGet())
    assert(writes.get == 2, "a complete spool was rebuilt")
    evict("memo_spec_half", d)
    assert(!Files.exists(Paths.get(p)))
  }
}
