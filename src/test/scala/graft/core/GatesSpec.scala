package graft.core

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}

/** Boundary pins for the gate policy in [[Gates]], plus a source lint that
  * keeps the policy in that one file.
  */
class GatesSpec extends SparkSpec {

  private def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
    Gates.hint(df)(df).queryExecution.analyzed.collectFirst {
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
    }.getOrElse(false)

  test("a count exactly at the limit broadcasts; one row more shuffles") {
    val five = Pinned.checkpoint(spark.range(5).toDF("id"))
    val six = Pinned.checkpoint(spark.range(6).toDF("id"))
    Gates.scoped(broadcastRows = 5L) {
      assert(hinted(five), "5 rows at a limit of 5 must broadcast")
      assert(!hinted(six), "6 rows over a limit of 5 must not force a broadcast")
    }
    // the default limit, and the other two counted gates, at their edges
    assert(Gates.broadcastable(Gates.BroadcastRows))
    assert(!Gates.broadcastable(Gates.BroadcastRows + 1))
    assert(!Gates.prunes(Gates.PruneMinRows))
    assert(Gates.prunes(Gates.PruneMinRows + 1))
    Gates.scoped(driverEdgeRows = 5L) {
      assert(Gates.driverSized(five))
      assert(!Gates.driverSized(six))
    }
  }

  test("a row-bounded side broadcasts while its rows fit the bytes of the row limit") {
    def bounded(df: org.apache.spark.sql.DataFrame, rows: Long): Boolean =
      Gates.hintBounded(df, rows).queryExecution.analyzed.collectFirst {
        case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
      }.getOrElse(false)
    // (long, long) rows are the unit of the limit; a (long, long, long,
    // long) row counts twice
    val narrow = spark.range(1).selectExpr("id", "id AS id2")
    val wide = spark.range(1).selectExpr("id", "id AS a", "id AS b", "id AS c")
    Gates.scoped(broadcastRows = 6L) {
      assert(bounded(narrow, 6L) && !bounded(narrow, 7L))
      assert(bounded(wide, 3L) && !bounded(wide, 4L))
    }
    // no overflow at a grid count past Long.MaxValue / 16
    assert(bounded(narrow, Gates.BroadcastRows) && !bounded(narrow, Long.MaxValue))
  }

  private def atDefaults(): Boolean =
    Gates.fuse && Gates.broadcastable(Gates.BroadcastRows) &&
      !Gates.broadcastable(Gates.BroadcastRows + 1) &&
      !Gates.prunes(Gates.PruneMinRows) && Gates.prunes(Gates.PruneMinRows + 1)

  test("scoped restores the defaults after its body throws, and does not leak into another thread") {
    intercept[IllegalStateException] {
      Gates.scoped(broadcastRows = 0L, pruneMinRows = 0L, fuse = false) {
        assert(!Gates.fuse && !Gates.broadcastable(1L) && Gates.prunes(1L))
        throw new IllegalStateException("boom")
      }
    }
    assert(atDefaults(), "scoped leaked its overrides past a throwing body")
    // nested scopes keep the outer overrides they do not name
    Gates.scoped(broadcastRows = 0L) {
      Gates.scoped(fuse = false) {
        assert(!Gates.fuse && !Gates.broadcastable(1L))
      }
      assert(Gates.fuse && !Gates.broadcastable(1L))
    }
    // a thread already running while another thread is inside a scope
    // keeps the defaults
    val entered = new CountDownLatch(1)
    val read = new CountDownLatch(1)
    @volatile var seen: Option[Boolean] = None
    val other = new Thread(() => {
      entered.await(30, TimeUnit.SECONDS)
      seen = Some(atDefaults())
      read.countDown()
    })
    other.start()
    Gates.scoped(broadcastRows = 0L, pruneMinRows = 0L, driverEdgeRows = 0L,
      fuse = false) {
      entered.countDown()
      assert(read.await(30, TimeUnit.SECONDS), "the other thread never read")
      assert(!Gates.fuse)
    }
    other.join()
    assert(seen.contains(true), "scoped overrides leaked into another thread")
  }

  test("the limits and the count-compare gate live only in Gates.scala") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"source root not found from ${new File(".").getAbsolutePath}")
    def files(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val countCompare = """\.count\(\)\s*<=""".r
    val offenders = for {
      f <- files(root) if f.getName != "Gates.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains("4000000L") || countCompare.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
