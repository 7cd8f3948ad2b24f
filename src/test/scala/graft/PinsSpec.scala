package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.Pins

/** The pin lifetime model: every pin registers with the innermost scope
  * open on its own thread, and releasing a scope frees exactly its pins. */
class PinsSpec extends SparkSpec {

  private def frame(n: Int): DataFrame = spark.range(n).toDF("x")

  private def pinned(ids: Set[Int]): Set[Int] =
    ids.filter(spark.sparkContext.getPersistentRDDs.contains)

  private def leafIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  test("nested scopes: the inner scope owns its pins, the outer keeps its own") {
    val ((inner, innerScope), outerScope) = Pins.scoped {
      val a = Pins.checkpoint(frame(10))
      val (b, s) = Pins.scoped(Pins.checkpoint(frame(20)))
      assert(a.count() == 10)
      (b, s)
    }
    assert(innerScope.ids.nonEmpty && outerScope.ids.nonEmpty)
    assert(innerScope.ids.intersect(outerScope.ids).isEmpty,
      "a pin registered with both scopes")
    innerScope.release()
    assert(pinned(innerScope.ids).isEmpty)
    assert(pinned(outerScope.ids) == outerScope.ids,
      "releasing the inner scope freed the outer scope's pins")
    outerScope.release()
    assert(pinned(outerScope.ids).isEmpty)
    assert(inner.columns.toSeq == Seq("x"))
  }

  test("Scope.release is idempotent and also frees RDD pins") {
    val (df, scope) = Pins.scoped {
      val rdd = Pins.pin(spark.sparkContext.parallelize(1 to 100, 2))(
        Pins.Persist)
      assert(rdd.count() == 100)
      Pins.checkpoint(frame(5))
    }
    assert(scope.ids.size == 2)
    assert(df.count() == 5)
    scope.release()
    assert(pinned(scope.ids).isEmpty)
    scope.release()
    scope() // a scope is its own release callback
    assert(pinned(scope.ids).isEmpty)
  }

  test("a pin taken outside any scope survives the release of an unrelated scope") {
    val standing = Pins.checkpoint(frame(7))
    val (_, scope) = Pins.scoped(Pins.checkpoint(frame(3)).count())
    scope.release()
    assert(standing.count() == 7)
    val ids = leafIds(standing)
    assert(pinned(ids) == ids, "an unscoped pin was freed by another scope")
    assert(ids.intersect(scope.ids).isEmpty)
    Pins.release(standing)
    Pins.release(standing) // idempotent
    assert(pinned(ids).isEmpty)
  }

  test("scopes are per thread: A's open scope never captures B's pin") {
    var bOutside: DataFrame = null
    var bScopeIds = Set.empty[Int]
    val (aFrame, aScope) = Pins.scoped {
      val a = Pins.checkpoint(frame(11))
      // thread B pins outside any scope, then in and out of its own scope,
      // all while A's scope is open
      val b = new Thread(() => {
        bOutside = Pins.checkpoint(frame(13))
        val (_, bScope) = Pins.scoped(Pins.checkpoint(frame(17)).count())
        bScopeIds = bScope.ids
        bScope.release()
      })
      b.start()
      b.join()
      a
    }
    assert(bScopeIds.nonEmpty)
    assert(aScope.ids.intersect(bScopeIds ++ leafIds(bOutside)).isEmpty,
      "thread A's scope captured a pin thread B took")
    // B's release left A's pins alone: A's frame still counts from them
    assert(pinned(aScope.ids) == aScope.ids)
    assert(aFrame.count() == 11)
    aScope.release()
    Pins.release(bOutside)
  }

  test("a body that throws releases its scope") {
    var ids = Set.empty[Int]
    val e = intercept[IllegalStateException] {
      Pins.scoped {
        ids = leafIds(Pins.checkpoint(frame(4)))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(ids.nonEmpty && pinned(ids).isEmpty)
  }

  test("every localCheckpoint, persist, cache, checkpoint and unpersist in src/main goes through Pins") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val call =
      """\.localCheckpoint\(|\.persist\(|\.cache\(\)|(?<!Pins)\.checkpoint\(|\.unpersist\(""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Pins.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          // code only: scaladoc lines and line comments may name calls
          case (line, i) if !line.trim.startsWith("*") &&
              call.findFirstIn(line.split("//", 2)(0)).nonEmpty =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"pins taken or freed outside Pins:\n${offenders.mkString("\n")}")
  }
}
