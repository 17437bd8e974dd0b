package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Caching

/** The scoped contract of Caching: a frame cached inside `scoped` lives
  * until that scope exits (normally or by a throw), frames cached by
  * someone else stay theirs, and outside any scope nothing is cached.
  */
class CachingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def isCached(df: org.apache.spark.sql.DataFrame) = df.storageLevel != StorageLevel.NONE

  test("cached: idempotent for the same canonical plan — one registry entry, stays persisted") {
    Caching.scoped {
      val df = Seq(1, 2, 3).toDF("x").filter($"x" > 1)
      val c1 = Caching.cached(df)
      c1.count()
      assert(Caching.registrySize == 1)
      // a structurally identical but distinct DataFrame object: same entry
      val c2 = Caching.cached(Seq(1, 2, 3).toDF("x").filter($"x" > 1))
      assert(Caching.registrySize == 1)
      assert(isCached(c2))
    }
    assert(Caching.registrySize == 0)
  }

  test("scoped: releases its frames on normal exit and when the body throws") {
    val a = Seq(11).toDF("x").filter($"x" > 0)
    val n = Caching.scoped { Caching.cached(a).count() }
    assert(n == 1 && !isCached(a))
    val b = Seq(12).toDF("x").filter($"x" > 0)
    intercept[IllegalStateException] {
      Caching.scoped {
        Caching.cached(b).count()
        assert(isCached(b))
        throw new IllegalStateException("boom")
      }
    }
    assert(!isCached(b))
    assert(Caching.registrySize == 0)
  }

  test("scoped: a frame someone else cached first is left persisted") {
    val shared = Seq(13).toDF("x").filter($"x" > 0).cache()
    try {
      Caching.scoped {
        Caching.cached(Seq(13).toDF("x").filter($"x" > 0)).count()
        assert(Caching.registrySize == 0, "a frame cached before the scope is not the scope's to track")
      }
      assert(isCached(shared))
    } finally shared.unpersist()
  }

  test("scoped: a nested scope releases only its own frames") {
    val outer = Seq(14).toDF("x").filter($"x" > 0)
    val inner = Seq(15).toDF("x").filter($"x" > 0)
    Caching.scoped {
      Caching.cached(outer)
      Caching.scoped {
        Caching.cached(inner)
        // already cached by the outer scope: the inner scope must not take it
        Caching.cached(Seq(14).toDF("x").filter($"x" > 0))
        assert(Caching.registrySize == 2)
      }
      assert(!isCached(inner))
      assert(isCached(outer))
      assert(Caching.registrySize == 1)
    }
    assert(!isCached(outer))
    assert(Caching.registrySize == 0)
  }

  test("cached: outside any scope returns the frame uncached") {
    val df = Seq(16).toDF("x").filter($"x" > 0)
    assert(Caching.cached(df) eq df)
    assert(!isCached(df))
    assert(Caching.registrySize == 0)
  }

  test("no raw cache(), persist( or unpersist( in src/main outside core/Caching.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath} is missing")
    val raw = """\.(cache\(\)|persist\(|unpersist\()""".r
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_.endsWith(Paths.get("core", "Caching.scala")))
        .flatMap { f =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if raw.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
          }
        }.toList
      finally walk.close()
    assert(offenders.isEmpty, "cache through graft.core.Caching.scoped/cached instead:\n" + offenders.mkString("\n"))
  }
}
