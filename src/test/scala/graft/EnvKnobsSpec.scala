package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class EnvKnobsSpec extends AnyFunSuite {

  test("every environment key src/main reads is listed in README's Environment knobs table") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath} is missing")
    val anyRead = """sys\.env\b|System\.getenv""".r
    val keyed = """(?:sys\.env(?:\.getOrElse|\.get|\.contains)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
    val walk = Files.walk(root)
    val lines =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.map { case (l, i) => (s"$f:${i + 1}", l) })
        .filter { case (_, l) => anyRead.findFirstIn(l).isDefined }
        .toList
      finally walk.close()
    // a read whose key is not a string literal cannot be checked against the table
    val opaque = lines.filter { case (_, l) => keyed.findAllIn(l).size < anyRead.findAllIn(l).size }
    assert(opaque.isEmpty, "read environment keys as literals:\n" + opaque.map { case (w, l) => s"$w: ${l.trim}" }.mkString("\n"))
    val read = lines.flatMap { case (w, l) => keyed.findAllMatchIn(l).map(_.group(1) -> w) }.toMap

    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val section = readme.split("\n## ").find(_.startsWith("Environment knobs"))
    assert(section.isDefined, "README.md has no '## Environment knobs' section")
    val listed = """(?m)^\|\s*`([A-Za-z0-9_]+)`""".r.findAllMatchIn(section.get).map(_.group(1)).toSet

    val missing = read.keySet -- listed
    assert(missing.isEmpty,
      "add these keys to README's Environment knobs table:\n" + missing.toSeq.sorted.map(k => s"$k (${read(k)})").mkString("\n"))
    val stale = listed -- read.keySet
    assert(stale.isEmpty, s"README lists keys nothing in src/main reads: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
