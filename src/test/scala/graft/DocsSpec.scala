package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.scalatest.funsuite.AnyFunSuite

/** The docs point only at what exists: every `tools/...` path that
  * README.md or the verify skill cites is in the tree, every
  * `graft.<Name>` they cite loads as a Scala object, and every
  * backticked `Object.member` in OPERATORS.md that names a graft object
  * is declared as a def or val in that object's source. */
class DocsSpec extends AnyFunSuite {

  test("README and the verify skill cite only live tools and graft objects") {
    val missing = for {
      doc <- Seq("README.md", ".claude/skills/verify/SKILL.md")
      text = new String(Files.readAllBytes(Paths.get(doc)), "UTF-8")
      ref <- """tools/[\w./-]*[\w/]""".r.findAllIn(text).filterNot(p => Files.exists(Paths.get(p))) ++
        """\bgraft\.([A-Z]\w*)""".r.findAllMatchIn(text).map(_.group(0))
          .filter(n => Try(Class.forName(n + "$")).isFailure)
    } yield s"$doc: $ref"
    assert(missing.isEmpty, missing.distinct.mkString("\n"))
  }

  test("OPERATORS.md cites only live members of graft objects") {
    val sources = Using.resource(Files.walk(Paths.get("src/main/scala"))) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => new String(Files.readAllBytes(p), "UTF-8")).toList
    }
    // object name -> the sources declaring it
    val objects = sources.flatMap(t =>
      """\bobject (\w+)""".r.findAllMatchIn(t).map(_.group(1) -> t)).groupMap(_._1)(_._2)
    val text = new String(Files.readAllBytes(Paths.get("OPERATORS.md")), "UTF-8")
    val refs = for {
      span <- "`([^`\n]+)`".r.findAllMatchIn(text).map(_.group(1)).toSeq
      m <- """\b([A-Z]\w*)\.(\w+)""".r.findAllMatchIn(span)
      if objects.contains(m.group(1))
    } yield (m.group(1), m.group(2))
    assert(refs.size > 100, s"only ${refs.size} object references found")
    val stale = refs.distinct.filterNot { case (obj, member) =>
      val decl = s"\\b(def|val)\\s+$member\\b".r
      objects(obj).exists(t => decl.findFirstIn(t).isDefined)
    }
    assert(stale.isEmpty, stale.map { case (o, m) => s"$o.$m" }.mkString("\n"))
  }
}
