package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** The run instructions point only at what exists: every `tools/...` path
  * that README.md or the verify skill cites is in the tree, and every
  * `graft.<Name>` they cite loads as a Scala object. */
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
}
