package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source-scan lint: [[GraftSession]] is the one place a SparkSession is
  * configured. Hand-written builders drifted apart before (one main
  * without the derived AQE width, one at a fixed `local[8]` without the
  * codegen cache, the test suite without the extensions), so any other
  * builder call under `src/` fails the build. */
class SessionFactoryLintSpec extends AnyFunSuite with Matchers {

  // split so this file does not match its own needle
  private val Needle = "SparkSession" + ".builder("

  private def repoRoot: File =
    Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .find(d => new File(d, "build.sbt").isFile && new File(d, "src/main/scala").isDirectory)
      .getOrElse(fail(s"no repo root above ${sys.props("user.dir")}"))

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("SparkSession.builder appears under src/ only in GraftSession") {
    val src = new File(repoRoot, "src")
    val files = scalaFiles(src)
    files.map(_.getName) should contain("GraftSession.scala")
    val hits = files.filter(f => Files.readString(f.toPath).contains(Needle))
      .map(f => src.toPath.relativize(f.toPath).toString)
    hits shouldBe Seq("main/scala/graft/GraftSession.scala")
  }
}
