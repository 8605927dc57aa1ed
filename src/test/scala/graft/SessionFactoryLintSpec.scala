package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source-scan lints.
  *
  * [[GraftSession]] is the one place a SparkSession is configured.
  * Hand-written builders drifted apart before (one main without the
  * derived AQE width, one at a fixed `local[8]` without the codegen cache,
  * the test suite without the extensions), so any other builder call under
  * `src/` fails the build.
  *
  * Stream starts go through [[graft.streaming.StreamingOps.start]], which
  * keeps a started stream on the engine's generated code; any other
  * `.start(` call under `src/main` fails the build. Specs start their
  * streams directly.
  *
  * SQL text reaches Spark from `graft.queries` only through
  * [[QueryDef.sql]], which runs a query's oracle text as its body: a
  * hand-copied text beside its oracle, or a temp view of its own, fails
  * the build.
  *
  * Reachability: the oracle and the bench check only what `SparkEntry`
  * reaches, so code under `src/main` that nothing else in `src/main`
  * names is untested by either. A public `def` no other code calls
  * needs a place on [[Unreached]]; a file whose types no other file
  * names needs a `main`. */
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

  /** Public defs that no code in src/main references: references the
    * specs compare the engine against, each named with its spec. */
  private val Unreached = Seq(
    // Dedup "containment": the unfiltered reference the prefix path is
    // spec-checked against (NewOpsR8Spec); dedup_containment covers the
    // capability through the prefix path
    "containmentPairs",
    // Gaussian.refPdf: the reference program's density, which the
    // RefCompat kernel's sums are checked against (EMKernelSpec)
    "refPdf").sorted

  /** Entry points: what a launcher calls, so nothing in src/main does. */
  private val Roots = Set("main", "entry")

  private val PublicDef = """(?m)^  (?:final |@inline )*def ([A-Za-z_]\w*)""".r
  private val Ident = "[A-Za-z_]\\w*".r

  private def withoutComments(code: String): String =
    code.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  /** Every src/main file's path under src/main/scala, without comments. */
  private def mainCode: Map[String, String] = {
    val main = new File(repoRoot, "src/main/scala")
    scalaFiles(main).map(f => main.toPath.relativize(f.toPath).toString ->
      withoutComments(Files.readString(f.toPath))).toMap
  }

  test("every public def in src/main has a caller in src/main") {
    val code = mainCode
    val defs = code.values.flatMap(PublicDef.findAllMatchIn(_).map(_.group(1)))
      .toSet -- Roots
    defs should not be empty
    // every identifier in src/main except the name a `def` introduces
    val used = code.values.flatMap(c =>
      Ident.findAllIn(c.replaceAll("\\bdef\\s+[A-Za-z_]\\w*", ""))).toSet
    defs.filterNot(used).toSeq.sorted shouldBe Unreached
  }

  test("every src/main file without a main has a type another src/main file names") {
    val code = mainCode
    val TopLevelType =
      """(?m)^(?:(?:final|sealed|abstract|case|implicit|private\[\w+\])\s+)*(?:class|object|trait)\s+([A-Za-z_]\w*)""".r
    val MainDef = """\bdef\s+main\s*\(""".r
    val idents = code.map { case (f, c) => f -> Ident.findAllIn(c).toSet }
    val orphans = code.collect {
      case (f, c) if MainDef.findFirstIn(c).isEmpty &&
          !TopLevelType.findAllMatchIn(c).map(_.group(1)).exists(t =>
            idents.exists { case (g, ids) => g != f && ids(t) }) => f
    }
    code.size should be > 1
    orphans.toSeq.sorted shouldBe Nil
  }

  test("SparkSession.builder appears under src/ only in GraftSession") {
    val src = new File(repoRoot, "src")
    val files = scalaFiles(src)
    files.map(_.getName) should contain("GraftSession.scala")
    val hits = files.filter(f => Files.readString(f.toPath).contains(Needle))
      .map(f => src.toPath.relativize(f.toPath).toString)
    hits shouldBe Seq("main/scala/graft/GraftSession.scala")
  }

  test("a stream writer's start() appears under src/main only in StreamingOps.start") {
    val main = new File(repoRoot, "src/main/scala")
    // a call on anything but StreamingOps itself
    val StartCall = """(?<!StreamingOps)\.start\s*\(""".r
    val hits = for {
      f <- scalaFiles(main)
      code = withoutComments(Files.readString(f.toPath))
      m <- StartCall.findAllMatchIn(code)
    } yield {
      // the def whose body holds the call: the last one opened before it
      val enclosing = """\bdef\s+([A-Za-z_]\w*)""".r
        .findAllMatchIn(code.substring(0, m.start)).map(_.group(1)).toSeq.lastOption
      s"${main.toPath.relativize(f.toPath)}:${enclosing.getOrElse("")}"
    }
    hits shouldBe Seq("graft/streaming/StreamingOps.scala:start")
  }

  test("SQL text under src/main/scala/graft/queries reaches Spark only through QueryDef.sql") {
    val dir = new File(repoRoot, "src/main/scala/graft/queries")
    val SqlCall = """(?<!QueryDef)\.sql\s*\(|\bcreateOrReplaceTempView\b""".r
    val Opened = """QueryDef(?:\.sql)?\("([^"]+)"|\bdef\s+([A-Za-z_]\w*)""".r
    val hits = for {
      f <- scalaFiles(dir)
      code = withoutComments(Files.readString(f.toPath))
      m <- SqlCall.findAllMatchIn(code)
    } yield {
      // the query (or def) whose body holds the call: the last one opened before it
      val enclosing = Opened.findAllMatchIn(code.substring(0, m.start))
        .map(o => Option(o.group(1)).getOrElse(o.group(2))).toSeq.lastOption
      s"${f.getName}:${enclosing.getOrElse("")}"
    }
    scalaFiles(dir) should not be empty
    hits.distinct.sorted shouldBe Nil
  }
}
