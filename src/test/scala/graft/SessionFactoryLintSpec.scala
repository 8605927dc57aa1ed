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
  * Reachability: the oracle and the bench check only what `SparkEntry`
  * reaches, so a public operator that nothing in `src/main` calls is
  * untested by either. Each such function needs a place on [[Unreached]]. */
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

  /** Public defs under operators/, streaming/ and functions/ that no code
    * in src/main references. Each keeps a SURVEY.md §2 capability that no
    * declared query covers yet; the comment names the query that should. */
  private val Unreached = Seq(
    // Streaming "watermark dedup (id + content)": stream_dedup_content
    // covers content; a stream_dedup_id row should cover the id form
    "streamingDedup",
    // Streaming "streaming ingest curation": a stream_curate row
    "streamingCurate",
    // Streaming "transformWithState typed-state running totals": a
    // stream_running_totals row, batch dual window_running_sum
    "runningTotals",
    // Streaming "event-time-TIMER sessionization": stream_sessions runs
    // the flatMapGroupsWithState form; a stream_sessions_timers row
    "sessionizeWithTimers",
    // Streaming "idempotent foreachBatch parquet sink": a stream_* row
    // that writes through it (stream_ann_ingest has its own sink)
    "foreachBatchParquetSink",
    // Dedup "span-coverage + removal": dedup_span_coverage covers the
    // metric; a dedup_span_removal row should cover the rewrite
    "removeDuplicatedSpans",
    // Dedup "containment-STAGED": dedup_containment runs the one-pass
    // prefix join; a staged dedup_containment row at passes > 1
    "containmentPairsPrefixStaged",
    // Dedup "containment": the unfiltered reference the prefix path is
    // spec-checked against (NewOpsR8Spec); dedup_containment covers the
    // capability through the prefix path
    "containmentPairs").sorted

  private val PublicDef = """(?m)^  (?:final |@inline )*def ([A-Za-z_]\w*)""".r

  private def withoutComments(code: String): String =
    code.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("every public def in operators/, streaming/ and functions/ has a caller in src/main") {
    val main = new File(repoRoot, "src/main/scala")
    val code = scalaFiles(main).map(f => f.getCanonicalPath -> withoutComments(Files.readString(f.toPath))).toMap
    val defs = for {
      dir <- Seq("operators", "streaming", "functions")
      f <- scalaFiles(new File(main, s"graft/$dir"))
      m <- PublicDef.findAllMatchIn(code(f.getCanonicalPath))
    } yield m.group(1)
    defs should not be empty
    // every identifier in src/main except the name a `def` introduces
    val used = code.values.flatMap(c =>
      "[A-Za-z_]\\w*".r.findAllIn(c.replaceAll("\\bdef\\s+[A-Za-z_]\\w*", ""))).toSet
    defs.distinct.filterNot(used).sorted shouldBe Unreached
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
}
