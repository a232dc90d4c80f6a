package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The HARD style gate — the reference builds with scalastyle and
  * `failOnViolation=true` (reference pom.xml:99-120 +
  * scalastyle-config.xml); this repo's build has the equivalent wired
  * into `sbt test`: a violation fails the build. Zero-egress means the
  * scalastyle artifact itself cannot resolve, so the two enabled
  * FILE-level checks are enforced textually with the reference's own
  * parameters:
  *
  *   - FileTabChecker: no tab characters anywhere;
  *   - FileLineLengthChecker: maxLineLength=100, ignoreImports=true
  *     (reference scalastyle-config.xml's exact configuration);
  *   - plus newline-at-EOF (scalastyle's NewLineAtEofChecker).
  *
  * The scan covers src/main and src/test — the reference sets
  * `includeTestSourceDirectory=true`.
  */
class StyleGateSpec extends AnyFunSuite with Matchers {

  private val MaxLine = 100

  private def scalaFiles(root: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = Option(root.listFiles()).getOrElse(Array.empty)
      .toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
  }

  private lazy val sources: Seq[java.io.File] =
    Seq("src/main/scala", "src/test/scala")
      .map(new java.io.File(_)).flatMap(scalaFiles)

  test("the source tree is non-empty and scanned") {
    sources.size should be >= 100
  }

  // read with Files.readAllLines (closed by construction) — a
  // Source.fromFile per file would leak ~|sources| open handles into
  // the same JVM that holds Spark's files
  private def lines(f: java.io.File): Seq[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq.zipWithIndex
  }

  test("no tab characters (FileTabChecker)") {
    val bad = for {
      f <- sources
      (line, i) <- lines(f)
      if line.contains('\t')
    } yield s"${f.getPath}:${i + 1}"
    withClue(bad.take(20).mkString("tabs at:\n", "\n", "\n")) {
      bad shouldBe empty
    }
  }

  test(s"line length <= $MaxLine, imports exempt (FileLineLengthChecker)") {
    val bad = for {
      f <- sources
      (line, i) <- lines(f)
      if line.length > MaxLine && !line.trim.startsWith("import ")
    } yield s"${f.getPath}:${i + 1}:${line.length}"
    withClue(bad.take(20).mkString("long lines at:\n", "\n", "\n")) {
      bad shouldBe empty
    }
  }

  private def mainFilesWith(needles: String*): Seq[String] = for {
    f <- sources
    if f.getPath.startsWith("src/main/")
    (line, i) <- lines(f)
    if needles.exists(line.contains)
  } yield s"${f.getPath}:${i + 1}"

  test("sessions are built only by GraftSession (and the user-facing examples)") {
    val bad = mainFilesWith("SparkSession.builder").filterNot { at =>
      at.startsWith("src/main/scala/graft/GraftSession.scala:") ||
        at.startsWith("src/main/scala/graft/examples/")
    }
    withClue(bad.mkString("session builders outside GraftSession:\n", "\n", "\n")) {
      bad shouldBe empty
    }
  }

  test("operators read no system properties") {
    val bad = mainFilesWith("sys.props", "System.getProperty")
      .filter(_.startsWith("src/main/scala/graft/operators/"))
    withClue(bad.mkString("system properties read at:\n", "\n", "\n")) {
      bad shouldBe empty
    }
  }

  test("the ANN top-k lattice stays collapsed into Similarity.annTopK") {
    val gone = Seq("ivfTopK", "ivfTopKCb", "ivfTopKTrained", "ivfTopKTrainedFp",
      "ivfTopKTrainedFpSoft", "pqTopK", "pqTopKTrained", "pqSearch", "pqSearchTrained",
      "pqEncodeTrained", "ivfPqTopK", "ivfPqTopKResidual", "ivfPqTopKResidualTrained",
      "ivfPqTopKResidualTrainedFp", "ivfPqResidualSearch")
    val bad = mainFilesWith(gone.map(n => s"def $n("): _*)
    withClue(bad.mkString("ANN entry points that AnnSpec replaces, defined at:\n", "\n", "\n")) {
      bad shouldBe empty
    }
  }

  test("every file ends with a newline (NewLineAtEofChecker)") {
    val bad = sources.filter { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      bytes.nonEmpty && bytes.last != '\n'.toByte
    }.map(_.getPath)
    withClue(bad.mkString("missing EOF newline:\n", "\n", "\n")) {
      bad shouldBe empty
    }
  }
}
