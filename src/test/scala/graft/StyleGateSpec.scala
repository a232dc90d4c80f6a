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

  /** `path:line` and text of every src/main line holding a needle. */
  private def mainLinesWith(needles: String*): Seq[(String, String)] = for {
    f <- sources
    if f.getPath.startsWith("src/main/")
    (line, i) <- lines(f)
    if needles.exists(line.contains)
  } yield (s"${f.getPath}:${i + 1}", line)

  private def mainFilesWith(needles: String*): Seq[String] =
    mainLinesWith(needles: _*).map(_._1)

  test("sessions are built only by GraftSession (and the user-facing examples)") {
    val bad = mainFilesWith("SparkSession.builder").filterNot { at =>
      at.startsWith("src/main/scala/graft/GraftSession.scala:") ||
        at.startsWith("src/main/scala/graft/examples/")
    }
    withClue(bad.mkString("session builders outside GraftSession:\n", "\n", "\n")) {
      bad shouldBe empty
    }
  }

  // environment variables count too: a knob nothing sets is a probe
  // left behind, and the streaming operators are operators
  test("operators read no system properties") {
    val bad = mainFilesWith("sys.props", "System.getProperty", "sys.env", "System.getenv")
      .filter(at => at.startsWith("src/main/scala/graft/operators/") ||
        at.startsWith("src/main/scala/graft/streaming/"))
    withClue(bad.mkString("system properties or environment read at:\n", "\n", "\n")) {
      bad shouldBe empty
    }
  }

  test("every operator cache goes through CacheScope.persist") {
    val raw = mainFilesWith(".persist(", ".cache()")
      .filterNot(_.startsWith("src/main/scala/graft/operators/CacheScope.scala:"))
    val scoped = mainFilesWith("scope: CacheScope", "scope: graft.operators.CacheScope",
      "new CacheScope", "sessionScope", ".own(")
    withClue(raw.mkString("persist outside CacheScope at:\n", "\n", "\n") +
        scoped.mkString("caller-owned cache scopes at:\n", "\n", "\n")) {
      (raw ++ scoped) shouldBe empty
    }
  }

  test("every lineage cut goes through CacheScope.checkpoint") {
    val raw = mainFilesWith("localCheckpoint", ".checkpoint(")
      .filterNot(_.startsWith("src/main/scala/graft/operators/CacheScope.scala:"))
    withClue(raw.mkString("checkpoint outside CacheScope at:\n", "\n", "\n")) {
      raw shouldBe empty
    }
  }

  // a conf set on a shared session changes every other query on it, so
  // all of src/main counts: only GraftSession, which builds the session,
  // and the streaming runner, on its private clone of the caller's
  // session, set one
  test("operators set no session conf") {
    val cloneWidth = """clone.conf.set("spark.sql.shuffle.partitions", StatePartitions)"""
    val bad = mainLinesWith("conf.set(").filterNot { case (at, line) =>
      at.startsWith("src/main/scala/graft/GraftSession.scala:") ||
        (at.startsWith("src/main/scala/graft/streaming/Streaming.scala:") &&
          line.trim == cloneWidth)
    }.map(_._1)
    withClue(bad.mkString("session conf set at:\n", "\n", "\n")) {
      bad shouldBe empty
    }
  }

  // a temp dir outside the session registry outlives its query
  test("scratch dirs and shutdown hooks belong to CacheScope") {
    val bad = mainFilesWith("addShutdownHook", "createTempDirectory")
      .filterNot(_.startsWith("src/main/scala/graft/operators/CacheScope.scala:"))
    withClue(bad.mkString("scratch dir or shutdown hook outside CacheScope at:\n", "\n",
        "\n")) {
      bad shouldBe empty
    }
  }

  // the shard fleet loads its arms concurrently through Streaming.perShard
  test("Future.sequence is spelled once, in Streaming") {
    val sites = mainFilesWith("Future.sequence")
    withClue(sites.mkString("Future.sequence at:\n", "\n", "\n")) {
      sites should have size 1
      sites.head should startWith("src/main/scala/graft/streaming/Streaming.scala:")
    }
  }

  // a temp view on the caller's session outlives its query and races a
  // concurrent one: views are named only on NorthStar.sqlOver's clone
  test("temp views are registered only on sqlOver's session clone") {
    val cloneView = "Bridge.ofRows(clone, Bridge.analyzed(df)).createOrReplaceTempView(name)"
    val bad = mainLinesWith("createOrReplaceTempView(").filterNot { case (at, line) =>
      at.startsWith("src/main/scala/graft/queries/NorthStar.scala:") && line.trim == cloneView
    }.map(_._1)
    withClue(bad.mkString("temp view registered at:\n", "\n", "\n")) {
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

  test("ConnectedComponents owns the one union-find and its edge gate") {
    val cc = "src/main/scala/graft/operators/ConnectedComponents.scala:"
    val unionFinds = mainFilesWith("UnionFind[").filterNot(at =>
      at.startsWith(cc) || at.startsWith("src/main/scala/graft/core/UnionFind.scala:"))
    val gates = mainFilesWith("driverMaxEdges: Long").filterNot(_.startsWith(cc))
    withClue(unionFinds.mkString("union-find outside ConnectedComponents at:\n", "\n", "\n") +
        gates.mkString("edge-gate parameter outside ConnectedComponents at:\n", "\n", "\n")) {
      (unionFinds ++ gates) shouldBe empty
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
