package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The constellation fingerprint kernel (m11/m13/st40): exact prints of
  * a hand-built string with known frame energies, the fan-out rank that
  * lets one fan-out-6 pass stand in for fan-out 3, the empty cases, and
  * the DataFrame pass as the kernel applied row by row.
  */
class ConstellationPrintsSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One 8-char frame of `c`: energy 8·ascii(c). */
  private def frame(c: Char): String = c.toString * 8

  // frames 0..14, energies: A = 520, z = 976, y = 968, x = 960, w = 952,
  // v = 944. Peaks (left-strict, right-loose) at 1, 4, 7, 10 and 13;
  // frame 14 ties frame 13, so only the plateau's first frame is a peak.
  private val crafted = "AzAAyAAxAAwAAvv".map(frame).mkString

  private def hash(la: Long, lb: Long, dt: Int): Long = (la * 2048L + lb) * 17L + dt

  private val pseudoRandom: Seq[String] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(40)(Seq.fill(8 + rnd.nextInt(400))((32 + rnd.nextInt(95)).toChar).mkString)
  }

  test("a hand-built string gives the exact (hash, t, fo) prints at fan-out 3") {
    Multimodal.constellationPrintsLocal(crafted).toSeq shouldBe Seq(
      (hash(976, 968, 3), 1, 1), (hash(976, 960, 6), 1, 2), (hash(976, 952, 9), 1, 3),
      (hash(968, 960, 3), 4, 1), (hash(968, 952, 6), 4, 2), (hash(968, 944, 9), 4, 3),
      (hash(960, 952, 3), 7, 1), (hash(960, 944, 6), 7, 2),
      (hash(952, 944, 3), 10, 1))
  }

  test("fan-out 6 prints with fo <= 3 are exactly the fan-out 3 prints") {
    (crafted +: pseudoRandom).foreach { text =>
      val six = Multimodal.constellationPrintsLocal(text, 6)
      six.filter(_._3 <= 3).toSeq shouldBe Multimodal.constellationPrintsLocal(text, 3).toSeq
      six.map(_._3).forall(fo => fo >= 1 && fo <= 6) shouldBe true
    }
    Multimodal.constellationPrintsLocal(crafted, 6).filter(_._3 > 3).toSeq shouldBe
      Seq((hash(976, 944, 12), 1, 4))
  }

  test("null or shorter than one 8-char frame gives no prints") {
    Seq(null, "", "abcdefg").foreach { text =>
      Multimodal.constellationPrintsLocal(text) shouldBe empty
    }
  }

  test("constellationPrints over a two-doc frame is the kernel applied row by row") {
    val docs = Seq((11L, crafted), (12L, pseudoRandom.head))
    val out = Multimodal.constellationPrints(docs.toDF("doc_id", "text"), fanOut = 6)
    out.schema.map(f => f.name -> f.dataType.simpleString) shouldBe
      Seq("doc_id" -> "bigint", "hash" -> "bigint", "t" -> "int", "fo" -> "int")
    val got = out.as[(Long, Long, Int, Int)].collect().sorted.toSeq
    got shouldBe docs.flatMap { case (id, text) =>
      Multimodal.constellationPrintsLocal(text, 6).map { case (h, t, fo) => (id, h, t, fo) }
    }.sorted
    got.map(_._1).distinct.sorted shouldBe Seq(11L, 12L)
  }
}
