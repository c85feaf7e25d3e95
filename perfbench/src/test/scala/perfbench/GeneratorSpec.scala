package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a pure function of the seed. */
class GeneratorSpec extends AnyFunSuite {
  private def rosterDigest(seed: Long): Int = {
    val r = new Roster(seed, 2000)
    val nights = (1 to 3).map { night =>
      r.advance(night)
      val v = r.night(repeats = 5, pageSize = 100)
      (v.page(0, v.entries.length), r.checksum)
    }
    nights.hashCode
  }

  private def corpusDigest(seed: Long): Int = {
    val c = new Corpus(seed, 2000)
    (c.docs.toSeq, c.sizes).hashCode
  }

  test("same seed, same inputs; another seed, other inputs") {
    for (digest <- Seq(rosterDigest _, corpusDigest _)) {
      assert(digest(7L) == digest(7L))
      assert(digest(7L) != digest(8L))
    }
  }

  test("the roster stream repeats ids across page boundaries with a stale copy first") {
    val r = new Roster(3L, 1000)
    val v = r.night(repeats = 2, pageSize = 50)
    val pages = v.entries.grouped(50).toSeq
    pages.sliding(2).foreach { case Seq(a, b) =>
      assert(a.takeRight(2).map(_ >> 1).toSeq == b.take(2).map(_ >> 1).toSeq)
      assert(a.takeRight(2).forall(e => (e & 1) == 1) && b.take(2).forall(e => (e & 1) == 0))
    case _ => ()
    }
    assert(v.entries.filter(e => (e & 1) == 0).map(_ >> 1).toSeq == (0 until 1000))
  }

  test("every stale copy sits on an earlier page than its current copy, for any roster size") {
    for (n <- 950 to 1050) {
      val v = new Roster(3L, n).night(repeats = 2, pageSize = 50)
      val page = v.entries.indices.map(k => (v.entries(k), k / 50)).toMap
      assert(v.entries.filter(e => (e & 1) == 0).map(_ >> 1).toSeq == (0 until n))
      v.entries.filter(e => (e & 1) == 1).foreach { e =>
        assert(page(e) < page(e - 1), s"n=$n: user ${e >> 1} stale on page ${page(e)}")
      }
      assert(v.entries.grouped(50).toSeq.init.forall(_.length == 50))
    }
  }

  test("the planted corpus has the documented mix") {
    val c = new Corpus(5L, 10000)
    val s = c.sizes
    assert(s("exact_copies") == 500 && s("near_dup_variants") == 1000 && s("low_quality_docs") == 1500)
    assert(c.exactSurvivors.size == 8000)
  }
}
