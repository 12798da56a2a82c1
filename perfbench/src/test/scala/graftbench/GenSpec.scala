package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  private def matrices(seed: Long): Array[Byte] = {
    val rnd = new SplittableRandom(seed)
    (0 until 20).map(k => Gen.smallGraph(k, rnd).matrixText).mkString.getBytes("US-ASCII")
  }

  private def rmatBytes(seed: Long): Array[Byte] = {
    val e = Gen.rmat(10, 4096, new SplittableRandom(seed))
    val buf = java.nio.ByteBuffer.allocate(16 * e.size)
    e.pairs.foreach { case (s, d) => buf.putLong(s).putLong(d) }
    buf.array()
  }

  test("the same seed gives the same bytes; another seed does not") {
    assert(matrices(7) sameElements matrices(7))
    assert(!(matrices(7) sameElements matrices(8)))
    assert(rmatBytes(7) sameElements rmatBytes(7))
    assert(!(rmatBytes(7) sameElements rmatBytes(8)))
    val a = Gen.opKinds(Workload.Kinds, new SplittableRandom(3)).take(50).toList
    assert(a == Gen.opKinds(Workload.Kinds, new SplittableRandom(3)).take(50).toList)
  }

  test("generated bytes are pinned, so a generator change shows") {
    assert(sha(matrices(1)) == "46b004e4e5d686b4f853b6529338d6f0c06b4b641cd172e168aef629a3195325")
    assert(sha(rmatBytes(1)) == "3a789b15cda76fb88610bb44299bd3b1ebdfcebfdfdcc0cbcd4b9e10d383f906")
  }

  test("small graphs stay in their stratum of the reference envelope") {
    val rnd = new SplittableRandom(11)
    (0 until 20).foreach { k =>
      val gs = Seq.fill(25)(Gen.smallGraph(k, rnd))
      gs.foreach { g =>
        assert(g.n >= 2 + 99 * k / 20 && g.n <= 2 + (99 * k + 98) / 20 && g.n <= 100)
        assert(g.edges.nonEmpty)
        assert(g.edges.forall { case (s, d) => s >= 0 && s < g.n && d >= 0 && d < g.n })
        assert(g.edges.distinct.length == g.edges.length)
      }
    }
    assert(Gen.smallGraph(0, rnd).n <= 6 && Gen.smallGraph(19, rnd).n >= 95)
    // stratum 3 is self-loop-only, as in the reference's G1
    assert(Gen.smallGraph(3, rnd).edges.forall { case (s, d) => s == d })
  }

  test("matrix text is the reference format: n, then n rows of n cells") {
    val g = SmallGraph(3, Array((0L, 1L), (2L, 2L)))
    assert(g.matrixText == "3\n0 1 0\n0 0 0\n0 0 1\n")
  }

  test("R-MAT edges fall in range and skew toward low ids") {
    val e = Gen.rmat(12, 50000, new SplittableRandom(5))
    assert(e.size == 50000)
    assert(e.src.forall(v => v >= 0 && v < 4096) && e.dst.forall(v => v >= 0 && v < 4096))
    // quadrant a (= .57) puts most sources in the lower half of the ids
    assert(e.src.count(_ < 2048) > 0.7 * e.size)
  }

  test("op kinds come in shuffled blocks with fixed shares") {
    val block = Seq("write", "write", "bfs", "dfs", "cc")
    val ks = Gen.opKinds(block, new SplittableRandom(9)).take(5 * 40).toSeq
    ks.grouped(5).foreach(b => assert(b.sorted == block.sorted))
    assert(ks.grouped(5).distinct.size > 1)
  }
}
