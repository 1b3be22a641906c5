package graft.functions

import java.math.BigInteger

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** Property checks of the hand-written 128-bit arithmetic in
  * [[PcaMomentState]] / [[PcaMomentSums]] against an independent
  * reference, `java.math.BigInteger` sums: `add`, `merge`,
  * `serialize`/`deserialize`, `update` and the decimal(38,0) result.
  *
  * Addends are random signed 64-bit values, runs that wrap the unsigned
  * low word again and again (in both directions), values at and next to
  * `Long.MinValue`/`Long.MaxValue`, and splits that leave some partial
  * states empty. Fixed seeds, so a failure reproduces. */
class PcaMomentSumsPropertySpec extends AnyFunSuite {

  private val Dim = 2
  private val Cells = Dim + Dim * (Dim + 1) / 2 // (0,-1) (0,0) (0,1) (1,-1) (1,1)
  private val Seeds = Seq(1L, 7L, 42L, 1234L, 99999L)
  private val Extremes = Seq(Long.MinValue, Long.MinValue + 1, Long.MinValue + 2,
    Long.MaxValue, Long.MaxValue - 1, Long.MaxValue - 2, -1L, 0L, 1L)

  private def agg: PcaMomentSums =
    PcaMomentSums(BoundReference(0, ArrayType(LongType, containsNull = false),
      nullable = false), Dim)

  /** The cell's value, hi·2⁶⁴ + unsigned(lo). */
  private def value(st: PcaMomentState, c: Int): BigInteger =
    BigInteger.valueOf(st.hi(c)).shiftLeft(64)
      .add(new BigInteger(java.lang.Long.toUnsignedString(st.lo(c))))

  private def big(x: Long): BigInteger = BigInteger.valueOf(x)

  /** Named addend sequences for one seed. */
  private def sequences(seed: Long): Seq[(String, Seq[Long])] = {
    val rng = new Random(seed)
    def near(x: Long): Long = x - rng.nextInt(4) + 2 // wraps at the ends on purpose
    Seq(
      "random" -> Seq.fill(300)(rng.nextLong()),
      // every add past the first carries out of (or borrows from) the low word
      "wrap up" -> Seq.fill(200)(Long.MaxValue - rng.nextInt(3)),
      "wrap down" -> Seq.fill(200)(Long.MinValue + rng.nextInt(3)),
      "wrap zigzag" -> Seq.tabulate(200)(i => if (i % 2 == 0) -1L else 1L),
      "wrap around zero" -> Seq.tabulate(200)(i =>
        if (i % 3 == 2) -(rng.nextLong() >>> 1) else Long.MaxValue),
      "extremes" -> Seq.fill(300)(Extremes(rng.nextInt(Extremes.length))),
      "near extremes" -> Seq.fill(300)(
        near(if (rng.nextBoolean()) Long.MaxValue else Long.MinValue)),
      "mixed" -> Seq.fill(300)(rng.nextInt(3) match {
        case 0 => rng.nextLong()
        case 1 => Extremes(rng.nextInt(Extremes.length))
        case _ => rng.nextInt(1000).toLong - 500
      }))
  }

  /** A fresh state with every (cell, addend) of `xs` added; n counts the addends. */
  private def filled(xs: Seq[(Int, Long)]): PcaMomentState = {
    val st = agg.createAggregationBuffer()
    xs.foreach { case (c, x) => st.add(c, x) }
    st.n = xs.length
    st
  }

  private def reference(xs: Seq[(Int, Long)]): IndexedSeq[BigInteger] =
    (0 until Cells).map(c =>
      xs.collect { case (`c`, x) => big(x) }.foldLeft(BigInteger.ZERO)(_.add(_)))

  private def assertCells(st: PcaMomentState, want: IndexedSeq[BigInteger], clue: String): Unit =
    (0 until Cells).foreach { c =>
      assert(value(st, c) == want(c), s"$clue: cell $c")
    }

  /** Every (seed, sequence) with its addends spread over the cells. */
  private def cases: Seq[(String, Random, Seq[(Int, Long)])] =
    for {
      seed <- Seeds
      (name, xs) <- sequences(seed)
    } yield {
      val rng = new Random(seed * 31 + name.hashCode)
      // one cell takes the whole run (longest carry chains), the rest spread
      (s"seed=$seed $name", rng,
        xs.map(x => (if (rng.nextInt(3) == 0) rng.nextInt(Cells) else 0) -> x))
    }

  test("add: every 128-bit cell equals the BigInteger sum of its addends") {
    cases.foreach { case (clue, _, xs) =>
      assertCells(filled(xs), reference(xs), clue)
    }
  }

  test("merge: any split, in any order, with empty parts, equals the one-state sum") {
    val a = agg
    cases.foreach { case (clue, rng, xs) =>
      val want = reference(xs)
      // 1-6 cut points, duplicates allowed, so some parts are empty
      val cuts = (Seq(0, xs.length) ++ Seq.fill(1 + rng.nextInt(6))(rng.nextInt(xs.length + 1))).sorted
      val parts = cuts.zip(cuts.drop(1)).map { case (i, j) => filled(xs.slice(i, j)) } ++
        Seq(filled(Nil))
      val shuffled = rng.shuffle(parts)
      val left = shuffled.foldLeft(a.createAggregationBuffer())((b, p) => a.merge(b, p))
      assertCells(left, want, s"$clue left fold")
      assert(left.n == xs.length, clue)
      val right = shuffled.reduceRight((p, b) => a.merge(p, b))
      assertCells(right, want, s"$clue right fold")
      assert(right.n == xs.length, clue)
    }
    val empty = a.merge(a.createAggregationBuffer(), a.createAggregationBuffer())
    assert(empty.n == 0L)
    assertCells(empty, IndexedSeq.fill(Cells)(BigInteger.ZERO), "empty ⊕ empty")
  }

  test("serialize/deserialize round-trips every cell and the count bit for bit") {
    val a = agg
    (cases.map { case (clue, _, xs) => clue -> xs } :+ ("empty" -> Nil)).foreach {
      case (clue, xs) =>
        val st = filled(xs)
        val back = a.deserialize(a.serialize(st))
        assert(back.n == st.n, clue)
        assert(back.hi.toSeq == st.hi.toSeq && back.lo.toSeq == st.lo.toSeq, clue)
        assertCells(back, reference(xs), s"$clue after round trip")
    }
  }

  test("eval emits each cell's BigInteger sum as decimal(38,0); an empty state emits no rows") {
    val a = agg
    cases.foreach { case (clue, _, xs) =>
      val want = reference(xs)
      val rows = a.eval(filled(xs)).asInstanceOf[ArrayData]
      assert(rows.numElements() == Cells + 1, clue)
      (0 until Cells).foreach { c =>
        val got = rows.getStruct(c, 3).getDecimal(2, 38, 0)
        assert(got.toJavaBigDecimal.toBigIntegerExact == want(c), s"$clue: cell $c")
      }
      val count = rows.getStruct(Cells, 3)
      assert((count.getInt(0), count.getInt(1)) == ((-2, -2)), clue)
      assert(count.getDecimal(2, 38, 0).toLong == xs.length, clue)
    }
    assert(a.eval(a.createAggregationBuffer()).asInstanceOf[ArrayData].numElements() == 0)
    assert(a.eval(a.merge(a.createAggregationBuffer(), a.createAggregationBuffer()))
      .asInstanceOf[ArrayData].numElements() == 0)
  }

  test("update + merge + serialize fold vectors into the exact first and second moments") {
    // components up to ±floor(sqrt(Long.MaxValue)), so every product
    // q_i·q_j is an exact 64-bit addend while the sums run far past 64 bits
    val bound = 3037000499L
    val a = agg
    Seeds.foreach { seed =>
      val rng = new Random(seed)
      def comp(): Long = rng.nextInt(3) match {
        case 0 => if (rng.nextBoolean()) bound else -bound
        case 1 => ((rng.nextDouble() * 2 - 1) * bound).toLong
        case _ => rng.nextInt(2001).toLong - 1000
      }
      val vecs = Seq.fill(400)(Array(comp(), comp()))
      // the (i, j) cell layout of the aggregate: (0,-1) (0,0) (0,1) (1,-1) (1,1)
      def sum(f: Array[Long] => BigInteger) = vecs.map(f).foldLeft(BigInteger.ZERO)(_.add(_))
      val want = IndexedSeq(
        sum(v => big(v(0))), sum(v => big(v(0)).multiply(big(v(0)))),
        sum(v => big(v(0)).multiply(big(v(1)))),
        sum(v => big(v(1))), sum(v => big(v(1)).multiply(big(v(1)))))
      def row(v: Array[Long]): InternalRow = new GenericInternalRow(Array[Any](ArrayData.toArrayData(v)))
      val parts = vecs.grouped(1 + rng.nextInt(150)).map { g =>
        val st = g.foldLeft(a.createAggregationBuffer())((b, v) => a.update(b, row(v)))
        a.deserialize(a.serialize(st))
      }.toSeq
      val total = parts.foldLeft(a.createAggregationBuffer())((b, p) => a.merge(b, p))
      assert(total.n == vecs.length)
      assertCells(total, want, s"seed=$seed")
      val rows = a.eval(total).asInstanceOf[ArrayData]
      (0 until Cells).foreach { c =>
        assert(rows.getStruct(c, 3).getDecimal(2, 38, 0).toJavaBigDecimal.toBigIntegerExact ==
          want(c), s"seed=$seed: cell $c")
      }
    }
  }
}
