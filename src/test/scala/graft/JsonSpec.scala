package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.plans.Json

/** Round-trip property for the persistence JSON layer: every value shape the
  * writer (`Json.str/num/bool/obj/arr`) can emit parses back to an equal
  * structure — the invariant every save/load pair (Cleaner, GapEncoder,
  * Learner, TableVectorizer) rests on. Scalacheck generators with fixed
  * seeds, driver-pure (no Spark jobs).
  */
class JsonSpec extends AnyFunSuite {

  private def render(v: Any): String = v match {
    case null                                   => "null"
    case s: String                              => Json.str(s)
    case l: Long                                => Json.num(l)
    case d: Double                              => Json.num(d)
    case b: Boolean                             => Json.bool(b)
    case xs: List[_]                            => Json.arr(xs.map(render))
    case m: Map[String @unchecked, _]           =>
      Json.obj(m.toSeq.map { case (k, x) => k -> render(x) })
  }

  // strings exercise escapes: quotes, backslashes, control chars, unicode
  private val jsonString: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar,
    1 -> Gen.oneOf('"', '\\', '/', '\n', '\r', '\t', '\b', '\f'),
    1 -> Gen.choose(0x20.toChar, 0x7e.toChar),
    1 -> Gen.choose(0x00a0.toChar, 0x30ff.toChar),
    1 -> Gen.choose(0.toChar, 0x1f.toChar))).map(_.mkString.take(40))

  private val scalar: Gen[Any] = Gen.frequency(
    1 -> Gen.const(null),
    4 -> jsonString,
    3 -> Gen.choose(Long.MinValue, Long.MaxValue),
    3 -> Gen.choose(-1e12, 1e12).suchThat(d => !d.isNaN && !d.isInfinite),
    1 -> Gen.oneOf(true, false))

  // draw the element count first: `listOf(g).map(_.take(5))` would build
  // a default-sized list (up to 100 subtrees) per level and drop the rest
  private def upTo5[A](g: Gen[A]): Gen[List[A]] =
    Gen.choose(0, 5).flatMap(Gen.listOfN(_, g))

  private def tree(depth: Int): Gen[Any] =
    if (depth <= 0) scalar
    else Gen.frequency(
      3 -> scalar,
      2 -> upTo5(tree(depth - 1)),
      2 -> upTo5(Gen.zip(jsonString, tree(depth - 1))).map(_.toMap))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("render -> parse round-trips arbitrary persistence-shaped values") {
    samples(tree(3), 200).foreach { v =>
      val json = render(v)
      val back = Json.parse(json)
      assert(back === v, s"round-trip mismatch for $json")
    }
  }

  test("parse rejects malformed input") {
    Seq("{", "[1,", "\"abc", "{\"a\" 1}", "tru", "1 2", "{\"a\":}")
      .foreach { bad =>
        intercept[IllegalArgumentException](Json.parse(bad))
      }
  }

  test("doubles keep numeric identity through the writer's toString form") {
    samples(Gen.choose(-1e9, 1e9), 100).foreach { d =>
      assert(Json.parse(Json.num(d)) === d)
    }
  }
}
