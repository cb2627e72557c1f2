package graft.xml

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Property tests (SURVEY.md §5 rebuild plan item b): null-propagation,
  * document order, first-wins, glob dispatch — generated inputs, invariants
  * from the reference semantics tables (§1.2, §2.1).
  *
  * Spark-level properties batch all generated cases into ONE DataFrame pass
  * so the suite stays fast.
  */
class XmlPropertySpec extends AnyFunSuite with SharedSpark {

  /** forAll stand-in over raw ScalaCheck Gens (the scalatest-scalacheck
    * bridge is not on the offline classpath). */
  private def forSamples[A](g: Gen[A], n: Int = 100)(body: A => Unit): Unit =
    (1 to n).foreach(i => g.sample.foreach(body))

  private val word = Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(8))

  test("glob matching == reference startsWith/endsWith split on first *") {
    forSamples(Gen.zip(word, word, word)) { case (p, s, name) =>
      val (exacts, globs) = XmlStax.compilePatterns(Seq(s"$p*$s"))
      assert(exacts.isEmpty)
      assert(globs.head.matches(name) ==
        (name.startsWith(p) && name.endsWith(s)))
    }
  }

  test("children: document order and subtree skipping hold for random trees") {
    val child = for {
      tag <- Gen.oneOf("keep1", "keep2", "skipme")
      txt <- Gen.numStr.map(_.take(5))
      deep <- Gen.oneOf("", "<deep><deeper>x</deeper></deep>")
    } yield (tag, s"<$tag>$txt$deep</$tag>", txt)
    forSamples(Gen.listOfN(8, child), 50) { kids =>
      val xml = kids.map(_._2).mkString("<r>", "", "</r>")
      val got = XmlStax.children(xml, Seq("keep1", "keep2"), fromRoot = true)
      val want = kids.filter(k => k._1 != "skipme")
      assert(got.map(_.tag) == want.map(_._1))
      // value concatenates text + serialized children in order
      got.zip(want).foreach { case (g, w) =>
        assert(g.value.startsWith(w._3))
      }
    }
  }

  test("null-propagation invariants over one batched DataFrame") {
    import spark.implicits._
    val cases = Seq(
      "<r><v>42</v></r>" -> Some(42),
      "<r><v></v></r>" -> None, // empty -> null
      "<r><v>junk</v></r>" -> None, // unparseable -> null
      "<r><x>1</x></r>" -> None, // missing -> null
      "<r><v> 7 </v></r>" -> Some(7), // trimmed
      "<r><v>1</v><v>2</v></r>" -> Some(1)) // first-wins
    val parser = XmlParser.struct("r")(a => a.nullInt("v"))
    val got = cases.map(_._1).toDF("x")
      .select(parser.parse(col("x")).as("r")).as[Option[Int]]
      .collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("array alternatives: random interleavings keep document order") {
    import spark.implicits._
    val item = Gen.zip(Gen.oneOf("item1", "item2"), Gen.choose(0, 99))
    val docsGen = Gen.listOfN(40, Gen.listOfN(5, item))
    val docs = docsGen.sample.get
    val xmls = docs.map(items =>
      items.map { case (t, v) => s"<$t>$v</$t>" }
        .mkString("<items>", "", "</items>"))
    val expected = docs.map(_.map { case (t, v) =>
      if (t == "item1") v else v * 10
    })
    val parser = XmlParser.array(c =>
      coalesce(c.nullInt("item1"), c.nullInt("item2") * 10))
    val got = xmls.toDF("x").select(parser.parse(col("x")).as("r"))
      .as[Seq[Int]].collect().toSeq
    assert(got == expected)
  }

  test("outer serialization re-parses to the same value (round trip)") {
    val safeText = Gen.listOf(
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('&', '<', ' ', '\'', '"')))
      .map(_.mkString.take(12))
    forSamples(Gen.zip(word, safeText)) { case (tag, txt) =>
      val esc = txt.replace("&", "&amp;").replace("<", "&lt;")
      val xml = s"<r><$tag>$esc</$tag></r>"
      val Seq(c1) = XmlStax.children(xml, Nil, fromRoot = true).toList
      // re-parse the serialized outer form: same tag, same value
      val Seq(c2) = XmlStax.children(s"<r>${c1.outer}</r>", Nil,
        fromRoot = true).toList
      assert(c2.tag == c1.tag)
      assert(c2.value == c1.value)
      assert(c1.value == txt)
    }
  }
}
