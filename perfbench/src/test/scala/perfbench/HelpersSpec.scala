package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("percentile interpolates between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(Seq(7.0), 0.99) == 7.0)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.Tail(0.99, Stats.percentile(xs, 0.99), 1000))
    assert(Stats.tail((1 to 200).map(_.toDouble)).p == 0.95)
    assert(Stats.tail((1 to 40).map(_.toDouble)).p == 0.75)
    val few = Stats.tail((1 to 5).map(_.toDouble))
    assert(few.p == 0.5 && few.n == 5 && few.value == 3.0)
    assert(Stats.Tail(0.999, 0, 1).label == "p99.9" && Stats.Tail(0.95, 0, 1).label == "p95.0")
  }

  test("self time is the span minus the union of its children") {
    val parent = Span(1, 0, 1, "op", 0, 100)
    assert(Spans.selfNs(parent, Nil) == 100)
    val kids = Seq(Span(2, 1, 1, "a", 10, 30), Span(3, 1, 1, "b", 20, 50), Span(4, 1, 1, "c", 70, 80))
    assert(Spans.selfNs(parent, kids) == 100 - 40 - 10)
    // a child running past its parent's end only counts inside the parent
    assert(Spans.selfNs(parent, Seq(Span(5, 1, 1, "d", 90, 130))) == 90)
  }

  test("span summary reports totals and self times per name") {
    val spans = Seq(Span(1, 0, 1, "op.full", 0, 1000000000L), Span(2, 1, 1, "stream.batches", 0, 250000000L))
    val s = Spans.summary(spans)
    assert(s("op.full") == ((1, 1.0, 0.75)))
    assert(s("stream.batches") == ((1, 0.25, 0.25)))
  }

  test("the generator is a pure function of seed, file and row") {
    val t = Tables.survey(labels = true)
    val a = Gen.rows(t, 42, 3, 20000).map(_.toSeq).toSeq
    val b = Gen.rows(t, 42, 3, 20000).map(_.toSeq).toSeq
    assert(a == b)
    assert(a.size == 20000)
    assert(Gen.rows(t, 43, 3, 100).map(_.toSeq).toSeq != a.take(100))
  }

  test("expectations equal sums recomputed from the generated rows") {
    val t = Tables.survey(labels = true)
    val rows = Gen.rows(t, 7, 1, 10000).toSeq
    val e = Gen.expect(t, 7, 1, 10000)
    assert(e.all.rows == 10000)
    val inc = t.index("income")
    val valid = rows.map(_(inc)).collect { case d: java.lang.Double if !Gen.isExtended(d) => d.doubleValue }
    assert(e.all.count(inc) == valid.size && e.all.sum(inc) == valid.sum)
    val region = t.index("region")
    val labels = Seq("North", "North East", "East", "South East", "South", "South West", "West",
      "North West", "Central")
    assert(e.all.labelLen(region) == rows.map(r => labels(r(region).asInstanceOf[Double].toInt - 1).length).sum)
    val q1 = t.index("q1")
    val pass = rows.filter(r => r(q1) match {
      case d: java.lang.Double => !Gen.isExtended(d) && d >= 4
      case _ => false
    })
    assert(e.pred.rows == pass.size && pass.nonEmpty)
    // missing cells of both kinds occur, and never count
    val ages = rows.map(_(t.index("age")))
    assert(ages.contains(null))
    assert(ages.exists { case d: java.lang.Double => Gen.isExtended(d); case _ => false })
    assert(e.all.count(t.index("age")) == ages.count {
      case d: java.lang.Double => !Gen.isExtended(d); case _ => false
    })
  }

  test("extended missings encode to each format's tagged-missing pattern") {
    assert(Gen.extendedFor(Fmt.Dta, 1, byte = true) == 0x66.toByte) // Stata byte .a
    assert(Gen.extendedFor(Fmt.Dta, 1) == null) // Stata double .a reads as NaN: not generated
    val sas = java.lang.Double.doubleToRawLongBits(Gen.extendedFor(Fmt.Sas, 1).asInstanceOf[Double])
    assert(((sas >> 40) & 0xff) == 0xBE && java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(sas))) // SAS .A
    assert(Gen.extendedFor(Fmt.Sav, 3) == -9.0)
    assert(Gen.extendedFor(Fmt.Plain, 2) == null)
  }

  test("pipeline tables are seeded and carry overlapping documents") {
    val a = Pipeline.rows(5)
    assert(a.map(t => (t._1, t._3)) == Pipeline.rows(5).map(t => (t._1, t._3)))
    assert(a.map(_._3) != Pipeline.rows(6).map(_._3))
    val byName = a.map(t => t._1 -> t._3).toMap
    assert(byName("lineitem").size == Pipeline.LineItems && byName("orders").size == Pipeline.Orders)
    // every line ships after its order was placed
    val placed = byName("orders").map(r => r.getLong(0) -> r.getTimestamp(4)).toMap
    assert(byName("lineitem").forall(r => r.getTimestamp(10).after(placed(r.getLong(0)))))
    val docs = byName("documents").map(r => r.getString(1))
    assert(byName("documents").forall(r => r.getLong(4) == r.getString(1).length))
    // some 20-word window occurs in two documents (the planted copies)
    val windows = docs.zipWithIndex.flatMap { case (t, i) =>
      t.split(" ").sliding(20).filter(_.length == 20).map(w => w.mkString(" ") -> i).toSeq.distinct
    }
    assert(windows.groupBy(_._1).exists(_._2.map(_._2).distinct.size > 1))
  }

  test("json rendering escapes strings and nests collections") {
    assert(Json.render(Map("a" -> Seq(1, 2.5, "x\"y"), "b" -> Double.NaN)) == """{"a":[1,2.5,"x\"y"],"b":null}""")
  }
}
