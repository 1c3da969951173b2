package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, layer: String, start: Long, end: Long) =
    Span(id, parent, 0, s"s$id", layer, start, end)

  test("self time subtracts the union of overlapping children") {
    val spans = Seq(
      span(1, 0, "other", 0, 100),
      span(2, 1, "sources", 10, 50),
      span(3, 1, "flatten", 30, 70), // overlaps span 2 by 20
      span(4, 3, "flatten", 40, 60))
    val self = Span.selfTimes(spans)
    assert(self(1) == 40) // 100 - |[10,70)|
    assert(self(2) == 40)
    assert(self(3) == 20)
    assert(self(4) == 20)
  }

  test("per-layer self times of a non-overlapping tree sum to the root") {
    val spans = Seq(
      span(1, 0, "other", 0, 1000),
      span(2, 1, "sources", 0, 300),
      span(3, 2, "sources", 0, 100),
      span(4, 2, "sources", 100, 300),
      span(5, 1, "flatten", 300, 900),
      span(6, 5, "flatten", 300, 350))
    val layers = Span.layerSelf(spans)
    assert(layers == Map("other" -> 100L, "sources" -> 300L, "flatten" -> 600L))
    assert(layers.values.sum == 1000)
  }

  test("a tracer nests spans, inherits layers and restores job groups") {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    val t = new Tracer(true, groups += _)
    t.iter = 7
    val v = t.span("iteration", "other") {
      t.span("sources.parquet", "sources")(t.plan(1) + t.execute(2))
    }
    assert(v == 3)
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("iteration").parent == 0)
    assert(byName("sources.parquet").parent == byName("iteration").id)
    assert(byName("plan").parent == byName("sources.parquet").id)
    assert(byName("plan").layer == "sources" && byName("execute").layer == "sources")
    assert(t.spans.forall(_.iter == 7))
    val (root, src) = (byName("iteration").id, byName("sources.parquet").id)
    val (plan, exec) = (byName("plan").id, byName("execute").id)
    assert(groups.toSeq == Seq(Some(s"perfbench-$root"), Some(s"perfbench-$src"),
      Some(s"perfbench-$plan"), Some(s"perfbench-$src"), Some(s"perfbench-$exec"),
      Some(s"perfbench-$src"), Some(s"perfbench-$root"), None))
  }

  test("a disabled tracer runs the body and records nothing") {
    val off = new Tracer(false, _ => fail("a disabled tracer sets no job group"))
    assert(off.span("a", "sources")(off.plan(41) + 1) == 42)
    assert(off.spans.isEmpty)
  }

  test("a span that throws is still recorded") {
    val t = new Tracer(true)
    intercept[IllegalStateException](t.span("x", "sink")(throw new IllegalStateException("boom")))
    assert(t.spans.map(_.name) == Seq("x"))
  }
}
