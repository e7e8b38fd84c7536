package graft.perfbench

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import Stats.{Job, Span, Write}

/** The benchmark's arithmetic, driven by synthetic listener events; no
  * Spark job runs here.
  */
class StatsSpec extends AnyFlatSpec with Matchers {

  "tailPercentile" should "report the highest percentile with at least ten samples beyond it" in {
    Stats.tailPercentile(19) shouldBe None
    Stats.tailPercentile(20) shouldBe Some(50)
    Stats.tailPercentile(39) shouldBe Some(50)
    Stats.tailPercentile(40) shouldBe Some(75)
    Stats.tailPercentile(99) shouldBe Some(75)
    Stats.tailPercentile(100) shouldBe Some(90)
    Stats.tailPercentile(199) shouldBe Some(90)
    Stats.tailPercentile(200) shouldBe Some(95)
    Stats.tailPercentile(1000) shouldBe Some(99)
  }

  "quantile" should "interpolate between order statistics" in {
    Stats.median(Seq(3.0, 1.0, 2.0)) shouldBe 2.0
    Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) shouldBe 2.5
    Stats.quantile((1 to 11).map(_.toDouble), 0.9) shouldBe 10.0 +- 1e-12
    Stats.quantile(Seq(7.0), 0.9) shouldBe 7.0
    an[IllegalArgumentException] should be thrownBy Stats.quantile(Nil, 0.5)
  }

  "failRatio" should "count failed ops, check failures included, over attempted ops" in {
    Stats.failRatio(10, 0) shouldBe 0.0
    Stats.failRatio(8, 2) shouldBe 0.25
    Stats.failRatio(0, 0) shouldBe 0.0
    an[IllegalArgumentException] should be thrownBy Stats.failRatio(2, 3)
  }

  "selfTime" should "subtract the union of the children, clipped to the parent" in {
    val parent = Span(100, 200)
    Stats.selfTime(parent, Nil) shouldBe 100
    Stats.selfTime(parent, Seq(Span(110, 120), Span(150, 170))) shouldBe 70
    // overlapping children count once
    Stats.selfTime(parent, Seq(Span(110, 140), Span(120, 150))) shouldBe 60
    // children sticking out of the parent count only inside it
    Stats.selfTime(parent, Seq(Span(50, 130), Span(190, 260))) shouldBe 60
    // a child entirely outside covers nothing
    Stats.selfTime(parent, Seq(Span(0, 90), Span(200, 300))) shouldBe 100
    Stats.selfTime(parent, Seq(Span(0, 1000))) shouldBe 0
  }

  "writeLayer" should "assign raw writes to sinks and gold writes to gold by output path" in {
    val wh = "/x/run/wh-2"
    Stats.writeLayer(wh, "file:/x/run/wh-2/raw/lineitem") shouldBe Some("sinks")
    Stats.writeLayer(wh, "/x/run/wh-2/gold/gold_lineitem_daily") shouldBe Some("gold")
    Stats.writeLayer(wh + "/", "file:///x/run/wh-2//raw/orders/") shouldBe Some("sinks")
    Stats.writeLayer(wh, "/x/run/wh-2/logs/lineitem") shouldBe None
    Stats.writeLayer(wh, "/x/run/wh-20/raw/lineitem") shouldBe None
    Stats.writeLayer(wh, "/elsewhere/raw/lineitem") shouldBe None
  }

  "layerTimes" should "split one table's span into sinks, gold, readback, extract and the rest" in {
    val wh = "/w"
    val table = Span(0, 1000)
    val writes = Seq(
      Write(Span(100, 400), 7L, "file:/w/raw/lineitem"),
      Write(Span(600, 900), 9L, "file:/w/gold/gold_lineitem_daily"))
    val jobs = Seq(
      Job(Span(10, 60), "count at Pipeline.scala:1", None), // the bounds aggregate
      Job(Span(120, 380), "parquet at Sinks.scala:1", Some(7L)), // inside the raw write
      Job(Span(420, 480), "Listing leaf files and directories for 40 paths:", None),
      Job(Span(500, 560), "count at Pipeline.scala:2", Some(8L)),
      Job(Span(610, 880), "parquet at Materializer.scala:1", Some(9L)))
    val t = Stats.layerTimes(table, wh, writes, jobs)
    t("sinks") shouldBe 300
    t("gold") shouldBe 300
    t("readback") shouldBe 60
    t("extract") shouldBe 110
    t("unassigned") shouldBe 230
    t.values.sum shouldBe table.length
  }

  "listedDirs" should "read the directory count from a listing job's description" in {
    Stats.isListing("Listing leaf files and directories for 2499 paths:<br/>file:/w/raw/a=1") shouldBe true
    Stats.listedDirs("Listing leaf files and directories for 2499 paths:<br/>file:/w") shouldBe 2499
    Stats.isListing("count at Pipeline.scala:91") shouldBe false
    Stats.listedDirs("count at Pipeline.scala:91") shouldBe 0
  }
}
