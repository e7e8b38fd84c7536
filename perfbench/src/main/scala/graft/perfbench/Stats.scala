package graft.perfbench

/** The benchmark's own arithmetic, free of Spark so a spec can drive it
  * with synthetic events.
  */
object Stats {

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The percentiles a timing may be reported at, highest first. */
  val ReportablePercentiles: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The highest percentile in [[ReportablePercentiles]] that leaves at
    * least ten samples beyond it, or None when even the median does not
    * (fewer than 20 samples).
    */
  def tailPercentile(n: Int): Option[Int] =
    ReportablePercentiles.find(p => n * (100 - p) / 100.0 >= 10.0)

  /** Failed operations over attempted ones; a failed output check counts
    * as a failed operation, so `failed` is the number of operations that
    * threw or failed their check, each counted once.
    */
  def failRatio(attempted: Int, failed: Int): Double = {
    require(attempted >= 0 && failed >= 0 && failed <= attempted,
      s"failed $failed of attempted $attempted")
    if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  /** Half-open interval [start, end) in milliseconds. */
  final case class Span(start: Long, end: Long) {
    require(end >= start, s"span ends before it starts: $start..$end")
    def length: Long = end - start
  }

  /** Total length of the union of `spans` clipped to `within`. */
  def covered(within: Span, spans: Seq[Span]): Long = {
    val clipped = spans
      .map(s => Span(math.max(s.start, within.start), math.min(math.max(s.end, within.start), within.end)))
      .filter(s => s.end > s.start)
      .sortBy(_.start)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { s =>
      if (s.start > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s.start; curEnd = s.end
      } else curEnd = math.max(curEnd, s.end)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its length minus the part of it that its child
    * spans cover (children may overlap each other or stick out of it).
    */
  def selfTime(parent: Span, children: Seq[Span]): Long =
    parent.length - covered(parent, children)

  /** The layer a write belongs to, from its output path relative to the
    * warehouse: `raw/...` is the sink write, `gold/...` the gold
    * materialization, anything else is not an ETL table write.
    */
  def writeLayer(warehouse: String, outputPath: String): Option[String] = {
    def norm(p: String) = p.stripPrefix("file:").replaceAll("/+", "/").stripSuffix("/")
    val root = norm(warehouse) + "/"
    val p = norm(outputPath)
    if (!p.startsWith(root)) None
    else p.stripPrefix(root).split('/').headOption.collect {
      case "raw" => "sinks"
      case "gold" => "gold"
    }
  }

  /** What the layer accounting needs to know about one Spark job. */
  final case class Job(span: Span, description: String, executionId: Option[Long])

  /** What it needs to know about one SQL write command. */
  final case class Write(span: Span, executionId: Long, outputPath: String)

  /** Time per layer inside one table run: writes go to `sinks` or `gold`
    * by output path; jobs outside any write are `readback` when they list
    * files and `extract` otherwise; whatever of the table's span no event
    * covers is `unassigned`. Jobs of a write's own execution are part of
    * that write and are not counted again.
    */
  def layerTimes(table: Span, warehouse: String, writes: Seq[Write],
      jobs: Seq[Job]): Map[String, Long] = {
    val writeIds = writes.map(_.executionId).toSet
    val free = jobs.filterNot(j => j.executionId.exists(writeIds))
    val (listing, other) = free.partition(j => isListing(j.description))
    val byLayer: Map[String, Seq[Span]] =
      writes.groupBy(w => writeLayer(warehouse, w.outputPath).getOrElse("extract"))
        .map { case (k, ws) => k -> ws.map(_.span) }
    val spans = Map(
      "sinks" -> byLayer.getOrElse("sinks", Nil),
      "gold" -> byLayer.getOrElse("gold", Nil),
      "readback" -> listing.map(_.span),
      "extract" -> (other.map(_.span) ++ byLayer.getOrElse("extract", Nil)))
    spans.map { case (k, ss) => k -> covered(table, ss) } +
      ("unassigned" -> selfTime(table, spans.values.flatten.toSeq))
  }

  /** Spark names its parallel partition-discovery jobs this way. */
  def isListing(description: String): Boolean =
    description != null && description.startsWith("Listing leaf files and directories")

  /** Directories a listing job covers, from its description
    * ("Listing leaf files and directories for 42 paths:...").
    */
  def listedDirs(description: String): Long =
    """for (\d+) paths""".r.findFirstMatchIn(Option(description).getOrElse(""))
      .map(_.group(1).toLong).getOrElse(0L)
}
